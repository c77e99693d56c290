"""Physical-plan regression tests: the scale properties argued in
ARCHITECTURE.md must stay true as the code evolves."""

from __future__ import annotations

import pytest

from csvtool_spark import queries as catalog
from tests.conftest import SF_SMALL

#: window+shadow merged: plan pins survive window promotions/demotions
#: (round-10: a pin bound to SHADOW_QUERIES broke when its row promoted)
ALL_QUERIES = {**catalog.SHADOW_QUERIES, **catalog.QUERIES}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_single_exchange_with_pushdown(spark):
    df = catalog.QUERIES["q1_pricing_summary"](spark, SF_SMALL)
    plan = _plan(df)
    assert plan.count("Exchange") == 1          # one partial→final agg shuffle
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "SortMergeJoin" not in plan


def test_q3_dims_broadcast(spark):
    plan = _plan(catalog.QUERIES["q3_shipping_priority"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # filter reached the scan


def test_column_pruning_reaches_parquet_scan(spark):
    plan = _plan(ALL_QUERIES["q_orderby_topk"](spark, SF_SMALL))
    # only the two projected columns are read
    assert "ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>" in plan


def test_topk_is_take_ordered(spark):
    plan = _plan(ALL_QUERIES["q_orderby_topk"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan


def test_csv_dialect_prunes_columns(spark):
    from csvtool_spark.engine import CsvEngine

    eng = CsvEngine(spark)
    df = eng.sql(
        "select plate from '/root/repo/tests/data/violations.csv' where fine > 400"
    )
    plan = _plan(df)
    assert "Scan csv" in plan
    # 2 of 12 columns reach the scan
    seg = plan[plan.index("Scan csv"):].splitlines()[0]
    assert "fine" in seg and "plate" in seg and "ticket" not in seg


def test_dialect_group_is_hash_aggregate(spark):
    from csvtool_spark.engine import CsvEngine

    eng = CsvEngine(spark)
    df = eng.sql(
        "select state count(*) as n from '/root/repo/tests/data/violations.csv' group by state"
    )
    plan = _plan(df)
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan


def test_dialect_sjoin_broadcasts(spark):
    from csvtool_spark.engine import CsvEngine

    eng = CsvEngine(spark)
    df = eng.sql(
        "nh select top 5 from '/root/repo/tests/data/cities.csv' c "
        "sjoin '/root/repo/tests/data/regions.csv' r on c.c3 = r.c1"
    )
    assert "BroadcastHashJoin" in _plan(df)


def test_q5_no_forced_broadcast_but_aqe_broadcasts(spark):
    # no F.broadcast hint on SF-scaling tables (customer/supplier) — at
    # bench SF the statistics still pick broadcast joins, and at cluster
    # scale AQE may fall back to shuffle joins instead of OOMing a forced
    # broadcast. Executed (AQE-final) plan: all joins broadcast, no SMJ.
    df = catalog.QUERIES["q5_local_suppliers"](spark, SF_SMALL)
    df.write.mode("overwrite").format("noop").save()
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_json_props_prunes_to_two_columns(spark):
    from csvtool_spark.scale_queries import q_json_props

    plan = _plan(q_json_props(spark, SF_SMALL))
    # JSON extraction must not widen the scan: only the payload + group key
    assert "ReadSchema: struct<event_type:string,props:string>" in plan


def test_ann_quantized_broadcasts_query_side(spark):
    from csvtool_spark.scale_queries import q_ann_sq

    plan = _plan(q_ann_sq(spark, SF_SMALL))
    # 1-row bounds and query-vector sides ride broadcasts; corpus never shuffles
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_mixture_corpus_never_shuffles(spark):
    from csvtool_spark.scale_queries import q_mixture

    plan = _plan(q_mixture(spark, SF_SMALL))
    # rates broadcast onto the corpus scan; the only Exchanges are the
    # tiny source-keyed aggregates — the corpus itself is never hash-
    # partitioned by row key
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning(doc_id" not in plan
    # the outer corpus branch reads only the two needed columns
    assert "ReadSchema: struct<doc_id:bigint,source:string>" in plan


def test_lm_score_no_cartesian_and_pruned_scan(spark):
    from csvtool_spark.scale_queries import q_lm_score

    plan = _plan(q_lm_score(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_no_cartesian_product_in_any_catalog_plan(spark):
    """Blanket plan-quality net over the ENTIRE catalog (registered +
    shadow): a CartesianProduct anywhere means some join lost its keys —
    the classic silent 100×-scale killer. (1-row broadcast nested loops
    are fine and common; CartesianProduct is not.)"""
    pool = {**catalog.SHADOW_QUERIES, **catalog.QUERIES}
    offenders = []
    for name, fn in pool.items():
        try:
            plan = _plan(fn(spark, SF_SMALL))
        except Exception as exc:  # building the plan must not crash either
            offenders.append(f"{name}: plan build failed: {exc}")
            continue
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_nb_score_broadcasts_model(spark):
    """The NB model side must broadcast — a shuffle join would re-shuffle
    the exploded corpus on token, the classic scale killer for scoring."""
    from csvtool_spark.operators import classify

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    model = classify.nb_train(d, vocab_size=50)
    plan = _plan(classify.nb_score(d, model))
    assert "BroadcastHashJoin" in plan
    # the exploded corpus must never sort/shuffle on token for the model
    # join (the doc_id rejoin of two corpus-sized sides may legitimately
    # sort-merge — that one AQE turns into broadcast only at small SF)
    assert "SortMergeJoin [token" not in plan
    assert "hashpartitioning(token" not in plan


def test_dup_spans_reads_only_needed_columns(spark):
    from csvtool_spark.scale_queries import q_dup_spans

    plan = _plan(q_dup_spans(spark, SF_SMALL))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_nb_score_map_is_shuffle_free(spark):
    """The map-only scoring form must plan as a pure projection: no
    Exchange of the corpus at all (that is its reason to exist)."""
    from csvtool_spark.operators import classify

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    model = classify.nb_train(d, vocab_size=50)
    plan = _plan(classify.nb_score_map(d, model))
    assert "Exchange" not in plan


def test_dialect_curate_single_exchange(spark):
    """The whole curate pipe (langid + quality cut + exact dedup + keyed
    sample) must compile to ONE shuffle — the dedup stage's md5-hash
    rank; every other stage is a projection or filter. A second Exchange
    means a stage regressed into a self-join shape."""
    plan = _plan(catalog.QUERIES["q_dialect_curate"](spark, SF_SMALL))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_pipe_chunk_no_extra_shuffle_on_explode(spark):
    """The langid-gate + chunk pipe is projections, filters and one
    per-row explode — carried columns ride the explode itself
    (chunk_documents extras), so the whole entry must be SHUFFLE-FREE
    and join-free (also what makes the chunk stage streaming-safe)."""
    plan = _plan(ALL_QUERIES["q_dialect_pipe_chunk"](spark, SF_SMALL))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Generate explode" in plan


def test_pipe_shard_is_shuffle_free_projection(spark):
    """The shard stage (no repartition=) is a pure column append — the
    whole q_dialect_pipe_shard entry must compile to a scan + project:
    no Exchange, no Join (what makes it streaming-safe and free at any
    corpus size)."""
    plan = _plan(ALL_QUERIES["q_dialect_pipe_shard"](spark, SF_SMALL))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_pipe_quota_tokens_single_exchange(spark):
    """tokens -> token-budget quota is a projection plus ONE shuffle on
    the group key (the running-sum window); a second Exchange means the
    budget regressed into a two-pass/self-join shape."""
    plan = _plan(
        ALL_QUERIES["q_dialect_pipe_quota_tokens"](spark, SF_SMALL)
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_pipe_normalize_is_shuffle_free_projection(spark):
    """The promoted normalize -> fingerprint chain is a pure per-row
    rewrite in the JVM: ICU4J NFC through ``reflect`` plus regex/hash
    projections. No Exchange, no Join — free at any corpus size and the
    reason the stage is streaming-legal. No Python node either, in that
    chain or in the benchmark's full curation pipe: the default pipe
    starts no Python worker."""
    from perfbench.spans import PYTHON_NODES

    plan = _plan(ALL_QUERIES["q_dialect_pipe_normalize"](spark, SF_SMALL))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "com.ibm.icu.text.Normalizer" in plan
    full = _pipe_plan(spark, _bench_pipe())
    for node in PYTHON_NODES:
        assert node not in plan and node not in full, node


def _bench_pipe() -> str:
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench")
    )
    from workloads import PIPE_STAGES

    return PIPE_STAGES


def _pipe_plan(spark, pipe: str) -> str:
    from csvtool_spark.engine import CsvEngine

    docs = f"{SF_SMALL}/documents.parquet"
    return _plan(
        CsvEngine(spark).sql(f"select doc_id, text, source from '{docs}' |> {pipe}")
    )


#: pipe -> check over (its plan, the plan of a reference pipe): a
#: predicate over a column the pipe computed reads the computed attribute
#: (planshape.place gates it above the projection), so the expression is
#: evaluated once; a predicate over the query's own columns still pushes
_GATE_CASES = {
    "normalize_clean": (
        "normalize(text) |> clean(text)",
        None,
        lambda p, ref: p.count("com.ibm.icu.text.Normalizer") == 1,
    ),
    "gopher_filter": (
        "gopher(text, filter=1)",
        None,
        lambda p, ref: p.count("ArrowEvalPython") == 1,
    ),
    "quality_filter": (
        "quality(text) |> filter(quality, max=0.9)",
        "quality(text, min=0.5)",
        lambda p, ref: p.count("split(") == ref.count("split("),
    ),
    "tokens_filter": (
        "tokens(text) |> filter(n_tokens, min=30)",
        None,
        lambda p, ref: p.count("size(split(") == 1,
    ),
    "quality_hash_sample": (
        "quality(text) |> hash_sample(0.1, key=doc_id)",
        None,
        lambda p, ref: "__planshape_nd" not in p
        and "hash_sample:" in p[p.index("AS quality"):],
    ),
    # a predicate over the query's own columns goes to the start of its
    # run, below a non-deterministic projection (normalize's reflect) or
    # a gated one (quality's sentinel): it reaches the scan
    "normalize_hash_sample": (
        "normalize(text) |> hash_sample(0.1, key=doc_id)",
        None,
        lambda p, ref: "hash_sample:" in _data_filters(p),
    ),
    "normalize_filter_id": (
        "normalize(text) |> filter(doc_id, max=100)",
        None,
        lambda p, ref: "(doc_id#" in _data_filters(p)
        and "<= 100)" in _data_filters(p),
    ),
    "quality_tokens_hash_sample": (
        "quality(text, min=0.5) |> tokens(text) |> hash_sample(0.1, key=doc_id)",
        None,
        lambda p, ref: "hash_sample:" in _data_filters(p),
    ),
    # mixture(rates=1)'s coin gate reads its own keep_ppm CASE column:
    # the CASE chain is evaluated once, in the projection
    "mixture_rates": (
        "mixture(source, key=doc_id, rates=1, src0=500000, src1=500000)",
        None,
        lambda p, ref: p.count("= src0)") == 1,
    ),
}


def _data_filters(plan: str) -> str:
    """The scan's ``DataFilters: [...]`` list (empty when there is none)."""
    line = next((ln for ln in plan.splitlines() if "FileScan" in ln), "")
    return line.partition("DataFilters: [")[2].partition("], Format:")[0]


@pytest.mark.parametrize("case", sorted(_GATE_CASES))
def test_pipe_gate_evaluates_each_stage_once(spark, case):
    pipe, ref, check = _GATE_CASES[case]
    plan = _pipe_plan(spark, pipe)
    assert check(plan, ref and _pipe_plan(spark, ref)), plan


def test_place_rebuilds_a_run_only_for_a_late_plain_where(spark):
    """``planshape.place`` builds each ``Select`` once, unless a plain
    ``Where`` follows a ``Select`` of its run: then the run is built once
    more from its start, behind the hoisted filter. A DataFrame stage
    (``barrier=True``) ends the run; no filter moves past it."""
    from pyspark.sql import functions as F

    from csvtool_spark.operators.planshape import Select, Where, columns, place

    builds = []

    def sel(name):
        step = columns({name: F.col("id") + 1})
        return Select(step.names, lambda d: builds.append(name) or step.build(d))

    df = spark.range(10)
    gated = Where(F.col("a") > 1, ("a",))
    plain = Where(F.col("id") < 5, ("id",))
    place(df, [lambda _: [sel("a"), gated, sel("b")]])
    assert builds == ["a", "b"]
    builds.clear()
    out = place(df, [lambda _: [sel("a"), gated, sel("b"), plain]])
    assert builds == ["a", "b", "a", "b"]
    assert sorted(r.id for r in out.collect()) == [1, 2, 3, 4]
    plan = _plan(out)
    assert plan.rindex(" AS a#") < plan.index(" < 5)")  # below both

    top3 = Select((), lambda d: d.orderBy("id").limit(3), barrier=True)
    out = place(df, [lambda _: [top3, Where(F.col("id") >= 2, ("id",))]])
    assert [r.id for r in out.collect()] == [2]


def test_dialect_join_splits_skewed_partition_under_aqe(spark, tmp_path):
    """100 TB skew hygiene for the USER-FACING dialect join (round-10
    verdict gap #3): the dedup lanes cap hot buckets themselves, but a
    skewed key through plain ``join ... on`` relies on AQE's skew-join
    split. This pins that the session's shipped configs
    (adaptive.skewJoin.enabled=true in session._BASE_CONF) actually
    split a hot partition for a dialect-compiled join — the executed
    plan must carry ``SortMergeJoin(skew=true)`` with an
    ``AQEShuffleRead skewed`` child.

    The fixture puts ~50% of the left rows on ONE key. Local data is
    tiny, so the detection thresholds (defaults 256MB / 5x median —
    cluster-appropriate, documented in ARCHITECTURE.md) are lowered for
    the test; broadcast is disabled because a small right side would
    otherwise broadcast and dodge the shuffle entirely (exactly what a
    100 TB right side cannot do)."""
    from pyspark.sql import functions as F

    from csvtool_spark.engine import CsvEngine

    left = spark.range(1_000_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.col("id") % 1000)
        .alias("k"),
        F.concat(F.lit("payload-padding-payload-"), F.col("id")).alias("pay"),
    )
    right = spark.range(100_000).select(
        (F.col("id") % 1000).alias("k"),
        F.concat(F.lit("r"), F.col("id")).alias("rp"),
    )
    lp, rp = str(tmp_path / "skew_l.parquet"), str(tmp_path / "skew_r.parquet")
    left.write.parquet(lp)
    right.write.parquet(rp)

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "50KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    }
    old = {k: spark.conf.get(k) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        eng = CsvEngine(spark)
        # the projection must KEEP the payload: project only the join key
        # and column pruning shrinks the shuffled rows to 8 bytes each,
        # dropping the hot partition below the detection threshold
        df = eng.sql(
            f"select l.k, l.pay from '{lp}' l join '{rp}' r on l.k = r.k"
        )
        # count-shaped action: partial agg imposes no distribution on the
        # join output, so AQE is free to split (a downstream groupBy on
        # the join key would legitimately suppress the split unless
        # spark.sql.adaptive.forceOptimizeSkewedJoin is set). The count
        # is over PAY, not 1: count(1) lets Catalyst prune the payload
        # out of the shuffle, shrinking the hot partition to bare longs
        # below any realistic detection threshold
        out = df.agg(F.count(df.columns[-1]).alias("n"))
        assert out.collect()[0]["n"] == 100_000_000
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE did not split the skewed join"
        # coalescing may apply to the same read ("coalesced and skewed")
        assert "AQEShuffleRead coalesced and skewed" in plan or \
            "AQEShuffleRead skewed" in plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """100 TB semi-join reduction: when a selective dim filter feeds a
    shuffle join, Spark can build a bloom filter on the dim side and
    inject a might_contain() predicate on the FACT side — rows that
    cannot match are dropped before the shuffle instead of after the
    join. The session ships spark.sql.optimizer.runtime.bloomFilter.
    enabled=true (Spark default); the size thresholds (10 GB scan /
    10 MB creation side) are cluster-appropriate and never fire on
    local fixtures, so the pin lowers them — same discipline as the
    AQE skew pin above. Broadcast is disabled because a broadcast hash
    join already prunes at the build side (the case a 100 TB dim
    cannot provide)."""
    from pyspark.sql import functions as F

    from csvtool_spark.sources.parquet import read_table

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "10MB",
    }
    old = {k: spark.conf.get(k) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        l = read_table(spark, SF_SMALL, "lineitem")
        o = read_table(spark, SF_SMALL, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = l.join(o, l.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_orderpriority"
        )
        j.write.mode("overwrite").format("noop").save()
        plan = _plan(j)
        assert "might_contain" in plan, "no runtime bloom filter injected"
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
