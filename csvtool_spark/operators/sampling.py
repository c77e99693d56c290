"""Dataset splitting and sampling for training pipelines.

- ``hash_split``: leakage-safe deterministic split. The fate of a row is a
  pure function of its KEY (first 8 md5 hex digits mod 10000), so the same
  document lands in the same split on every run, on any engine, at any
  scale — and duplicate keys always travel together (no train/test
  leakage through near-identical rows sharing an id). This is the split
  every reproducible pipeline wants; ``randomSplit`` gives neither
  property (it reflows with partitioning).
- ``stratified_sample``: per-stratum Bernoulli via ``sampleBy`` — seeded
  and reproducible for a fixed partitioning, one scan, no shuffle. For
  cross-engine-exact sampling use ``hash_split`` fractions per stratum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csvtool_spark.functions import caching

#: hash buckets for split assignment — fractions resolve to 1/10000ths.
_BUCKETS = 10_000


def split_bucket(col) -> F.Column:
    """Deterministic bucket in [0, 10000): first 8 md5 hex digits of the
    key, mod 10000. DuckDB twin:
    ``CAST(concat('0x', substr(md5(CAST(k AS VARCHAR)),1,8)) AS BIGINT) % 10000``."""
    from csvtool_spark.functions.hashing import md5_prefix_long

    return md5_prefix_long(col.cast("string")) % _BUCKETS


def hash_split(
    df: DataFrame, key: str, fractions: dict[str, float]
) -> DataFrame:
    """Assign every row a split label from key-hash buckets. ``fractions``
    maps label → fraction (must sum to ≤ 1; rows past the last boundary get
    null — use an explicit remainder label to avoid that). Adds a
    ``split`` column; filter on it for the actual subsets."""
    return df.withColumn("split", split_label(F.col(key), fractions))


def split_label(key_col, fractions: dict[str, float]):
    """The split-assignment expression itself — a pure function of the key
    column, so consumers (e.g. ``split_leakage``) can recompute a row's
    split from its key with no join."""
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    b = split_bucket(key_col)
    expr = F.lit(None).cast("string")
    # boundaries from the CUMULATIVE fraction — per-label rounding could
    # leave a bucket sliver unlabeled even when fractions sum to 1
    # (e.g. 1/3+1/3+1/3 → 3×3333 ends at 9999)
    cum = 0.0
    hi = 0
    for label, frac in fractions.items():
        cum += frac
        lo, hi = hi, int(round(cum * _BUCKETS))
        expr = F.when((b >= lo) & (b < hi), F.lit(label)).otherwise(expr)
    return expr


def stratified_sample(
    df: DataFrame, strata_col: str, fractions: dict, seed: int = 42
) -> DataFrame:
    """Per-stratum Bernoulli sample (Spark-native ``sampleBy``): one scan,
    no shuffle, seeded. Strata absent from ``fractions`` are dropped —
    pass an explicit fraction (possibly 1.0) for every stratum to keep."""
    return df.sampleBy(strata_col, fractions, seed)


def source_quota(
    df: DataFrame, group_col: str, order_col: str, cap: int,
    tie_col: str | None = None,
) -> DataFrame:
    """Cap rows per group — the source-balancing / data-mixing step of a
    training pipeline (e.g. at most N documents per domain so one crawl
    host can't dominate the mixture). Keeps the first ``cap`` rows per
    group by deterministic ``order_col`` order.

    DETERMINISM CONTRACT: the result is run-to-run stable only when
    ``order_col`` (or ``(order_col, tie_col)`` when ``tie_col`` is
    given) is unique within each group — ties rank in partition
    encounter order, which Spark does not fix. Pass ``tie_col`` (any
    unique id) whenever the order values can repeat.

    Scale shape: one shuffle on the group key + an in-partition sort
    (rank-and-filter window). A pathological hot group makes one task
    sort that group; when cap << group size, pre-thin hot groups with a
    predicate MONOTONE in the order key — a range cut ``order < b`` at a
    b that keeps ≥ cap survivors (estimate b from a quantile sketch of
    the hot group). A monotone cut keeps a PREFIX of the order, so the
    surviving first-cap set is exactly the full group's — whereas a hash
    predicate on the order value keeps a random subset and CHANGES which
    rows rank first (round-10 review of this docstring; only when
    ``order_col`` is itself a uniform hash coin does thresholding that
    same coin double as the range cut)."""
    from pyspark.sql import Window

    order = [order_col] if tie_col is None else [order_col, tie_col]
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(cap))
        .drop("__rn")
    )


def token_quota(
    df: DataFrame, group_col: str, order_col: str, token_col: str, cap: int,
    tie_col: str | None = None,
) -> DataFrame:
    """Cap TOKENS per group — ``source_quota``'s budget-aware sibling:
    keep rows in deterministic ``order_col`` order while the group's
    running token sum (inclusive) stays ≤ ``cap``. This is the rule a
    mixing recipe actually states ("at most N tokens per domain");
    a row cap only approximates it when documents vary in length. A
    single document larger than the whole budget is dropped (strict
    budget — the alternative, always keeping the first row, would
    overshoot by up to one document). NULL token counts spend 0.

    DETERMINISM CONTRACT: the ROWS-frame prefix sum follows the window
    order, so the kept set is run-to-run stable only when ``order_col``
    (or ``(order_col, tie_col)`` when ``tie_col`` is given) is unique
    within each group — duplicate order values make the running sum,
    and therefore WHICH duplicate exhausts the budget, depend on the
    engine's tie order. Pass ``tie_col`` (any unique id) whenever the
    order values can repeat.

    Scale shape: identical to ``source_quota`` — one shuffle on the
    group key + an in-partition running sum (no second pass, no
    collect); the same hot-group pre-thinning advice applies (monotone
    range cut on the order key, keeping enough prefix that its token
    sum already exceeds ``cap`` — then the budget exhausts inside the
    kept prefix and the result is unchanged)."""
    from pyspark.sql import Window

    order = [order_col] if tie_col is None else [order_col, tie_col]
    w = (
        Window.partitionBy(group_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.coalesce(F.col(token_col), F.lit(0))).over(w)
    # collision-proof temp name: withColumn would silently OVERWRITE a
    # caller's '__cum' and drop it from the result (round-9 review)
    tmp = "__cum"
    lower = {c.lower() for c in df.columns}
    while tmp in lower:
        tmp += "_"
    return (
        df.withColumn(tmp, cum)
        .filter(F.col(tmp) <= int(cap))
        .drop(tmp)
    )


def mixture_coin(key_col) -> F.Column:
    """THE mixture-family keep coin: 32-bit md5 prefix of
    ``'mixture:' + key``, mod 1e6 — one definition shared by
    ``mixture_resample``, ``mixture_apply`` and
    ``streaming.sampled_stream`` so the exact-replay contract (apply a
    batch run's realized rates → keep exactly the batch survivors)
    cannot drift between copies. Salted with the family name because
    1e6 is a multiple of ``split_bucket``'s 1e4: with a shared raw
    coin, mixture survivors at ``keep_ppm=p`` all land in split buckets
    ``< p % 1e4``-ish — a mixture followed by a split on the same key
    would skew or empty the labels (round-9 review). DuckDB twin:
    ``CAST(concat('0x', substr(md5('mixture:' || CAST(k AS VARCHAR)),
    1, 8)) AS BIGINT) % 1000000``."""
    from csvtool_spark.functions.hashing import md5_prefix_long

    return (
        md5_prefix_long(F.concat(F.lit("mixture:"), key_col.cast("string")))
        % 1_000_000
    )


def mixture_resample(
    df: DataFrame,
    source_col: str,
    key_col: str,
    token_count_col: str,
    target_ppm: dict[str, int],
) -> DataFrame:
    """Downsample sources to a target TOKEN mixture (data mixing): given
    target shares in ppm (e.g. web 50%, books 30%, code 20%), pick the
    largest total token budget T that needs no upsampling
    (``T = min_s tokens_s·1e6 div share_s``), then keep each source at
    ``rate_s = share_s·T div tokens_s`` via the deterministic key-hash
    coin. Sources without a target share are dropped. Entirely integer
    arithmetic → the realized mixture is reproducible on any engine, and
    re-runs keep exactly the same rows (hash coin, not RNG).

    Output: surviving rows + their source ``keep_ppm`` for audit.

    Scale shape: one combiner-backed aggregate for per-source token
    counts (rows = #sources), a 1-row global min, and one broadcast join
    of the tiny rate table onto the corpus scan — the corpus itself never
    shuffles. int64 bounds: ``tokens_s·1e6`` and ``share_ppm·T`` stay
    under ~1e18 up to a trillion tokens per source.
    """
    bad = {s: p for s, p in target_ppm.items() if int(p) <= 0}
    if bad:
        # a 0 share would otherwise surface as an ANSI divide-by-zero deep
        # inside the job; "drop this source" is spelled by omitting it
        raise ValueError(f"target_ppm shares must be > 0, got {bad}")
    spark = df.sparkSession
    w = spark.createDataFrame(
        [(s, int(p)) for s, p in target_ppm.items()],
        f"{source_col} string, w_ppm long",
    )
    counts = df.groupBy(source_col).agg(
        F.sum(token_count_col).cast("long").alias("__tok")
    )
    # persisted: the validation below and the budget/rates plan both read
    # it — one corpus-counting scan, #sources rows of state
    sized = caching.persist(counts.join(F.broadcast(w), source_col))
    # A target source absent from df (or contributing zero tokens) would
    # silently vanish in the inner join above and skew the realized
    # mixture away from the requested shares — fail with the source names
    # instead. One tiny action on #sources rows, not an extra corpus scan.
    present = {r[0] for r in sized.filter(F.col("__tok") > 0).select(source_col).collect()}
    missing = sorted(set(target_ppm) - present)
    if missing:
        raise ValueError(
            f"target_ppm names sources with no tokens in the input: {missing}"
        )
    budget = sized.agg(F.min(F.expr("__tok * 1000000L div w_ppm")).alias("__T"))
    rates = sized.crossJoin(F.broadcast(budget)).select(
        source_col,
        F.least(
            F.lit(1_000_000).cast("long"), F.expr("w_ppm * __T div __tok")
        ).alias("keep_ppm"),
    )
    coin = mixture_coin(F.col(key_col))
    return df.join(F.broadcast(rates), source_col).filter(coin < F.col("keep_ppm"))


def mixture_apply(
    df: DataFrame,
    source_col: str,
    key_col: str,
    rates_ppm: dict[str, int],
) -> DataFrame:
    """Apply PRE-COMPUTED per-source keep rates (ppm of rows to keep) —
    the streaming-legal complement of ``mixture_resample``: that
    operator derives its rates from GLOBAL per-source token counts (a
    batch-only aggregate), then keeps rows by a deterministic key coin.
    This one takes the realized rates (``mixture_resample``'s audit
    ``keep_ppm`` column, or an offline mixing recipe) and applies the
    SAME coin — so a stream gated by last night's batch rates keeps
    exactly the rows the batch run would have kept, with no cross-row
    state at all.

    Pure Column machinery: the bounded rate table compiles to a CASE
    chain (no join, no shuffle, streaming-safe); sources without a rate
    are dropped; appends the ``keep_ppm`` audit column like the batch
    operator. The gate goes through ``planshape.place``, so the CASE
    chain is evaluated once per row (``mixture_apply_steps``)."""
    from csvtool_spark.operators.planshape import place

    steps = mixture_apply_steps(source_col, key_col, rates_ppm)
    return place(df, [lambda _: steps])


def mixture_apply_steps(
    source_col: str, key_col: str, rates_ppm: dict[str, int]
) -> list:
    """``mixture_apply`` as ``planshape`` steps: the ``keep_ppm`` CASE
    column, then the coin gate over it (also the dialect's
    ``mixture(rates=1)`` stage, a per-row stage)."""
    from csvtool_spark.operators.planshape import Where, columns

    bad = {
        s: p for s, p in rates_ppm.items()
        if not 0 < int(p) <= 1_000_000
    }
    if bad or not rates_ppm:
        raise ValueError(
            f"rates_ppm must be non-empty with rates in (0, 1000000], "
            f"got {bad or rates_ppm}"
        )
    rate = F.lit(None).cast("long")
    for s, p in sorted(rates_ppm.items()):
        rate = F.when(F.col(source_col) == F.lit(s), F.lit(int(p))).otherwise(rate)
    coin = mixture_coin(F.col(key_col))
    keep = F.col("keep_ppm").isNotNull() & (coin < F.col("keep_ppm"))
    return [columns({"keep_ppm": rate.cast("long")}), Where(keep, ("keep_ppm",))]


def temperature_mixture(
    df: DataFrame,
    source_col: str,
    key_col: str,
    token_count_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-balanced source sampling — the multilingual-corpus
    mixing rule (sample source s with probability ∝ n_s^alpha, alpha<1
    upweighting small sources; alpha=1 is natural proportions, alpha=0
    uniform): per-source keep rate ``rate_s = 1e6·(n_min/n_s)^(1-alpha)``
    so KEPT tokens ∝ n_s^alpha with the smallest source kept whole (no
    upsampling). Rows survive by the shared deterministic
    ``mixture_coin`` — re-runs and stream replays keep exactly the same
    rows. Rates are clamped to [1, 1e6] ppm (a labeled source is
    thinned, never silently dropped; NULL-source rows ARE dropped and
    excluded from the totals, and a source with no positive token mass
    raises — its n_min=0 would collapse every rate to the clamp).

    alpha=0.5 (the common default) computes the exponent as an IEEE-754
    ``sqrt`` — correctly rounded on every engine, so the realized rate
    table is BIT-IDENTICAL cross-engine (the DuckDB twin hash-matches);
    alpha=0.75 (exponent 0.25) rides ``sqrt∘sqrt``, two correctly-
    rounded ops mirrored composition-for-composition by the twin, so it
    is bit-identical too. Other alphas go through ``pow``, which is not
    correctly rounded — same semantics, but a twin may differ by one
    ppm at floor boundaries; those are pinned with a ±1 ppm
    tolerance-banded differential (tests/test_sampling.py).

    Scale shape (mixture_resample's): one combiner-backed per-source
    aggregate (#sources rows), a 1-row global min, one broadcast join of
    the tiny rate table onto the corpus scan — the corpus never
    shuffles.
    """
    df = df.filter(F.col(source_col).isNotNull())
    rates = _temperature_rates(df, source_col, token_count_col, alpha)
    coin = mixture_coin(F.col(key_col))
    return df.join(F.broadcast(rates), source_col).filter(
        coin < F.col("keep_ppm")
    )


def temperature_rates(
    df: DataFrame,
    source_col: str,
    token_count_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """The per-source keep-rate table ``(source, keep_ppm)`` that
    ``temperature_mixture`` applies — exposed so recipes can AUDIT the
    derived mixing rates (or feed them into the streaming-legal
    ``mixture_apply`` as pre-computed rates) without sampling anything.
    Same semantics and guards as the operator: NULL sources excluded,
    zero-mass sources raise, rates clamped to [1, 1e6] ppm."""
    return _temperature_rates(
        df.filter(F.col(source_col).isNotNull()),
        source_col, token_count_col, alpha,
    )


def _temperature_rates(
    df: DataFrame, source_col: str, token_count_col: str, alpha: float
) -> DataFrame:
    """The rate table over a persisted per-source count table — NULL-source
    rows must already be filtered by the caller (their token mass is
    excluded from n_min)."""
    if not 0.0 <= float(alpha) <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    # persisted: the zero-guard action, the global min, and the rate
    # projection all read it — ONE corpus-counting scan, #sources rows
    # of state (mixture_resample's `sized` discipline)
    counts = caching.persist(df.groupBy(source_col).agg(
        F.sum(token_count_col).cast("long").alias("__tok")
    ))
    # a zero/negative-token source would set n_min<=0 and collapse
    # EVERY source's rate to the 1 ppm clamp — a silent near-empty
    # corpus that the twin reproduces (shared-semantic-bug class);
    # fail with names instead, matching mixture_resample's
    # missing-source discipline
    dead = sorted(
        r[0] for r in counts.filter(F.col("__tok") <= 0)
        .select(source_col).collect()
    )
    if dead:
        raise ValueError(
            f"temperature_mixture: sources with no positive token "
            f"mass would collapse every rate to the 1 ppm clamp: "
            f"{dead}"
        )
    mn = counts.agg(F.min("__tok").alias("__mn"))
    ratio = (
        F.col("__mn").cast("double") / F.col("__tok").cast("double")
    )
    exp = 1.0 - float(alpha)
    if exp == 0.5:
        powed = F.sqrt(ratio)
    elif exp == 0.25:
        # alpha=0.75 rides sqrt∘sqrt — BOTH ops are correctly
        # rounded (IEEE 754), so like the alpha=0.5 lane the
        # realized rate table is bit-identical cross-engine;
        # pow(x, 0.25) is not (the twin mirrors the same two-sqrt
        # composition, round 12)
        powed = F.sqrt(F.sqrt(ratio))
    else:
        powed = F.pow(ratio, F.lit(exp))
    return counts.crossJoin(F.broadcast(mn)).select(
        source_col,
        F.greatest(
            F.lit(1).cast("long"),
            F.least(
                F.lit(1_000_000).cast("long"),
                F.floor(F.lit(1_000_000.0) * powed).cast("long"),
            ),
        ).alias("keep_ppm"),
    )


def negative_pairs(
    df: DataFrame,
    id_col: str,
    k: int = 4,
    n_buckets: int = 64,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: K
    pseudo-random negatives per anchor, reproducible on any engine and
    any run (pure md5 arithmetic, no RNG).

    Shape: every id lands in a hash bucket; each anchor issues K bucket
    REQUESTS (bucket chosen by hashing (anchor, j)); a request joins its
    bucket's members and keeps the member minimizing a second per-request
    hash — a uniform-ish pick that never materializes all pairs. Join
    size is K·N·(N/n_buckets) in the worst case, so n_buckets scales with
    the corpus to bound bucket membership (same lever as LSH buckets; at
    billions of rows use n_buckets ~ N/10⁴). Anchors whose chosen bucket
    holds only themselves emit no row for that j, and two j values that
    collide on both bucket and pick are deduplicated — so an anchor gets
    UP TO k DISTINCT negatives (resample with more buckets for density).

    Ids keep their own type (string ids hash as-is — no silent long cast
    that would null them out). Returns (anchor, j, neg_id).
    """
    from csvtool_spark.functions.hashing import md5_prefix_long

    ids = df.select(F.col(id_col).alias("__id"))
    members = ids.select(
        (md5_prefix_long(F.col("__id").cast("string")) % n_buckets).alias("__b"),
        F.col("__id").alias("neg_id"),
    )
    requests = ids.select(
        F.col("__id").alias("anchor"),
        F.explode(F.sequence(F.lit(0), F.lit(int(k) - 1))).alias("j"),
    ).select(
        "anchor",
        "j",
        (
            md5_prefix_long(F.concat_ws("#", F.col("anchor"), F.col("j")))
            % n_buckets
        ).alias("__b"),
    )
    from pyspark.sql import Window

    pick = md5_prefix_long(
        F.concat_ws("#", F.col("anchor"), F.col("j"), F.col("neg_id"))
    )
    w = Window.partitionBy("anchor", "j").orderBy(pick.asc(), F.col("neg_id"))
    # second window: two requests of one anchor can collide on bucket AND
    # pick — keep the lowest-j copy so negatives are distinct per anchor
    w2 = Window.partitionBy("anchor", "neg_id").orderBy("j")
    return (
        requests.join(members, "__b")
        .filter(F.col("neg_id") != F.col("anchor"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .withColumn("__rn2", F.row_number().over(w2))
        .filter(F.col("__rn2") == 1)
        # j cast at the OUTPUT edge only (the hash above consumes the same
        # "0".."k-1" strings either way): DuckDB's range() yields BIGINT
        # and the driver hash is type-sensitive (dtype-parity rule)
        .select("anchor", F.col("j").cast("long").alias("j"), "neg_id")
    )


def deterministic_shuffle(
    df, id_col: str, seed: int = 0, n_shards: int | None = None
):
    """Training-order shuffle as a PURE FUNCTION of the row id: order by
    ``md5(seed # id)``. Unlike ``orderBy(rand())`` this is reproducible
    across runs, engines and restarts (resume mid-epoch = skip to offset),
    and changing ``seed`` gives an independent permutation per epoch.

    ``n_shards`` set → range-repartition on the key + sort within shards:
    the standard write shape for sharded training data (one shuffle, each
    output file internally ordered, global order = shard order then file
    order). ``None`` → total order (Spark range-samples the key — still
    one shuffle, no single-task sort).
    Returns the input columns plus ``shuffle_key``. DuckDB twin of the key:
    ``md5('{seed}#' || CAST(id AS VARCHAR))``."""
    key = F.md5(F.concat_ws("#", F.lit(str(seed)), F.col(id_col).cast("string")))
    out = df.withColumn("shuffle_key", key)
    if n_shards is not None:
        return out.repartitionByRange(n_shards, "shuffle_key").sortWithinPartitions(
            "shuffle_key"
        )
    return out.orderBy("shuffle_key", id_col)


def priority_sample(
    df: DataFrame,
    weight_col: str,
    key_col: str,
    k: int,
    salt: str = "ps",
    coin_lane: str = "jvm",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis–
    Spirakis A-ES): each row gets a priority ``ln(u)/w`` where ``u`` is a
    key-derived uniform in (0, 1] (md5 coin — pure function of the key, no
    RNG) and ``w`` its weight; the global top-k priorities are the sample.
    ``ln(u)/w`` is a monotone transform of the textbook ``u^(1/w)``, so
    selection probabilities are the classic weighted-without-replacement
    ones, but re-runs (and the DuckDB oracle) pick the exact same rows.

    Scale shape: one linear projection pass + ``TakeOrderedAndProject``
    for the top-k — no full sort, no shuffle of the table body. Priorities
    are rounded to 12 decimals with a key tie-break so the boundary is
    stable cross-engine. Rows with null, NaN or non-positive weight are
    excluded (they have zero selection probability; NaN passes ``w > 0``
    on both engines and would sort first under DESC, silently capturing
    sample slots — the explicit isnan guard applies the repo's standard
    NaN-bucketing rule).

    ``coin_lane`` (the dedup ``hash_family`` convention):

    - ``'jvm'`` (default, production): ``F.log`` — whole-stage-codegen
      JVM path, the 100 TB throughput lane; the whole plan is a fused
      projection + ``TakeOrderedAndProject``.
    - ``'libm'``: the glibc ``functions.libm.ln_coin`` kernel — the
      ORACLE-PAIRED lane ``priority_sample_oracle_sql`` reproduces
      bit-for-bit (DuckDB calls the same libm).  JVM ``Math.log`` is
      1-ulp-accurate, so the lanes could in principle disagree only for
      a coin landing exactly on a 12-dp rounding boundary (none do on
      the catalog corpora — a lane differential pins their equality);
      the catalog/gate entry runs 'libm' so the guarantee is structural.
    """
    from csvtool_spark.functions.hashing import md5_prefix_long

    w = F.col(weight_col).cast("double")
    m = md5_prefix_long(F.concat_ws("#", F.lit(salt), F.col(key_col).cast("string")))
    if coin_lane == "jvm":
        lnu = F.log((m.cast("double") + F.lit(1.0)) / F.lit(4294967296.0))
    elif coin_lane == "libm":
        from csvtool_spark.functions.libm import ln_coin

        lnu = ln_coin(m, 1.0)
    else:
        raise ValueError(
            f"coin_lane must be 'jvm' or 'libm', got {coin_lane!r}"
        )
    priority = F.round(lnu / w, 12)
    return (
        df.filter((w > 0) & ~F.isnan(w))
        .select(F.col(key_col), F.col(weight_col), priority.alias("priority"))
        .orderBy(F.desc("priority"), F.asc(key_col))
        .limit(k)
    )


def priority_sample_oracle_sql(
    weight_col: str,
    key_col: str,
    k: int,
    salt: str = "ps",
    table: str = "documents",
) -> str:
    """DuckDB twin of ``priority_sample`` — identical md5 coin, uniform,
    log-priority rounding and tie-break."""
    return f"""
    WITH p AS (
      SELECT {key_col}, {weight_col},
             round(ln((CAST(concat('0x', substr(md5('{salt}#' || CAST({key_col} AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
                      / 4294967296.0) / CAST({weight_col} AS DOUBLE), 12) AS priority
      FROM {table} WHERE CAST({weight_col} AS DOUBLE) > 0
        AND NOT isnan(CAST({weight_col} AS DOUBLE))
    )
    SELECT * FROM p ORDER BY priority DESC, {key_col} ASC LIMIT {k}
    """
