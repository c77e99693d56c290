"""Offline pipe-chain fuzz runner: N random stage chains vs the
compositional DuckDB oracle — the long-soak form of
tests/test_pipe_chain_fuzz.py (which pins 30 fixed seeds in the suite).

Usage: python tools/fuzz_pipe.py [--temperature] [n_seeds] [start_seed] [sf_dir]
  defaults: 100 seeds from 1000, /root/testdata/sf0.001
  --temperature: soak the dedicated temperature-mixture x file-base
  generator (_gen_temp_chain; suite pins seeds 2400-2429) instead of
  the general chain generator; default start becomes 2400

Prints one line per failure (seed, base, chain, mismatch) and a summary;
exit code 1 on any failure. Seeds overlap the suite's range on purpose —
seed k here IS test seed k-1000, so a failure reproduces under pytest."""

from __future__ import annotations

import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tests"),
)


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--temperature"]
    temp_mode = "--temperature" in sys.argv[1:]
    n = int(argv[0]) if len(argv) > 0 else 100
    start = int(argv[1]) if len(argv) > 1 else (2400 if temp_mode else 1000)
    sf = argv[2] if len(argv) > 2 else "/root/testdata/sf0.001"

    import test_pipe_chain_fuzz as fz
    from csvtool_spark.dialect.stage_oracles import chain_oracle_sql
    from csvtool_spark.engine import CsvEngine
    from csvtool_spark.functions.caching import persist_scope
    from csvtool_spark.oracle import compare, duck_connect
    from csvtool_spark.session import get_spark

    spark = get_spark("pipe-fuzz")
    eng = CsvEngine(spark)
    eng.register_dir(sf, ["documents"])
    fz.ensure_file_bases(sf)  # the .tsv/.txt file bases mirror THIS sf
    con = duck_connect(sf)

    failures = 0
    for seed in range(start, start + n):
        rng = random.Random(seed)
        if temp_mode:
            base_text, base_sql, base_cols, stage_text, chain = (
                fz._gen_temp_chain(rng)
            )
        else:
            base_text, base_sql, base_cols, base_tokens = rng.choice(fz.BASES)
            stage_text, chain = fz._gen_chain(rng, base_cols, base_tokens)
        with persist_scope():
            try:
                sdf = eng.sql(f"{base_text} |> {stage_text}")
            except ValueError as e:
                # documented engine/twin divergence: temperature mixture
                # refuses zero-mass sources the twin can only clamp — an
                # expected skip (see tests/test_pipe_chain_fuzz.py)
                if "no positive token mass" in str(e) and any(
                    nm == "mixture" and "temperature" in p for nm, p in chain
                ):
                    print(f"SKIP seed={seed} zero-mass source: {e}")
                    continue
                raise
            try:
                err = compare(
                    sdf, con, chain_oracle_sql(base_sql, base_cols, chain)[0]
                )
            except Exception as e:  # noqa: BLE001 — a fuzz run reports, not dies
                err = f"exception: {e}"
        if err:
            failures += 1
            print(f"FAIL seed={seed} base=`{base_text}` chain=`{stage_text}`: {err}")
        if (seed - start + 1) % 25 == 0:
            print(f"... {seed - start + 1}/{n} seeds, {failures} failures",
                  flush=True)
    print(f"{n - failures}/{n} seeds pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
