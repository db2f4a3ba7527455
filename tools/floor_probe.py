#!/usr/bin/env python
"""Decompose the per-query latency floor at small SF (VERDICT r05 item 7).

The sf0.1 gap to DuckDB on sub-100 ms queries is dominated by a fixed
per-query cost. This probe splits that floor into its parts for a set of
floor-bound queries:

- ``construct``: the builder call alone — Python-side plan construction
  (Py4J round trips) + Catalyst ANALYSIS, no execution;
- ``fresh``: best-of-N of construct + execute (what bench.py measures and
  what the driver harness pays — each call re-builds the DataFrame);
- ``reuse``: best-of-N of re-materializing ONE pre-built DataFrame —
  execution only (optimization + physical planning + codegen + run still
  happen per action; only construction/analysis is amortized).

``fresh - reuse ≈ construct`` cross-checks the decomposition. The delta is
what a prepared-statement / plan cache could legitimately save; whether to
add one is a separate decision recorded in BENCH_SCALING.md — bench.py
keeps calling builders fresh either way (DuckDB re-parses per execute, so
fresh-vs-fresh is the fair comparison).

Usage: python tools/floor_probe.py [sf_dir] [runs] [q1,q2,...]

The optional third arg overrides the default probe set — used round 11 to
decompose the corpus100x LLM-pipeline headliners (s05/s20/p09), whose
sub-second protocol ratios are floor-dominated at the 107 MB corpus.
Warm-up skips tables the directory doesn't have (corpus dirs hold only
documents/embeddings).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import materialize, prepare_session, time_runs  # noqa: E402

PROBES = [
    "s01_cosine_topk",
    "q11_join_multiway",
    "q42_topk",
    "q07_global_agg",
    "q80_asof_join",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 7
    probes = sys.argv[3].split(",") if len(sys.argv) > 3 else PROBES

    from highs_duckdb_spark.operators import QUERIES

    # bench.py's session, so the floors are the bench's
    spark, _ = prepare_session(
        "floor-probe", sf_dir, int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )

    for name in probes:
        spec = QUERIES[name]
        materialize(spec.builder(spark, sf_dir))  # steady state
        t_construct = min(time_runs(lambda: spec.builder(spark, sf_dir), runs))
        t_fresh = min(
            time_runs(lambda: materialize(spec.builder(spark, sf_dir)), runs)
        )
        df = spec.builder(spark, sf_dir)
        materialize(df)
        t_reuse = min(time_runs(lambda: materialize(df), runs))
        print(
            f"{name:28s} construct={t_construct * 1e3:7.1f}ms "
            f"fresh={t_fresh * 1e3:7.1f}ms reuse={t_reuse * 1e3:7.1f}ms "
            f"construct_share={t_construct / t_fresh * 100:5.1f}%",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
