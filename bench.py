#!/usr/bin/env python
"""Benchmark the declared headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q01_...": sec, ...}, "sf": 0.1, "master": "local[N]",
   "cpus": N, "codegen_compiles": <classes compiled in the timed runs>}

Usage:
  python bench.py                 # the headline set
  python bench.py --all           # every registered query
  python bench.py --compare       # also time DuckDB on the oracle SQL (stderr)
  python bench.py --queries=a,b   # explicit subset (the sf100 ladder protocol)
  python bench.py --set=corpus    # the LLM-pipeline scale headliners
      # (VERDICT r10 item 2) — run with SPARK_GRAFT_SF_DIR=benchdata/
      # corpus100x (the vocab-permuted 100x corpus, tools/gen_corpus.py;
      # sf100's verbatim-replicated documents would measure duplicate-
      # cluster explosion, not the operators). Works on corpus-only dirs:
      # warm-up / banded-layout / oracle views skip absent tables.
  python bench.py --layout=bucketed
      # run on the bucketed/sort-clustered storage layout
      # (sources/layout.py): lineitem/orders bucketed+sorted by orderkey,
      # customer by custkey. Built once under benchdata/layout/<sf>; BOTH
      # engines read the SAME bucketed files, so --compare stays fair.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # relational core
    "q01_pricing_summary",
    "q07_global_agg",
    "q10_join_broadcast",
    "q11_join_multiway",
    "q20_distinct_agg",
    "q30_window_rank",
    "q42_topk",
    "q42_topk_banded",
    "q64_tpch_q3_shipping_priority",
    "q65_tpch_q5_local_volume",
    "q80_asof_join",
    # LLM-pipeline
    "t05_fingerprint",
    "d01_exact_dedup",
    "d03_minhash_lsh_pairs",
    "s01_cosine_topk",
    # optimization (bulk, distributed)
    "opt05_solve_many_bulk",
]

#: the LLM-pipeline scale headliners (VERDICT r10 item 2): measured under
#: the same min-over-3 --compare protocol as HEADLINE, but at the 100x
#: corpus (documents/embeddings only)
CORPUS_HEADLINE = [
    "s05_cosine_topk_local_merge",
    "s20_filtered_ann",
    "d03_full_minhash_lsh_pairs",
    "p09_full_corpus_pipeline",
]


def present_tables(sf_dir: str) -> list[str]:
    """Registry tables present in sf_dir: a corpus dir (tools/gen_corpus.py)
    holds documents/embeddings only — warm-up, the banded layout, and the
    oracle views must not touch the others there."""
    from highs_duckdb_spark.session import TABLES

    return [t for t in TABLES if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))]


def prepare_session(app: str, sf_dir: str, cpus: int, layout: str = ""):
    """The bench session, set up and warmed outside every measured window.

    Returns ``(spark, layout_paths)``; ``layout_paths`` maps each table of
    the bucketed layout to its files (empty unless ``layout="bucketed"``).
    The tools that time or explain queries call this too, so their figures
    and plans are the bench's.
    """
    # The bench session churns ~50 plans with broadcasts and python stages;
    # a larger heap keeps full GCs out of the measured window (the library
    # default stays at 8g — this is bench-process config, not engine config).
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")

    from highs_duckdb_spark.session import (
        ensure_shipped,
        get_spark,
        load_table,
        tune_for_data,
    )

    spark = get_spark(app, cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # Latency mode for the benchmark scale: at sf0.1 every headline query
    # executes in ~40-100ms, so fixed per-query planning overhead dominates.
    # AQE's runtime re-planning (an extra scheduling round per shuffle stage)
    # and constraint propagation (quadratic-ish analysis on wide join plans)
    # cost more than they save at this size — measured ~16.4s -> ~9.4-11.2s
    # over the 15-query set. On a real cluster at 100 TB both stay ON (the
    # session default in session.get_spark): AQE coalescing/skew-splitting
    # is worth far more than one scheduling round there. Re-measured since
    # on the library session at sf0.1 on 4 cores (interleaved per query):
    # sums of medians 5.509 s with this mode vs 5.565 s without, p50 over
    # all ops 0.295 vs 0.303 s — no gain left. Kept so the figures stay
    # comparable across rounds.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    # Post-shuffle parallelism and scan split size are ENGINE decisions
    # sized from the data (session.tune_for_data — the measured sf-ladder
    # that used to live here as a bench-side override; VERDICT r04 item 3
    # moved it into the library). The bench adds no partition numbers of
    # its own.
    tune_for_data(spark, sf_dir)

    # Optional runtime SQLConf overrides for experiments, e.g.
    #   SPARK_GRAFT_EXTRA_SQLCONF="spark.sql.adaptive.enabled=false;k=v"
    extra = os.environ.get("SPARK_GRAFT_EXTRA_SQLCONF", "")
    for kv in filter(None, (s.strip() for s in extra.split(";"))):
        k, _, v = kv.partition("=")
        spark.conf.set(k, v)

    layout_paths: dict[str, str] = {}
    if layout == "bucketed":
        from highs_duckdb_spark.sources.layout import attach_bucketed

        layout_paths = attach_bucketed(spark, sf_dir)
        print(f"layout=bucketed over {sorted(layout_paths)}", file=sys.stderr)
    elif layout:
        raise SystemExit(f"unknown --layout={layout!r} (expected 'bucketed')")

    present = present_tables(sf_dir)

    # Explicit layout step for the zone-map top-k (q42_topk_banded is
    # READ-ONLY and falls back to the plain plan without this): build the
    # price-banded orders + stats sidecar once, outside the measured window.
    if "orders" in present:
        from highs_duckdb_spark.sources.layout import build_banded_orders

        build_banded_orders(spark, sf_dir)

    # Warm the JVM/session and the Python-worker pool so measured queries see
    # steady-state (worker processes are shared and reused across queries).
    # Warm-up must NOT be a measured headline query (it would get an extra
    # run and bias its best-of-2 timing vs peers): scan the two big tables
    # through a trivial shuffle instead.
    #
    # Touch every PRESENT table once: populates the reader-DataFrame cache
    # (file listing + footer schema) and the OS page cache, so no measured
    # query pays first-load costs that are session setup, not query work.
    for t in present:
        load_table(spark, t, sf_dir).groupBy().count().collect()
    # Exercise the codegen paths the measured queries hit (decimal agg,
    # window, broadcast join) so the first measured query doesn't absorb
    # their one-time JIT/codegen compile cost. None of these is a measured
    # query — just the same physical operator kinds. On a corpus-only dir
    # the documents table plays the scan/agg/window role instead.
    import pyspark.sql.functions as F  # noqa: N812
    from pyspark.sql import Window

    if "lineitem" in present:
        li = load_table(spark, "lineitem", sf_dir)
        li.groupBy("l_linestatus").agg(
            F.sum(F.col("l_quantity").cast("decimal(12,2)"))
        ).collect()
        li.limit(1000).select(
            F.row_number()
            .over(Window.partitionBy("l_suppkey").orderBy("l_orderkey"))
            .alias("rn")
        ).collect()
        nat = load_table(spark, "nation", sf_dir)
        load_table(spark, "supplier", sf_dir).join(
            F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
        ).groupBy().count().collect()
    else:
        docs = load_table(spark, "documents", sf_dir)
        docs.groupBy("lang").agg(F.sum("n_chars")).collect()
        docs.limit(1000).select(
            F.row_number()
            .over(Window.partitionBy("lang").orderBy("doc_id"))
            .alias("rn")
        ).collect()
    import pandas as pd  # noqa: F401

    # Spawn the full Python-worker pool (workers are forked lazily per
    # concurrent task and then reused): one task per core so no measured
    # pandas-UDF stage pays worker spawn + interpreter import. Also import
    # the shipped package inside each worker once.
    ensure_shipped(spark)

    # nested so it pickles by value: executors cannot import this script
    def _warm_import(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import highs_duckdb_spark.optim.simplex  # noqa: F401
        return pdf

    warm = spark.range(2 * cpus).repartition(cpus)
    warm.groupBy("id").applyInPandas(_warm_import, "id long").collect()
    return spark, layout_paths


def materialize(df) -> None:
    """Fully materialize results on the driver via Spark's columnar Arrow
    path. `.collect()` adds a per-row Py4J pickle/decode pass that is
    client-serialization overhead, not query execution — measured +0.19s
    on a 45k-row result at sf0.1. The DuckDB comparison uses its own Arrow
    fetch for the same reason (symmetric endpoints)."""
    try:
        df.toArrow()
    except Exception:
        df.collect()  # rare types the Arrow bridge can't express


def time_runs(fn, n: int) -> list[float]:
    """Wall seconds of ``n`` back-to-back calls of ``fn``; the protocol's
    figure is their min (best-of-N)."""
    runs: list[float] = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - t0)
    return runs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = None  # directory not named sf<N>; cosmetic field only
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    run_all = "--all" in sys.argv
    compare = "--compare" in sys.argv
    layout = next(
        (a.split("=", 1)[1] for a in sys.argv if a.startswith("--layout=")),
        os.environ.get("SPARK_GRAFT_LAYOUT", ""),
    )

    from highs_duckdb_spark.operators import QUERIES

    spark, layout_paths = prepare_session(
        "highs_duckdb_spark-bench", sf_dir, cpus, layout
    )

    subset = next(
        (a.split("=", 1)[1] for a in sys.argv if a.startswith("--queries=")), None
    )
    named_set = next(
        (a.split("=", 1)[1] for a in sys.argv if a.startswith("--set=")), None
    )
    if subset:  # explicit subset (e.g. the sf100 ladder protocol)
        names = [n for n in subset.split(",") if n in QUERIES]
    elif named_set == "corpus":
        names = [n for n in CORPUS_HEADLINE if n in QUERIES]
    elif named_set:
        raise SystemExit(f"unknown --set={named_set!r} (expected 'corpus')")
    else:
        names = sorted(QUERIES) if run_all else [n for n in HEADLINE if n in QUERIES]

    debug = os.environ.get("SPARK_GRAFT_BENCH_DEBUG", "") == "1"

    # Set-level steady state: one untimed sweep of the whole set before any
    # measurement. The JVM JIT compiles shared operator internals (shuffle
    # writers, hash-agg maps, Arrow serde) while running EARLY queries, so
    # without this sweep measurement order biases late queries faster —
    # measured ~20% total drift between a session's 1st and 3rd full pass.
    # Applied identically to every query; DuckDB needs no analog (no JIT).
    for name in names:
        materialize(QUERIES[name].builder(spark, sf_dir))

    from highs_duckdb_spark.session import codegen_compiles

    timings: dict[str, float] = {}
    # codegen compiles inside the timed runs: 0 when the session's codegen
    # cache holds the set's classes, hundreds when it thrashes
    compiles = 0
    for name in names:
        spec = QUERIES[name]
        # One untimed steady-state pass per query (EVERY query, so no query
        # is advantaged), then best-of-5 timed: codegen/JIT compilation of
        # each query's unique operator pipeline is session setup, not query
        # work, and the debug per-run lists show run 3 < run 2 < run 1
        # without it. The DuckDB --compare side gets the same warm pass.
        materialize(spec.builder(spark, sf_dir))
        c0 = codegen_compiles(spark)
        # best-of-5: host/VM CPU-steal windows of a few seconds are observed;
        # one-off scheduling/GC noise is large vs these runtimes
        runs = time_runs(lambda: materialize(spec.builder(spark, sf_dir)), 5)
        compiles += codegen_compiles(spark) - c0
        if debug:
            print(f"{name:32s} {[round(r, 3) for r in runs]}", file=sys.stderr)
        timings[name] = round(min(runs), 3)
        # UNTIMED between-query GC: Spark's ContextCleaner deletes shuffle
        # temp files only when the JVM garbage-collects their references —
        # a 16-query sf100 session otherwise accumulates ~fact-sized temp
        # per big-shuffle query and exhausts local disk mid-protocol
        # (observed round 10: 19 GB free at start, ENOSPC at query 12).
        # Runs outside every timed window, identically after each query.
        import gc as _gc

        _gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    if compare:
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads={cpus}")
        for t in present_tables(sf_dir):
            if t in layout_paths:  # same bucketed files Spark reads
                src = f"{layout_paths[t]}/*.parquet"
            else:
                # gen_scale.py tables are directories of part-files; glob them
                path = f"{sf_dir}/{t}.parquet"
                src = f"{path}/*.parquet" if os.path.isdir(path) else path
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')"
            )
        duck: dict[str, float] = {}
        for name in names:
            spec = QUERIES[name]
            if spec.oracle is None:
                continue

            def run_oracle(sql: str = spec.oracle) -> None:
                con.execute(sql).fetch_arrow_table()

            run_oracle()  # same warm pass as Spark
            duck[name] = round(min(time_runs(run_oracle, 5)), 3)
        # queries whose DuckDB "oracle" is a closed-form answer check, not
        # equivalent work — the ratio is not an engine comparison there
        noncomparable = {
            "opt05_solve_many_bulk": "oracle is analytic; Spark solves 200 LPs",
        }
        for name in names:
            if name in duck:
                ratio = timings[name] / duck[name] if duck[name] > 0 else float("inf")
                note = noncomparable.get(name)
                print(
                    f"{name:34s} spark={timings[name]:7.3f}s duckdb={duck[name]:7.3f}s "
                    f"ratio={ratio:6.2f}x" + (f"  [not comparable: {note}]" if note else ""),
                    file=sys.stderr,
                )

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline-query wall time at sf (sum of per-query seconds)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "master": spark.sparkContext.master,
                "cpus": cpus,
                "codegen_compiles": compiles,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
