#!/usr/bin/env python
"""opt05 decomposition (VERDICT r10 item 7): 1.3 s at sf100 for 25 tiny
LPs smells like per-group overhead, not simplex time. Split it:

1. full opt05 with per-model applyInPandas groups
   (solve_packed(batch_models=False))
2. assembly-only: materialize the packed long frame (scan + agg + union)
3. solve-only: the same 25 models solved in a driver loop (pure
   simplex + model-build Python time, no Spark)
4. batched arm: solve_packed(batch_models=True) — the shipped form, one
   task per hash bucket of models instead of one group per model

Best-of-RUNS each, same session (steal-window safe). Usage:
  python tools/opt05_decompose.py SF_DIR [runs]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")

    from highs_duckdb_spark.operators.optimization import _opt05_packed
    from highs_duckdb_spark.optim.bulk import solve_packed
    from highs_duckdb_spark.session import ensure_shipped, get_spark, tune_for_data

    spark = get_spark(
        "opt05-decompose", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    spark.sparkContext.setLogLevel("ERROR")
    tune_for_data(spark, sf_dir)
    ensure_shipped(spark)

    def _mat(df) -> None:
        try:
            df.toArrow()
        except Exception:
            df.collect()

    def _best(fn) -> float:
        fn()  # warm
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        return best

    def _opt05(batch_models: bool) -> None:
        """opt05's query shape with the solve layout chosen explicitly."""
        result = solve_packed(_opt05_packed(spark, sf_dir), batch_models=batch_models)
        _mat(
            result.selectExpr(
                "model_name",
                "variable_name",
                "variable_index",
                "round(1e-9 + solution_value, 6) AS solution_value",
                "reduced_cost",
                "status",
            )
            .repartition(1)
            .sortWithinPartitions("model_name", "variable_index")
        )

    full = _best(lambda: _opt05(batch_models=False))
    print(f"opt05 full (per-model tasks) {full:7.3f}s", flush=True)

    asm = _best(lambda: _mat(_opt05_packed(spark, sf_dir)))
    print(f"assembly-only (packed frame) {asm:7.3f}s", flush=True)

    # driver-loop solve: same models, no Spark in the timed window
    from highs_duckdb_spark.optim.bulk import _solve_model_batch

    pdf = _opt05_packed(spark, sf_dir).toPandas()
    solve = _best(lambda: _solve_model_batch(pdf))
    n_models = pdf["model_name"].nunique()
    print(f"solve-only ({n_models} models, driver loop) {solve:7.3f}s", flush=True)

    bat = _best(lambda: _opt05(batch_models=True))
    print(f"opt05 batched (bucket tasks) {bat:7.3f}s", flush=True)
    print(
        f"split: assembly={asm:.3f}s solve={solve:.3f}s "
        f"spark-overhead(full)={full - asm - solve:.3f}s "
        f"batched-vs-full={bat / full:5.2f}x",
        flush=True,
    )


if __name__ == "__main__":
    main()
