#!/usr/bin/env python
"""Dump .explain("formatted") for a set of queries to plans/<tag>/<query>_<suffix>.txt.

Usage: python tools/capture_plans.py <tag> <suffix> [q1,q2,...]

Defaults to the bench HEADLINE set. Runs on bench.py's session
(``bench.prepare_session``), so the captured plans are the plans the bench
executes.

SPARK_GRAFT_PLANS_NO_CKPT=1 no-ops DataFrame.localCheckpoint during capture
so that plans hidden behind an eager checkpoint (the dedup gram/signature
subplans — their final frame otherwise shows only `Scan ExistingRDD`) are
dumped in full. Capture-tool-only: the bench path never sets this.

SPARK_GRAFT_PLANS_DUMP_COUNTS=1 additionally dumps the plan of every frame a
builder calls .count() on (builder-side actions — e.g. d12's cascade stages —
whose plans never reach the returned frame), as <query>_<suffix>_countN.txt.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, prepare_session  # noqa: E402


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r11"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    names = sys.argv[3].split(",") if len(sys.argv) > 3 else list(HEADLINE)

    from highs_duckdb_spark.operators import QUERIES

    def _df_classes():
        from pyspark.sql import DataFrame

        classes = [DataFrame]
        try:  # Spark 4: instances are the classic subclass, which overrides
            from pyspark.sql.classic.dataframe import DataFrame as _CDF

            classes.append(_CDF)
        except ImportError:
            pass
        return classes

    if os.environ.get("SPARK_GRAFT_PLANS_NO_CKPT", "") == "1":
        for cls in _df_classes():
            cls.localCheckpoint = lambda self, eager=True: self  # type: ignore[assignment]
        suffix += "_nockpt"

    spark, _ = prepare_session(
        "capture-plans", sf_dir, int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(out_dir, exist_ok=True)
    def _explain(df) -> str:
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    dump_counts = os.environ.get("SPARK_GRAFT_PLANS_DUMP_COUNTS", "") == "1"
    ctx = {"name": "", "i": 0}
    if dump_counts:
        for cls in _df_classes():
            _orig_count = cls.count

            def _count(self, _orig=_orig_count):
                ctx["i"] += 1
                p = os.path.join(
                    out_dir, f"{ctx['name']}_{suffix}_count{ctx['i']}.txt"
                )
                with open(p, "w") as f:
                    f.write(
                        f"# {ctx['name']} builder-side .count() #{ctx['i']} @ {sf_dir}"
                        f" — explain('formatted'), {suffix}\n"
                    )
                    f.write(_explain(self))
                print(f"wrote {p}")
                return _orig(self)

            cls.count = _count  # type: ignore[assignment]

    for name in names:
        spec = QUERIES.get(name)
        if spec is None:
            print(f"skip unknown query {name}", file=sys.stderr)
            continue
        ctx["name"], ctx["i"] = name, 0
        df = spec.builder(spark, sf_dir)
        txt = _explain(df)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} @ {sf_dir} — explain('formatted'), {suffix}\n")
            f.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
