"""The measuring entry points run end to end: bench.py prints its one JSON
line and tools/floor_probe.py its decomposition row, each in its own
process on the smallest test scale."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

from highs_duckdb_spark.session import DEFAULT_SF_DIR as SF

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENV = {
    **os.environ,
    "SPARK_GRAFT_SF_DIR": SF,
    "SPARK_GRAFT_CPUS": "2",
    "SPARK_DRIVER_MEMORY": "2g",
}


def _run(*args: str) -> list[str]:
    out = subprocess.run(
        [sys.executable, *args],
        cwd=ROOT,
        env=ENV,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout.splitlines()


def test_bench_prints_one_json_line():
    lines = _run("bench.py", "--queries=q07_global_agg")
    assert len(lines) == 1, lines
    rec = json.loads(lines[0])
    assert set(rec) == {
        "metric", "value", "unit", "queries", "sf", "master", "cpus",
        "codegen_compiles",
    }
    assert list(rec["queries"]) == ["q07_global_agg"]
    assert rec["value"] == rec["queries"]["q07_global_agg"] > 0
    assert rec["unit"] == "sec"
    assert rec["sf"] == 0.001
    assert rec["master"] == "local[2]"
    assert rec["cpus"] == 2


def test_floor_probe_prints_its_row():
    lines = _run("tools/floor_probe.py", SF, "1", "q07_global_agg")
    assert len(lines) == 1, lines
    assert re.fullmatch(
        r"q07_global_agg +construct= *[\d.]+ms fresh= *[\d.]+ms "
        r"reuse= *[\d.]+ms construct_share= *[\d.]+%",
        lines[0],
    ), lines[0]
