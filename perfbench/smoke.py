#!/usr/bin/env python3
"""Smoke test of the benchmark itself: tiny runs (sf0.001 tables, 3 LPs per
bulk op, one cycle) that check the output contract.

    python3 perfbench/smoke.py

Checks, for every workload in ``BENCHMARK.json``:
- ``--trace 0`` prints every end-to-end metric and ``--trace 1`` every
  per-layer metric, each with its unit, and no op fails;
- a changed ``--seed`` changes the inputs of the ``lp_*`` workloads and not
  the relational tables;
- a deliberately wrong expected value is counted as a failed op, not raised;
- the traced ``olap_sf01`` run reads micro-batch progress;
and that the command fails without a result in a directory holding only
``BENCHMARK.json`` and ``perfbench/``.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(workload: str, seed: int, trace: int, *extra: str, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001", "--bulk-models", "3", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, lines, proc.stderr


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    names = [x["name"] for x in spec["workloads"]]
    for w in names:
        digests = {}
        for seed, trace in ((1, 0), (2, 1)):
            code, lines, err = bench(w, seed, trace)
            expect(code == 0 and bool(lines), f"{w} --trace {trace} exits 0 ({err[-400:] if code else ''})")
            result = json.loads(lines[-1])
            expect(set(result) == {"correct", "attempted", "failed", "metrics"}, f"{w}: result keys")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            expect(got == wanted[trace], f"{w} --trace {trace}: every metric with its unit")
            expect(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
                   f"{w} --trace {trace}: no failed op ({json.loads(lines[0])['report']['failures']})")
            if trace == 0:
                expect(all(v["value"] > 0 for v in result["metrics"].values()),
                       f"{w}: every end-to-end value is positive")
            elif w == "olap_sf01":
                expect(result["metrics"]["streaming.batches"]["value"] > 0,
                       f"{w}: reads micro-batch progress")
            digests[seed] = json.loads(lines[0])["report"]["inputs_sha256"]
        if w.startswith("lp_"):
            expect(digests[1] != digests[2], f"{w}: another seed gives other inputs")
        else:
            expect(digests[1] == digests[2], f"{w}: another seed gives the same tables")

    for w in names:
        code, lines, err = bench(w, 3, 0, "--wrong-expected")
        result = json.loads(lines[-1]) if code == 0 and lines else None
        expect(result is not None and not result["correct"] and result["failed"] >= 1,
               f"{w}: a wrong expected value counts as a failed op, not an exception")

    with tempfile.TemporaryDirectory() as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, lines, _ = bench("lp_bulk", 1, 0, cwd=bare)
        printed = bool(lines) and lines[-1].startswith("{")
        expect(code != 0 and not printed, "no result and a non-zero exit without the library")


if __name__ == "__main__":
    main()
