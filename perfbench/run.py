#!/usr/bin/env python3
"""Engine benchmark: one workload per invocation, closed loop, one client.

    python3 perfbench/run.py --workload olap_sf01 --seed 1 --seconds 6 --trace 0

Run from the root of a source tree. The run builds a Spark session with the
library's own ``get_spark`` on ``local[<cores this process may use>]``, does
the workload's set-up and one untimed warm pass, then runs whole cycles of
ops (two passes over the queries, four bulk solves, the statements that
build and solve one model) until
``--seconds`` have elapsed, checking every op's output.

stdout ends with one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer ones
with ``--trace 1``; ``BENCHMARK.json`` lists both). The line before it is a
report with the provenance, the sample counts, ``error_rate``,
``models_per_s``, ``op_p90_s`` where there are ten samples beyond it, and
each failed op. A traced run alternates untraced and traced cycles, takes
the per-layer metrics from the traced ones, prints a self-time table per
layer and writes its spans to ``.perfbench/traces/``.

Inputs come from ``--seed``; the relational tables are generated once into
``.perfbench/data`` (their content does not depend on the seed). Scratch for
the run (model store, Spark local dirs, temp files, layouts) is made fresh
and removed at exit. See ``perfbench/README.md`` for the metric map.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s"}

#: per-layer metric → (unit, per-op record key or set-up phase, aggregate)
PER_LAYER: dict[str, tuple[str, str, str]] = {
    "session.import_s": ("s", "session.import", "setup"),
    "session.get_spark_s": ("s", "session.get_spark", "setup"),
    "session.tune_for_data_s": ("s", "session.tune_for_data", "setup"),
    "session.load_table_s": ("s", "session.load_table", "setup"),
    "session.ensure_shipped_s": ("s", "session.ensure_shipped", "setup"),
    "session.warmup_s": ("s", "session.warmup", "setup"),
    "sources.build_banded_orders_s": ("s", "sources.build_banded_orders", "setup"),
    "functions.register_all_s": ("s", "functions.register_all", "setup"),
    "operators.build_s_p50": ("s", "operators.build_s", "p50"),
    "operators.build_s_sum": ("s", "operators.build_s", "sum"),
    "operators.build_jobs": ("count", "operators.build_jobs", "mean"),
    "catalyst.analysis_ms": ("ms", "catalyst.analysis_ms", "p50"),
    "catalyst.optimization_ms": ("ms", "catalyst.optimization_ms", "p50"),
    "catalyst.planning_ms": ("ms", "catalyst.planning_ms", "p50"),
    "exec.s": ("s", "exec.s", "p50"),
    "exec.jobs": ("count", "exec.jobs", "mean"),
    "exec.tasks": ("count", "exec.tasks", "mean"),
    "exec.shuffle_write_bytes": ("bytes", "exec.shuffle_write_bytes", "mean"),
    "exec.spill_bytes": ("bytes", "exec.spill_bytes", "mean"),
    "exec.top_operator_ms": ("ms", "exec.top_operator_ms", "p50"),
    "exec.result_rows": ("count", "exec.result_rows", "mean"),
    "exec.result_bytes": ("bytes", "exec.result_bytes", "mean"),
    **{
        f"functions.stmt_s.{kind}.{q}": ("s", f"functions.stmt_s.{kind}", q)
        for kind in ("create_variables", "create_constraints", "set_coefficients", "solve")
        for q in ("p50", "p90")
    },
    "udtf_store.locked_model_s": ("s", "udtf_store.locked_model_s", "p50"),
    "udtf_store.model_bytes": ("bytes", "udtf_store.model_bytes", "mean"),
    "registry.solve_model_info_s": ("s", "registry.solve_model_info_s", "p50"),
    "simplex.solve_lp_s": ("s", "simplex.solve_lp_s", "p50"),
    "simplex.solve_milp_s": ("s", "simplex.solve_milp_s", "p50"),
    "simplex.share": ("ratio", "simplex.share", "mean"),
    "bulk.call_build_s": ("s", "bulk.call_build_s", "p50"),
    "bulk.exec_s": ("s", "bulk.exec_s", "p50"),
    "bulk.tasks": ("count", "bulk.tasks", "mean"),
    "bulk.overhead_ratio": ("ratio", "bulk.overhead_ratio", "mean"),
    **{
        f"streaming.{k}": (u, f"streaming.{k}", "mean")
        for k, u in (("batches", "count"), ("trigger_ms", "ms"), ("add_batch_ms", "ms"),
                     ("wal_commit_ms", "ms"), ("commit_offsets_ms", "ms"),
                     ("query_planning_ms", "ms"), ("state_rows", "count"),
                     ("state_memory_bytes", "bytes"))
    },
}
SELF_LAYERS = ("bench", "operators", "bulk", "functions", "catalyst", "exec")
for _layer in SELF_LAYERS:
    PER_LAYER[f"self.{_layer}_s"] = ("s", f"self.{_layer}", "mean")
PER_LAYER["trace.overhead_s"] = ("s", "", "derived")
PER_LAYER["trace.overhead_share"] = ("ratio", "", "derived")
PER_LAYER["trace.spans"] = ("count", "", "derived")


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _p(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)] if s else 0.0


def _aggregate(values: list[float], how: str) -> float:
    if not values:
        return 0.0
    if how == "p50":
        return float(statistics.median(values))
    if how == "p90":
        return float(_p(values, 0.9))
    if how == "sum":
        return float(sum(values))
    return float(sum(values) / len(values))


def _tree_digest(paths: list[str], base: str) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, base).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _isolate(run_dir: str) -> None:
    """Fresh model store, Spark local dirs and temp dirs under ``run_dir``."""
    for sub in ("registry", "spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["HDS_REGISTRY_DIR"] = os.path.join(run_dir, "registry")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
    ).strip()
    import tempfile

    tempfile.tempdir = None


def _prepare_data(sf: float) -> str:
    """The generated tables for ``sf`` (made once per checkout)."""
    import datagen

    path = os.path.join(WORK, "data", f"sf{sf:g}-g{datagen.GENERATOR_VERSION}")
    if not os.path.exists(os.path.join(path, "_done")):
        tmp = path + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write(sf, tmp)
        open(os.path.join(tmp, "_done"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    return path


def _stop_spark(spark) -> None:
    """Stop the session (if one was built) and the JVM (if one was launched,
    e.g. when a signal came during ``get_spark``), and wait for every process
    they started."""
    from pyspark import SparkContext

    from tracing import process_tree

    tree = [p for p in process_tree() if p != os.getpid()]
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        if spark is not None:
            spark.stop()
        if gw is not None:
            gw.shutdown()
    except Exception:  # the JVM is already gone, e.g. it got the same SIGTERM
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    while True:
        alive = []
        for p in tree:
            try:
                with open(f"/proc/{p}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                        alive.append(p)
            except OSError:
                pass
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def _run_ops(wl, ctx, ops, tracer, null_tracer):
    """Run ``ops`` back to back; returns per-op (op, latency, output, error,
    traced counters) and the summed op latency."""
    ctx.tracer = tracer or null_tracer
    out = []
    wall = 0.0
    for op in ops:
        first_exec = ctx.probe.execution_count() if tracer else 0
        ctx.tracer.begin_op(op.id, op.name)
        t0 = time.perf_counter()
        try:
            res, err = wl.run(ctx, op), None
        except Exception as e:  # the op failed; it is counted, never retried
            res, err = None, f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
        lat = time.perf_counter() - t0
        wall += lat
        ctx.tracer.end_op()
        rec = {}
        if tracer and err is None:
            rec = wl.trace_op(ctx, op, res, first_exec)
        out.append((op, lat, res, err, rec))
    ctx.tracer = null_tracer
    return out, wall


def _check(wl, results) -> tuple[list[tuple[str, str]], int]:
    failures, models_ok = [], 0
    for op, _lat, res, err, _rec in results:
        if err is None:
            try:
                err, ok = wl.check(op, res)
            except Exception as e:  # a malformed result is a wrong result
                err, ok = f"check raised {type(e).__name__}: {e}", 0
            models_ok += ok
        if err is not None:
            failures.append((f"op{op.id}:{op.name}", err))
    return failures, models_ok


def run(args) -> tuple[dict, dict, list[str]]:
    import numpy as np

    import tracing as T
    import workloads as W

    t_start = time.perf_counter()
    run_id = f"{os.getpid()}-{time.time_ns()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    rss = spark = layout_tag = None
    try:
        _isolate(run_dir)  # before the library is imported: it reads HDS_REGISTRY_DIR then
        t_import = time.perf_counter()
        import highs_duckdb_spark.operators  # noqa: F401  (registers the queries)
        from highs_duckdb_spark.session import get_spark

        t_import = time.perf_counter() - t_import
        rss = T.RssSampler().start()
        cores = _cores()
        wl = W.BulkWorkload(args.bulk_models) if args.workload == "lp_bulk" else W.WORKLOADS[args.workload]()
        rng = np.random.default_rng(args.seed)
        null = T.NullTracer()
        tracer = T.Tracer() if args.trace else None
        sf_dir, inputs = None, hashlib.sha256()
        if isinstance(wl, W.OlapWorkload):
            from highs_duckdb_spark.session import TABLES

            cached = _prepare_data(args.sf)
            # a copy under a name of its own, so the layout and footer-stats
            # sidecars the set-up builds are this run's and not a cached copy
            layout_tag = f"data_{run_id.replace('-', '_')}"
            sf_dir = os.path.join(run_dir, layout_tag)
            shutil.copytree(cached, sf_dir)
            parquet = glob.glob(os.path.join(sf_dir, "*.parquet"))
            inputs.update(_tree_digest(parquet, sf_dir).encode())
            wl.expected = W.oracle.oracle_digests(
                wl.oracle_sql(), sf_dir, TABLES, os.path.join(cached, "_oracle.json"), cores)
            if args.wrong_expected:
                first = sorted(wl.expected)[0]
                wl.expected[first] = "0" * 64
        ctx = W.Ctx(spark=None, sf_dir=sf_dir, cores=cores, rng=rng, tracer=tracer or null)

        # ---- set-up: every call into the library up to the first timed op
        ctx.setup_times["session.import"] = t_import
        with ctx.timed("session.get_spark"):
            spark = get_spark("perfbench", cpus=cores)
            spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        if tracer:
            ctx.probe = T.SparkProbe(spark)
        wl.setup(ctx)
        warm = wl.warm_ops(ctx) if hasattr(wl, "warm_ops") else []
        for _ in range(wl.WARM_CYCLES):
            warm += wl.cycle(ctx)
        if args.wrong_expected and not isinstance(wl, W.OlapWorkload):
            warm[-1].models[0].objective += 1.0
        warm_res, warm_wall = _run_ops(wl, ctx, warm, None, null)
        ctx.setup_times["session.warmup"] = warm_wall
        setup_s = sum(ctx.setup_times.values())
        to_first_op = time.perf_counter() - t_start
        failures, _ = _check(wl, warm_res)

        # ---- measured cycles
        lat_u, lat_t, wall_u, n_u, records, names_u = [], [], 0.0, 0, [], []
        ok_u = 0
        t0, k = time.perf_counter(), 0
        while True:
            traced = bool(tracer) and k % 2 == 1
            ops = wl.cycle(ctx)
            if traced and isinstance(wl, W.OlapWorkload):
                ctx.listener = T.StreamListener(spark)
            for m in (m for op in ops for m in op.models):
                inputs.update(repr((m.name, m.cost.tolist(), m.a.tolist(), m.row_lb.tolist(),
                                    m.row_ub.tolist(), m.col_ub.tolist())).encode())
            res, wall = _run_ops(wl, ctx, ops, tracer if traced else None, null)
            if ctx.listener:
                ctx.listener.close()
                ctx.listener = None
            f, ok = _check(wl, res)
            failures += f
            if traced:
                lat_t += [r[1] for r in res]
                records += [(r[0], r[4]) for r in res]
            else:
                lat_u += [r[1] for r in res]
                names_u += [(r[0].name, r[1]) for r in res]
                wall_u += wall
                ok_u += ok
                n_u += len(res)
            k += 1
            if time.perf_counter() - t0 >= args.seconds and (not tracer or k >= 2):
                break
        peak_mb = rss.stop()
        attempted = len(warm_res) + n_u + len(lat_t)

        report = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "samples": n_u,
            "cycles": k,
            "error_rate": len(failures) / attempted,
            "models_per_s": None if isinstance(wl, W.OlapWorkload) else ok_u / wall_u,
            "op_p90_s": _p(lat_u, 0.9) if n_u - math.ceil(0.9 * n_u) >= 10 else None,
            "wall_to_first_op_s": to_first_op,
            "op_latencies_s": [(name, round(lat, 4)) for name, lat in names_u],
            # peak memory swings ±20 % between runs with the JVM's heap growth,
            # more than any bound allowed on an end-to-end metric, so it is reported here
            "peak_rss_mb": peak_mb,
            "peak_mib_by_process": rss.peak_by_process,
            "setup_phases_s": ctx.setup_times,
            "inputs_sha256": inputs.hexdigest(),
            "failures": failures,
            "provenance": _provenance(spark, args, cores),
        }
        lines: list[str] = []
        if not tracer:
            metrics = {
                "setup_s": setup_s,
                "op_p50_s": statistics.median(lat_u),
                "ops_per_s": n_u / wall_u,
            }
            units = END_TO_END
        else:
            metrics, lines = _per_layer(tracer, records, ctx.setup_times, lat_u, lat_t)
            report["trace_file"] = _write_spans(args, tracer, records)
            units = {k: v[0] for k, v in PER_LAYER.items()}
        result = {
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }
        return report, result, lines
    finally:
        if rss is not None:
            rss.stop()
        if "pyspark" in sys.modules:
            _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        if layout_tag:
            shutil.rmtree(os.path.join(ROOT, "benchdata", "layout", layout_tag), ignore_errors=True)
            for p in glob.glob(os.path.join(ROOT, "benchdata", "sidecars", f"{layout_tag}__*")):
                os.remove(p)


def _per_layer(tracer, records, setup_times, lat_u, lat_t):
    from tracing import layer_of

    values: dict[str, list[float]] = {}
    for _op, rec in records:
        for k, v in rec.items():
            values.setdefault(k, []).extend(v if isinstance(v, list) else [v])
    self_ns = tracer.self_times()
    op_wall = {s["op"]: s["end_ns"] - s["start_ns"] for s in tracer.spans
               if s["name"].startswith("op.") and s["parent"] is None}
    per_layer_ns: dict[str, int] = {}
    for s in tracer.spans:
        if s["op"] is None or s["op"] not in op_wall:
            continue
        per_layer_ns[layer_of(s["name"])] = per_layer_ns.get(layer_of(s["name"]), 0) + self_ns[s["id"]]
    n_ops = max(1, len(op_wall))
    for layer in SELF_LAYERS:
        values[f"self.{layer}"] = [per_layer_ns.get(layer, 0) / 1e9 / n_ops]
    # exec.s: the action's own time, i.e. exec spans minus the Catalyst phases inside them
    values["exec.s"] = [self_ns[s["id"]] / 1e9 for s in tracer.spans if s["name"] == "exec"]
    metrics = {}
    for name, (_unit, key, how) in PER_LAYER.items():
        if how == "setup":
            metrics[name] = float(setup_times.get(key, 0.0))
        elif how != "derived":
            metrics[name] = _aggregate(values.get(key, []), how)
    med_u, med_t = _aggregate(lat_u, "p50"), _aggregate(lat_t, "p50")
    metrics["trace.overhead_s"] = med_t - med_u
    metrics["trace.overhead_share"] = (med_t - med_u) / med_u if med_u else 0.0
    metrics["trace.spans"] = float(len(tracer.spans))
    total = sum(op_wall.values()) or 1
    lines = [f"self time per layer over {len(op_wall)} traced ops "
             f"({total / 1e9:.3f} s of op wall time):"]
    for layer, ns in sorted(per_layer_ns.items(), key=lambda kv: -kv[1]):
        lines.append(f"  {layer:<10} {ns / 1e9:9.3f} s  {100.0 * ns / total:5.1f} %")
    lines.append(f"tracing overhead: {metrics['trace.overhead_s'] * 1e3:.2f} ms per op "
                 f"({100 * metrics['trace.overhead_share']:.1f} % of the untraced median, "
                 f"{len(lat_u)} untraced and {len(lat_t)} traced ops)")
    return metrics, lines


def _write_spans(args, tracer, records) -> str:
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
    t0 = min((s["start_ns"] for s in tracer.spans), default=0)
    self_ns = tracer.self_times()
    spans = [{**s, "start_ns": s["start_ns"] - t0, "end_ns": s["end_ns"] - t0,
              "self_ns": self_ns[s["id"]]} for s in tracer.spans]
    ops = [{"op": op.id, "name": op.name, "counters": rec} for op, rec in records]
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "spans": spans, "ops": ops}, f)
    return os.path.relpath(path, ROOT)


def _provenance(spark, args, cores) -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark

    sc = spark.sparkContext
    noisy = ("spark.app.", "spark.driver.host", "spark.driver.port", "spark.executor.id",
             "spark.submit.", "spark.sql.warehouse.dir", "spark.rdd.compress",
             "spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions", "spark.repl.")
    core_conf = {k: v for k, v in sc.getConf().getAll() if not k.startswith(noisy)}
    sql_conf = {k: v for k, v in spark.conf.getAll.items() if k.startswith("spark.sql.")}
    lib = glob.glob(os.path.join(ROOT, "highs_duckdb_spark", "**", "*.py"), recursive=True)
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "cores": cores,
        "cpu_count": os.cpu_count(),
        "seed": args.seed,
        "sf": args.sf if args.workload == "olap_sf01" else None,
        "git_commit": _git_commit(),
        "library_sha256": _tree_digest(lib, ROOT),
        "versions": {
            "python": sys.version.split()[0],
            "java": sc._jvm.System.getProperty("java.version"),
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "numpy": numpy.__version__,
            "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__,
        },
        "spark_conf_set": core_conf,
        "sql_conf_set": sql_conf,
        "env": {k: v for k, v in sorted(os.environ.items())
                if k.startswith(("HDS_", "SPARK_GRAFT_", "SPARK_DRIVER_MEMORY", "SPARK_LOCAL_DIRS"))},
    }


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1,
                    help="scale factor of the generated tables (olap_sf01)")
    ap.add_argument("--bulk-models", type=int, default=None,
                    help="reference-sized LPs per lp_bulk op (default 20)")
    ap.add_argument("--wrong-expected", action="store_true",
                    help="corrupt one expected result, to show it counts as a failed op")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "highs_duckdb_spark", "__init__.py")):
        print(f"perfbench: no highs_duckdb_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops Spark and removes its scratch (run's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    report, result, lines = run(args)
    print(json.dumps({"report": report}, default=str))
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
