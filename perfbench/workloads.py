"""The three workloads: their inputs, library set-up, ops, checks and traced counters.

Every op calls a public entry point of the library on freshly built inputs
and materializes the result; nothing built for one op is reused by another.
An op's inputs are made before the clock starts and its output is checked
after the cycle it belongs to, so op latency covers the library's work only.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

import numpy as np

import models as M
import oracle

#: the bench.py headline set minus its optimization query (opt05)
OLAP_QUERIES = [
    "q01_pricing_summary", "q07_global_agg", "q10_join_broadcast", "q11_join_multiway",
    "q20_distinct_agg", "q30_window_rank", "q42_topk", "q42_topk_banded",
    "q64_tpch_q3_shipping_priority", "q65_tpch_q5_local_volume", "q80_asof_join",
    "t05_fingerprint", "d01_exact_dedup", "d03_minhash_lsh_pairs", "s01_cosine_topk",
]
#: a watermarked tumbling-window aggregation, run as one AvailableNow replay
#: per pass of olap_sf01: micro-batch lifecycle, offset WAL, commit log and
#: state store on every batch
STREAM_QUERIES = ["qs01_stream_tumbling"]


@dataclass
class Op:
    id: int
    name: str  # query name, or the statement kind
    payload: object = None
    models: list = field(default_factory=list)  # the models an op solves


@dataclass
class Ctx:
    spark: object
    sf_dir: str | None
    cores: int
    rng: np.random.Generator
    tracer: object
    probe: object = None  # trace.SparkProbe when traced
    listener: object = None  # trace.StreamListener when traced
    setup_times: dict = field(default_factory=dict)
    next_op: int = 0
    epoch_offset_ns: int = field(default_factory=lambda: time.time_ns() - time.perf_counter_ns())

    def new_op(self, name: str, payload=None, models=()) -> Op:
        self.next_op += 1
        return Op(self.next_op, name, payload, list(models))

    @contextlib.contextmanager
    def timed(self, key: str):
        """A set-up phase: timed always, a span when traced."""
        t0 = time.perf_counter()
        with self.tracer.span(key):
            yield
        self.setup_times[key] = self.setup_times.get(key, 0.0) + time.perf_counter() - t0

    @contextlib.contextmanager
    def stage(self, op: Op, name: str):
        """One step of an op: a span and, when traced, a Spark job group."""
        if not self.tracer.enabled:
            yield None
            return
        self.probe.set_group(f"op{op.id}:{name}")
        try:
            with self.tracer.span(name) as sid:
                yield sid
        finally:
            self.probe.set_group(None)

    # -- traced-run helpers ------------------------------------------------
    def add_phases(self, op: Op, df, analysis_parent: str, exec_parent: str, rec: dict) -> None:
        """Catalyst phases of ``df`` as spans and as per-op metrics."""
        for phase, (s_ms, e_ms) in self.probe.phases(df).items():
            rec[f"catalyst.{phase}_ms"] = float(e_ms - s_ms)
            parent = self.tracer.find(op.id, analysis_parent if phase == "analysis" else exec_parent)
            if parent is not None:
                self.tracer.add(f"catalyst.{phase}", s_ms * 1_000_000 - self.epoch_offset_ns,
                                e_ms * 1_000_000 - self.epoch_offset_ns, parent)

    def add_jobs(self, op: Op, rec: dict, build: str | None = None) -> None:
        """Jobs and tasks of the op's exec stage, the jobs its ``build`` stage
        started, and shuffle and spill bytes of both."""
        ex = self.probe.job_stats(f"op{op.id}:exec")
        rec.update({"exec.jobs": ex["jobs"], "exec.tasks": ex["tasks"]})
        shuffle, spill = ex["shuffle_write_bytes"], ex["spill_bytes"]
        if build is not None:
            b = self.probe.job_stats(f"op{op.id}:{build}")
            rec[f"{build}_jobs"] = b["jobs"]
            shuffle += b["shuffle_write_bytes"]
            spill += b["spill_bytes"]
        rec["exec.shuffle_write_bytes"] = shuffle
        rec["exec.spill_bytes"] = spill

    def span_time(self, op: Op, name: str) -> float:
        sid = self.tracer.find(op.id, name)
        s = self.tracer.spans[sid]
        return (s["end_ns"] - s["start_ns"]) / 1e9


def _load_all_tables(ctx: Ctx) -> None:
    from highs_duckdb_spark.session import TABLES, load_table

    with ctx.timed("session.load_table"):
        for t in TABLES:
            if os.path.exists(os.path.join(ctx.sf_dir, f"{t}.parquet")):
                load_table(ctx.spark, t, ctx.sf_dir)


class OlapWorkload:
    """Registry queries materialized with ``toArrow()`` and checked against
    DuckDB oracle digests: the headline queries and one streaming replay.
    A pass runs every query once in a seeded order; a cycle is two passes,
    so the median op is the middle of 32 samples with every query in it
    twice."""

    name = "olap_sf01"
    queries = OLAP_QUERIES + STREAM_QUERIES
    PASSES = 2
    WARM_CYCLES = 0
    #: a streaming query's first replays in a JVM run several times longer
    #: than later ones, so the warm pass replays it this many times
    STREAM_WARM = 2

    def __init__(self) -> None:
        self.expected: dict[str, str] = {}

    def oracle_sql(self) -> dict[str, str]:
        from highs_duckdb_spark.operators import QUERIES

        return {q: QUERIES[q].oracle for q in self.queries}

    def setup(self, ctx: Ctx) -> None:
        from highs_duckdb_spark.session import ensure_shipped, tune_for_data
        from highs_duckdb_spark.sources.layout import build_banded_orders

        _checkpoints_in(os.path.join(os.environ["TMPDIR"], "checkpoints"))
        with ctx.timed("session.tune_for_data"):
            tune_for_data(ctx.spark, ctx.sf_dir)
        _load_all_tables(ctx)
        with ctx.timed("session.ensure_shipped"):
            ensure_shipped(ctx.spark)
        with ctx.timed("sources.build_banded_orders"):
            build_banded_orders(ctx.spark, ctx.sf_dir)

    def _pass(self, ctx: Ctx) -> list[Op]:
        return [ctx.new_op(self.queries[i]) for i in ctx.rng.permutation(len(self.queries))]

    def warm_ops(self, ctx: Ctx) -> list[Op]:
        """One pass, and the streaming query's extra warm replays."""
        extra = [ctx.new_op(q) for q in STREAM_QUERIES for _ in range(self.STREAM_WARM - 1)]
        return self._pass(ctx) + extra

    def cycle(self, ctx: Ctx) -> list[Op]:
        ops = []
        for _ in range(self.PASSES):
            ops += self._pass(ctx)
        return ops

    def run(self, ctx: Ctx, op: Op):
        from highs_duckdb_spark.operators import QUERIES

        with ctx.stage(op, "operators.build"):
            df = QUERIES[op.name].builder(ctx.spark, ctx.sf_dir)
        with ctx.stage(op, "exec"):
            table = df.toArrow()
        return df, table

    def check(self, op: Op, out) -> tuple[str | None, int]:
        got = oracle.digest(out[1])
        if got != self.expected[op.name]:
            return f"result digest {got[:12]} != oracle {self.expected[op.name][:12]}", 0
        return None, 0

    def trace_op(self, ctx: Ctx, op: Op, out, first_exec: int) -> dict:
        df, table = out
        rec = {"operators.build_s": ctx.span_time(op, "operators.build")}
        ctx.add_jobs(op, rec, "operators.build")
        ctx.add_phases(op, df, "operators.build", "exec", rec)
        rec["exec.top_operator_ms"] = ctx.probe.top_operator(first_exec)[1]
        rec["exec.result_rows"] = float(table.num_rows)
        rec["exec.result_bytes"] = float(table.nbytes)
        if op.name in STREAM_QUERIES:
            rec.update({f"streaming.{k}": v for k, v in ctx.listener.drain().items()})
        return rec


def _checkpoints_in(root: str) -> None:
    """Re-root the streaming checkpoint directories the library names under
    ``/tmp`` into ``root``, so a run writes only inside its own scratch."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    option = DataStreamWriter.option

    def rooted(self, key, value):
        if key == "checkpointLocation" and str(value).startswith("/tmp/"):
            value = os.path.join(root, os.path.basename(str(value)))
        return option(self, key, value)

    DataStreamWriter.option = rooted


def _check_solution(model: M.Model, rows: list[tuple[str, float, str]]) -> str | None:
    """rows: (variable_name, solution_value, status) for one model."""
    bad = [s for _, _, s in rows if s != "Optimal"]
    if bad:
        return f"{model.name}: status {bad[0]!r}"
    sol = {n: v for n, v, _ in rows}
    if set(sol) != set(model.var_names):
        return f"{model.name}: solution names do not match the model's variables"
    why = model.check(np.array([sol[n] for n in model.var_names], dtype=float))
    return f"{model.name}: {why}" if why else None


def _probe_kernels(models: list[M.Model], rec: dict) -> None:
    """Time registry.solve_model_info and the simplex entry point per model,
    called directly in this process on the op's models."""
    from highs_duckdb_spark.optim.registry import solve_model_info
    from highs_duckdb_spark.optim.simplex import solve_lp, solve_milp

    info_t, lp_t, milp_t = [], [], []
    for md in models:
        info = to_info(md)
        t0 = time.perf_counter()
        solve_model_info(info)
        info_t.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        if md.is_mip:
            solve_milp(md.cost, md.a, md.row_lb, md.row_ub, md.col_lb, md.col_ub,
                       np.array([t != "continuous" for t in md.var_types]))
            milp_t.append(time.perf_counter() - t0)
        else:
            solve_lp(md.cost, md.a, md.row_lb, md.row_ub, md.col_lb, md.col_ub)
            lp_t.append(time.perf_counter() - t0)
    rec["registry.solve_model_info_s"] = info_t
    rec["simplex.solve_lp_s"] = lp_t
    rec["simplex.solve_milp_s"] = milp_t
    rec["simplex.share"] = (sum(lp_t) + sum(milp_t)) / sum(info_t) if info_t else 0.0
    rec["kernel_s"] = sum(info_t)


def to_info(model: M.Model):
    """The model as the registry's HighsModelInfo, variables and constraints in order."""
    from highs_duckdb_spark.optim.registry import HighsModelInfo

    info = HighsModelInfo()
    fill_info(info, model)
    return info


def fill_info(info, model: M.Model) -> None:
    for j, vn in enumerate(model.var_names):
        info.variable_indices[vn] = j
        info.variable_names.append(vn)
        info.obj_coefficients.append(float(model.cost[j]))
        info.var_lower_bounds.append(float(model.col_lb[j]))
        info.var_upper_bounds.append(float(model.col_ub[j]))
        info.variable_types.append(model.var_types[j])
    info.next_var_index = len(model.var_names)
    for i, cn in enumerate(model.con_names):
        info.constraint_indices[cn] = i
        info.constraint_names.append(cn)
        info.constraint_lower_bounds.append(float(model.row_lb[i]))
        info.constraint_upper_bounds.append(float(model.row_ub[i]))
        info.constraint_coefficients[i] = [(int(j), float(model.a[i, j])) for j in np.nonzero(model.a[i])[0]]
    info.next_constraint_index = len(model.con_names)


class BulkWorkload:
    """``optim.bulk.solve_many`` over seeded batches of independent models."""

    name = "lp_bulk"
    #: per op: reference-sized LPs and one binary MIP; every 4th op adds a
    #: 60×30 LP, whose solve time varies ±30 % between instances. A cycle
    #: of 4 ops (about 4 s on 4 cores) keeps the mix the same in every run:
    #: 3 ops without the large LP, so the median lies among them, and 1 with it
    SMALL, MIP, LARGE_EVERY = 20, 1, 4
    #: ops still speed up by about 20 % over the first two cycles after JVM start
    WARM_CYCLES = 2

    def __init__(self, small: int | None = None) -> None:
        self.small = small or self.SMALL
        self.k = 0

    def setup(self, ctx: Ctx) -> None:
        from highs_duckdb_spark.session import ensure_shipped

        with ctx.timed("session.ensure_shipped"):
            ensure_shipped(ctx.spark)

    def cycle(self, ctx: Ctx) -> list[Op]:
        ops = []
        for _ in range(self.LARGE_EVERY):
            self.k += 1
            large = 1 if self.k % self.LARGE_EVERY == 0 else 0
            batch = M.bulk_batch(ctx.rng, f"b{self.k}", self.small, large, self.MIP)
            v, c, k = M.model_tables(batch)
            s = ctx.spark
            ops.append(ctx.new_op("solve_many", (s.createDataFrame(v), s.createDataFrame(c),
                                                 s.createDataFrame(k)), batch))
        return ops

    def run(self, ctx: Ctx, op: Op):
        from highs_duckdb_spark.optim.bulk import solve_many

        with ctx.stage(op, "bulk.solve_many"):
            df = solve_many(*op.payload)
        with ctx.stage(op, "exec"):
            table = df.toArrow()
        return df, table

    def check(self, op: Op, out) -> tuple[str | None, int]:
        pdf = out[1].to_pandas()
        by_model = {n: g for n, g in pdf.groupby("model_name", sort=False)}
        errors, ok = [], 0
        for md in op.models:
            g = by_model.get(md.name)
            if g is None:
                errors.append(f"{md.name}: no result rows")
                continue
            why = _check_solution(md, list(zip(g["variable_name"], g["solution_value"], g["status"])))
            if why:
                errors.append(why)
            else:
                ok += 1
        return (f"{len(errors)} of {len(op.models)} models wrong, first: {errors[0]}" if errors else None), ok

    def trace_op(self, ctx: Ctx, op: Op, out, first_exec: int) -> dict:
        df, table = out
        rec = {"bulk.call_build_s": ctx.span_time(op, "bulk.solve_many"),
               "bulk.exec_s": ctx.span_time(op, "exec")}
        ctx.add_jobs(op, rec)
        rec["bulk.tasks"] = rec["exec.tasks"]
        ctx.add_phases(op, df, "bulk.solve_many", "exec", rec)
        rec["exec.top_operator_ms"] = ctx.probe.top_operator(first_exec)[1]
        rec["exec.result_rows"] = float(table.num_rows)
        rec["exec.result_bytes"] = float(table.nbytes)
        wall = ctx.span_time(op, "bulk.solve_many") + ctx.span_time(op, "exec")
        _probe_kernels(op.models, rec)
        rec["bulk.overhead_ratio"] = 1.0 - rec.pop("kernel_s") / (wall * ctx.cores)
        return rec


class SqlModelWorkload:
    """The reference's SQL modelling pattern: a model is built one
    ``highs_*`` table-function statement per variable, constraint and
    coefficient through ``spark.sql``, then solved with ``highs_solve``; one
    op is one statement. A cycle builds and solves one seeded perturbation of
    the reference datacenter model: 15 binaries, 9 constraints and 33
    coefficients make 57 mutations and one solve, the reference script's own
    mix. The reference network-flow model needs 122 statements, twice a
    measured cycle's, so it takes part only in set-up: both
    reference models are written to the store and solved there, and must
    give the reference goldens."""

    name = "lp_sql_model"
    WARM_CYCLES = 0

    def __init__(self) -> None:
        self.builds = 0
        self.references: list[M.Model] = []

    def setup(self, ctx: Ctx) -> None:
        from highs_duckdb_spark.functions.register import register_all
        from highs_duckdb_spark.optim.udtf_store import locked_model
        from highs_duckdb_spark.session import ensure_shipped

        with ctx.timed("session.ensure_shipped"):
            ensure_shipped(ctx.spark)
        with ctx.timed("functions.register_all"):
            register_all(ctx.spark)
        self.references = [M.network_flow(None, "ref_network_flow"), M.datacenter(None, "ref_datacenter")]
        with ctx.timed("udtf_store.preload"):
            for md in self.references:
                with locked_model(md.name, create=True) as info:
                    fill_info(info, md)

    def warm_ops(self, ctx: Ctx) -> list[Op]:
        """Every statement kind, building and solving a 2-variable LP of its
        own, and a solve of each reference model."""
        md = M.planted_lp(ctx.rng, "warm_lp", 2, 1)
        ops = [ctx.new_op(kind, (sql, exp), [md]) for kind, sql, exp in M.sql_script(md)]
        return ops + [ctx.new_op("solve", (f"SELECT * FROM highs_solve('{md.name}')", ""), [md])
                      for md in self.references]

    def cycle(self, ctx: Ctx) -> list[Op]:
        self.builds += 1
        md = M.datacenter(ctx.rng, f"build_{self.builds}")
        return [ctx.new_op(kind, (sql, exp), [md]) for kind, sql, exp in M.sql_script(md)]

    def run(self, ctx: Ctx, op: Op):
        with ctx.tracer.span(f"functions.stmt.{op.name}"):
            with ctx.stage(op, "catalyst.sql"):
                df = ctx.spark.sql(op.payload[0])
            with ctx.stage(op, "exec"):
                rows = df.collect()
        return df, rows

    def check(self, op: Op, out) -> tuple[str | None, int]:
        rows = out[1]
        if op.name == "solve":
            why = _check_solution(op.models[0], [(r["variable_name"], r["solution_value"], r["status"])
                                                 for r in rows])
            return why, 0 if why else 1
        if len(rows) != 1 or rows[0]["status"] != "SUCCESS":
            return f"{op.payload[0]!r} returned {[r.asDict() for r in rows]}", 0
        expected = op.payload[1]
        got = rows[0][1]
        if expected and got != expected:
            return f"{op.payload[0]!r} returned index {got!r}, expected {expected!r}", 0
        return None, 0

    def trace_op(self, ctx: Ctx, op: Op, out, first_exec: int) -> dict:
        from highs_duckdb_spark.optim import udtf_store

        df, rows = out
        rec = {f"functions.stmt_s.{op.name}": ctx.span_time(op, f"functions.stmt.{op.name}")}
        ctx.add_jobs(op, rec)
        ctx.add_phases(op, df, "catalyst.sql", "exec", rec)
        rec["exec.top_operator_ms"] = ctx.probe.top_operator(first_exec)[1]
        rec["exec.result_rows"] = float(len(rows))
        if op.name == "solve":
            md = op.models[0]
            t0 = time.perf_counter()
            with udtf_store.locked_model(md.name, create=False):
                pass
            rec["udtf_store.locked_model_s"] = time.perf_counter() - t0
            rec["udtf_store.model_bytes"] = float(
                os.path.getsize(os.path.join(udtf_store.STORE_DIR, f"{md.name}.pkl"))
            )
            _probe_kernels([md], rec)
            rec.pop("kernel_s")
        return rec


WORKLOADS = {
    "olap_sf01": OlapWorkload,
    "lp_bulk": BulkWorkload,
    "lp_sql_model": SqlModelWorkload,
}
