"""Bulk/relational optimization API — the 100-TB-scale path.

The reference's own examples define models *relationally* (three tables:
variables / constraints / coefficients — reference: example_usage.sql:19-36,
test/sql/highs.test:31-51). This module accepts exactly that encoding as
DataFrames and solves **many independent models in parallel**: rows shuffle
once on ``model_name`` into one partition per core, and each partition's
models are assembled + solved inside a pandas UDF on an executor. Model
construction is distributed; each model's solve runs inside one task. This
is how thousands of per-key LP/MIPs (one per customer/region/scenario) run
on a cluster.

Schemas (matching FIXTURES.md §A):

- variables:    model_name, variable_name, lower_bound, upper_bound,
                obj_coefficient, var_type
- constraints:  model_name, constraint_name, lower_bound, upper_bound
- coefficients: model_name, constraint_name, variable_name, coefficient

Ordering: the reference assigns indices by insertion order; a distributed
table has no row order, so the bulk API uses **name-sorted order** unless an
explicit integer ``ord`` column is provided on variables/constraints.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from highs_duckdb_spark.session import ensure_shipped
from highs_duckdb_spark.optim.registry import (
    SOLVE_RESULT_SCHEMA,
    HighsModelInfo,
    solve_model_info,
)

BULK_RESULT_SCHEMA = "model_name string, " + SOLVE_RESULT_SCHEMA

_KIND_VAR, _KIND_CON, _KIND_COEF = "v", "c", "k"


def _pack(variables_df: DataFrame, constraints_df: DataFrame, coefficients_df: DataFrame) -> DataFrame:
    """Union the three model tables into one long frame keyed by model_name."""
    has_vord = "ord" in variables_df.columns
    has_cord = "ord" in constraints_df.columns
    v = variables_df.select(
        "model_name",
        F.lit(_KIND_VAR).alias("kind"),
        F.col("variable_name").alias("name"),
        F.lit(None).cast("string").alias("name2"),
        F.col("lower_bound").cast("double"),
        F.col("upper_bound").cast("double"),
        F.col("obj_coefficient").cast("double").alias("obj"),
        F.col("var_type").alias("vtype"),
        F.lit(None).cast("double").alias("coefficient"),
        (F.col("ord").cast("long") if has_vord else F.lit(None).cast("long")).alias("ord"),
    )
    c = constraints_df.select(
        "model_name",
        F.lit(_KIND_CON).alias("kind"),
        F.col("constraint_name").alias("name"),
        F.lit(None).cast("string").alias("name2"),
        F.col("lower_bound").cast("double"),
        F.col("upper_bound").cast("double"),
        F.lit(None).cast("double").alias("obj"),
        F.lit(None).cast("string").alias("vtype"),
        F.lit(None).cast("double").alias("coefficient"),
        (F.col("ord").cast("long") if has_cord else F.lit(None).cast("long")).alias("ord"),
    )
    k = coefficients_df.select(
        "model_name",
        F.lit(_KIND_COEF).alias("kind"),
        F.col("constraint_name").alias("name"),
        F.col("variable_name").alias("name2"),
        F.lit(None).cast("double").alias("lower_bound"),
        F.lit(None).cast("double").alias("upper_bound"),
        F.lit(None).cast("double").alias("obj"),
        F.lit(None).cast("string").alias("vtype"),
        F.col("coefficient").cast("double"),
        F.lit(None).cast("long").alias("ord"),
    )
    return v.unionByName(c).unionByName(k)


def _result_frame(model_name: str, rows: list[tuple]) -> pd.DataFrame:
    """Solution rows (variable_name, variable_index, solution_value,
    reduced_cost, status) of one model → a BULK_RESULT_SCHEMA frame."""
    names, indices, values, costs, statuses = zip(*rows)
    return pd.DataFrame(
        {
            "model_name": [model_name] * len(rows),
            "variable_name": names,
            "variable_index": indices,
            "solution_value": values,
            "reduced_cost": costs,
            "status": statuses,
        }
    )


def _error_row(model_name: str, message: str) -> pd.DataFrame:
    return _result_frame(model_name, [("N/A", "ERROR", 0.0, 0.0, f"ERROR: {message}")])


def _solve_one_model(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map kernel: rows of ONE model → solution rows (runs on executors)."""
    model_name = pdf["model_name"].iloc[0]
    info = HighsModelInfo()
    vrows = pdf[pdf["kind"] == _KIND_VAR]
    if vrows.empty:
        # constraints/coefficients referencing a model with no variables
        # (errors-are-data: never raise out of the kernel — an empty result
        # frame would also fail Spark's schema check)
        return _error_row(model_name, "model has no variables")
    vrows = vrows.sort_values(
        ["ord", "name"] if vrows["ord"].notna().all() else ["name"], kind="mergesort"
    )
    for name, obj, lb, ub, vtype in zip(
        vrows["name"].tolist(),
        vrows["obj"].tolist(),
        vrows["lower_bound"].tolist(),
        vrows["upper_bound"].tolist(),
        vrows["vtype"].tolist(),
    ):
        if name in info.variable_indices:
            # registry-path parity: duplicate names are an ERROR row, not a
            # silently malformed LP (reference: src/highs_extension.cpp:177-182)
            return _error_row(
                model_name,
                f"Variable '{name}' already exists in model '{model_name}'",
            )
        idx = info.next_var_index
        info.next_var_index += 1
        info.variable_indices[name] = idx
        info.variable_names.append(name)
        info.obj_coefficients.append(float(obj))
        info.var_lower_bounds.append(float(lb))
        info.var_upper_bounds.append(float(ub))
        info.variable_types.append(vtype)
    crows = pdf[pdf["kind"] == _KIND_CON]
    crows = crows.sort_values(
        ["ord", "name"] if crows["ord"].notna().all() else ["name"], kind="mergesort"
    )
    for name, lb, ub in zip(
        crows["name"].tolist(), crows["lower_bound"].tolist(), crows["upper_bound"].tolist()
    ):
        if name in info.constraint_indices:
            return _error_row(
                model_name,
                f"Constraint '{name}' already exists in model '{model_name}'",
            )
        idx = info.next_constraint_index
        info.next_constraint_index += 1
        info.constraint_indices[name] = idx
        info.constraint_names.append(name)
        info.constraint_lower_bounds.append(float(lb))
        info.constraint_upper_bounds.append(float(ub))
        info.constraint_coefficients[idx] = []
    krows = pdf[pdf["kind"] == _KIND_COEF]
    for con, var, coef in zip(
        krows["name"].tolist(), krows["name2"].tolist(), krows["coefficient"].tolist()
    ):
        ci = info.constraint_indices.get(con)
        vi = info.variable_indices.get(var)
        if ci is None or vi is None:
            return _error_row(
                model_name,
                f"unknown constraint '{con}'" if ci is None else f"unknown variable '{var}'",
            )
        info.constraint_coefficients[ci].append((vi, float(coef)))
    try:
        rows = solve_model_info(info)
    except Exception as e:  # error-as-data, matching the reference contract
        rows = [("N/A", "ERROR", 0.0, 0.0, f"ERROR: {e}")]
    return _result_frame(model_name, rows)


def solve_many(
    variables_df: DataFrame,
    constraints_df: DataFrame,
    coefficients_df: DataFrame,
) -> DataFrame:
    """Solve every model present in the input tables, in parallel.

    One shuffle on ``model_name``; each model solves independently inside
    one pandas-UDF task (see :func:`solve_packed`). Output:
    BULK_RESULT_SCHEMA, one row per variable per model (plus error rows per
    the status contract).
    """
    return solve_packed(_pack(variables_df, constraints_df, coefficients_df))


def _solve_model_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Batched kernel: rows of SEVERAL models (one hash bucket of
    model_names) → concatenated solution rows. Same per-model logic as
    :func:`_solve_one_model`; batching amortizes the per-group Arrow
    round-trip + task overhead when models are tiny (see
    :func:`solve_packed`'s batch_models)."""
    return pd.concat(
        [_solve_one_model(g) for _, g in pdf.groupby("model_name", sort=False)],
        ignore_index=True,
    )


def _solve_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: one partition (= one bucket) → its solution rows."""
    frames = [pdf for pdf in batches if not pdf.empty]
    if frames:
        yield _solve_model_batch(pd.concat(frames, ignore_index=True))


def solve_packed(packed: DataFrame, batch_models: bool = True) -> DataFrame:
    """Solve models already in the packed long form (see :func:`_pack`).

    Callers that assemble the long frame themselves (e.g. in one SQL
    statement) skip ``_pack``'s per-table projections. Expected columns:
    model_name, kind ('v'|'c'|'k'), name, name2, lower_bound, upper_bound,
    obj, vtype, coefficient, ord.

    ``batch_models`` (the default): one pandas task per hash bucket of
    model_name, W = defaultParallelism buckets, so a 10k-model workload
    fans out across every core while the task count stays at the core
    count. ``repartition(W, "model_name")`` already places each row in
    partition ``pmod(hash(model_name), W)`` (Spark's hash partitioner is
    Murmur3 with seed 42, the same as ``F.hash``), so each partition IS a
    bucket and ``mapInPandas`` solves it in one call. An earlier layout
    computed that bucket as a column and then repartitioned BY the bucket,
    hashing it a second time: buckets collided, and at W = 2 / 4 / 8 / 32
    only 1 / 2 / 5 / 18 partitions held any models. The 0.78× of per-model
    measured for that layout at sf100 (benchruns/opt05_decompose_sf100.txt)
    ran on about half the cores.

    ``batch_models=False`` gives one pandas group per model — preferable
    only when model count is near the core count AND model sizes are
    wildly uneven (hash-bucketing can pair two big models on one core
    while others idle; with many tiny models batching is a pure overhead
    win).
    """
    spark = packed.sparkSession
    ensure_shipped(spark)
    # LP solves are CPU-bound Python work: spread models across every core
    # instead of inheriting spark.sql.shuffle.partitions (often tuned low
    # for tiny exchange stages — e.g. the latency bench uses 2, which would
    # serialize 200 solves onto 2 workers). A repartition with an explicit
    # count is never coalesced by AQE; on the per-model path it also
    # satisfies applyInPandas' clustering requirement, so no second
    # exchange is added.
    spread = packed.repartition(spark.sparkContext.defaultParallelism, "model_name")
    if batch_models:
        return spread.mapInPandas(_solve_partition, BULK_RESULT_SCHEMA)
    return spread.groupBy("model_name").applyInPandas(_solve_one_model, BULK_RESULT_SCHEMA)


def solve_from_tables(
    spark: SparkSession,
    variables_df: DataFrame,
    constraints_df: DataFrame,
    coefficients_df: DataFrame,
    model_name: str,
) -> DataFrame:
    """Solve a single relationally-defined model (reference:
    example_usage.sql:19-54 flow, where the model tables are CTAS'd first)."""
    flt = F.col("model_name") == model_name
    return solve_many(
        variables_df.filter(flt), constraints_df.filter(flt), coefficients_df.filter(flt)
    ).drop("model_name")
