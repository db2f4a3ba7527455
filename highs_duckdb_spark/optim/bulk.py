"""Bulk/relational optimization API — the 100-TB-scale path.

The reference's own examples define models *relationally* (three tables:
variables / constraints / coefficients — reference: example_usage.sql:19-36,
test/sql/highs.test:31-51). This module accepts exactly that encoding as
DataFrames and solves **many independent models in parallel**: rows shuffle
once on ``model_name`` into one partition per core
(``repartition(W, "model_name")``), and ``mapInPandas`` assembles and solves
each partition's models in one task per hash bucket. Model construction is
distributed; each model's solve runs inside one task. This is how thousands
of per-key LP/MIPs (one per customer/region/scenario) run on a cluster.

Schemas (matching FIXTURES.md §A):

- variables:    model_name, variable_name, lower_bound, upper_bound,
                obj_coefficient, var_type
- constraints:  model_name, constraint_name, lower_bound, upper_bound
- coefficients: model_name, constraint_name, variable_name, coefficient

Ordering: the reference assigns indices by insertion order; a distributed
table has no row order, so the bulk API uses **name-sorted order** unless an
explicit integer ``ord`` column is provided on variables/constraints.

Plan construction is a fixed cost per call that the driver pays in Py4J
round trips, and on small batches it rivals the solves themselves. Built
from chained ``F.lit(...).cast(...).alias(...)`` projections and two
``unionByName`` calls, :func:`_pack` alone made ~720 round trips and took
~90–105 ms p50 (4-core host, a 21-model batch). It is therefore three
``selectExpr`` projections joined by a positional ``union`` (~17 ms; one
``spark.sql`` statement over the three frames as temporary views measured
~26 ms, most of it creating the views), the result schema is a ready
``StructType`` rather than a DDL string the JVM must parse, and a warm
:func:`solve_many` call makes ~105 round trips in all.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from highs_duckdb_spark.session import ensure_shipped
from highs_duckdb_spark.optim.registry import HighsModelInfo, ModelError, solve_error_row, solve_rows

#: ``"model_name string, " + registry.SOLVE_RESULT_SCHEMA``, built in Python
#: so that no call parses it through the JVM
BULK_RESULT_SCHEMA = StructType(
    [
        StructField("model_name", StringType()),
        StructField("variable_name", StringType()),
        StructField("variable_index", StringType()),
        StructField("solution_value", DoubleType()),
        StructField("reduced_cost", DoubleType()),
        StructField("status", StringType()),
    ]
)

_KIND_VAR, _KIND_CON, _KIND_COEF = "v", "c", "k"

#: each input table's projection onto the packed columns, in the packed
#: order (the union is positional); the ``ord`` expression comes last
_PACK_VARIABLES = (
    "model_name", f"'{_KIND_VAR}' AS kind", "variable_name AS name",
    "CAST(NULL AS STRING) AS name2", "CAST(lower_bound AS DOUBLE) AS lower_bound",
    "CAST(upper_bound AS DOUBLE) AS upper_bound", "CAST(obj_coefficient AS DOUBLE) AS obj",
    "var_type AS vtype", "CAST(NULL AS DOUBLE) AS coefficient",
)
_PACK_CONSTRAINTS = (
    "model_name", f"'{_KIND_CON}'", "constraint_name", "CAST(NULL AS STRING)",
    "CAST(lower_bound AS DOUBLE)", "CAST(upper_bound AS DOUBLE)", "CAST(NULL AS DOUBLE)",
    "CAST(NULL AS STRING)", "CAST(NULL AS DOUBLE)",
)
_PACK_COEFFICIENTS = (
    "model_name", f"'{_KIND_COEF}'", "constraint_name", "variable_name",
    "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
    "CAST(NULL AS STRING)", "CAST(coefficient AS DOUBLE)",
)


def _ord_expr(df: DataFrame) -> str:
    return "CAST(ord AS BIGINT) AS ord" if "ord" in df.columns else "CAST(NULL AS BIGINT) AS ord"


def _pack(variables_df: DataFrame, constraints_df: DataFrame, coefficients_df: DataFrame) -> DataFrame:
    """Union the three model tables into one long frame keyed by model_name:
    model_name, kind, name, name2, lower_bound, upper_bound, obj, vtype,
    coefficient, ord. One ``selectExpr`` per table and a positional
    ``union``: each call ships its whole projection as SQL text, so
    building the frame costs ~50 Py4J round trips, not one per literal."""
    v = variables_df.selectExpr(*_PACK_VARIABLES, _ord_expr(variables_df))
    c = constraints_df.selectExpr(*_PACK_CONSTRAINTS, _ord_expr(constraints_df))
    k = coefficients_df.selectExpr(*_PACK_COEFFICIENTS, "CAST(NULL AS BIGINT) AS ord")
    return v.union(c).union(k)


def _isnull(x) -> bool:
    return x is None or x != x


def _in_order(rows: list[int], ords: list, names: list) -> list[int]:
    """Rows of one kind in index order: stable on (ord, name) when every
    ord is set, else on name alone, a null name last — the order of
    pandas' ``sort_values(kind="mergesort")`` on the same keys."""

    def name_key(i: int) -> tuple:
        n = names[i]
        return (True, "") if _isnull(n) else (False, n)

    if all(not _isnull(ords[i]) for i in rows):
        return sorted(rows, key=lambda i: (ords[i], name_key(i)))
    return sorted(rows, key=name_key)


def _solve_model_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Packed rows (see :func:`_pack`) of SEVERAL models (one hash bucket
    of model_names) → their BULK_RESULT_SCHEMA rows, models in
    first-appearance order. Rows with a null model_name belong to no model
    and are skipped, as a pandas ``groupby`` would. Errors are data: a
    model that cannot be built or solved yields one ERROR row, never an
    exception out of the task (an empty frame would also fail Spark's
    schema check)."""
    model, kind, name, name2, lb, ub, obj, vtype, coef, ords = (
        pdf[c].tolist()
        for c in (
            "model_name", "kind", "name", "name2", "lower_bound",
            "upper_bound", "obj", "vtype", "coefficient", "ord",
        )
    )
    groups: dict[object, list[int]] = {}
    for i, m in enumerate(model):
        if not _isnull(m):
            groups.setdefault(m, []).append(i)
    out: tuple[list, ...] = ([], [], [], [], [], [])

    def build(model_name, rows: list[int]) -> HighsModelInfo:
        """The model, built by the registry's rules; raises ModelError."""
        by_kind: dict[str, list[int]] = {_KIND_VAR: [], _KIND_CON: [], _KIND_COEF: []}
        for i in rows:
            if kind[i] in by_kind:
                by_kind[kind[i]].append(i)
        if not by_kind[_KIND_VAR]:
            raise ModelError("model has no variables")
        info = HighsModelInfo()
        for i in _in_order(by_kind[_KIND_VAR], ords, name):
            info.add_variable(model_name, name[i], lb[i], ub[i], obj[i], vtype[i])
        for i in _in_order(by_kind[_KIND_CON], ords, name):
            info.add_constraint(model_name, name[i], lb[i], ub[i])
        for i in by_kind[_KIND_COEF]:
            info.add_coefficient(model_name, name[i], name2[i], coef[i])
        return info

    for model_name, rows in groups.items():
        try:
            solved = solve_rows(build(model_name, rows), model_name)
        except ModelError as e:
            solved = [solve_error_row(e)]
        out[0].extend([model_name] * len(solved))
        for col, values in zip(out[1:], zip(*solved)):
            col.extend(values)
    return pd.DataFrame(dict(zip(BULK_RESULT_SCHEMA.names, out)))


def solve_many(
    variables_df: DataFrame,
    constraints_df: DataFrame,
    coefficients_df: DataFrame,
) -> DataFrame:
    """Solve every model present in the input tables, in parallel.

    One shuffle on ``model_name``; each model solves independently inside
    one pandas-UDF task (see :func:`solve_packed`). Output:
    BULK_RESULT_SCHEMA, one row per variable per model (plus error rows per
    the status contract). Rows whose model_name is null belong to no model
    and are dropped.
    """
    return solve_packed(_pack(variables_df, constraints_df, coefficients_df))


def _solve_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: one partition (= one bucket) → its solution rows."""
    frames = [pdf for pdf in batches if not pdf.empty]
    if frames:
        yield _solve_model_batch(pd.concat(frames, ignore_index=True))


def solve_packed(packed: DataFrame) -> DataFrame:
    """Solve models already in the packed long form (see :func:`_pack`).

    Callers that assemble the long frame themselves (e.g. in one SQL
    statement) skip ``_pack``'s per-table projections. Expected columns:
    model_name, kind ('v'|'c'|'k'), name, name2, lower_bound, upper_bound,
    obj, vtype, coefficient, ord. Rows whose model_name is null belong to
    no model and are dropped.

    One pandas task per hash bucket of model_name, W = defaultParallelism
    buckets, so a 10k-model workload fans out across every core while the
    task count stays at the core count. ``repartition(W, "model_name")``
    already places each row in partition ``pmod(hash(model_name), W)``
    (Spark's hash partitioner is Murmur3 with seed 42, the same as
    ``F.hash``), so each partition IS a bucket and ``mapInPandas`` solves
    it in one call. Computing that bucket as a column and repartitioning
    BY it would hash it a second time and let buckets collide: at W = 2 /
    4 / 8 / 32 only 1 / 2 / 5 / 18 partitions held any models.
    """
    spark = packed.sparkSession
    ensure_shipped(spark)
    # LP solves are CPU-bound Python work: spread models across every core
    # instead of inheriting spark.sql.shuffle.partitions (often tuned low
    # for tiny exchange stages — e.g. the latency bench uses 2, which would
    # serialize 200 solves onto 2 workers). A repartition with an explicit
    # count is never coalesced by AQE.
    spread = packed.repartition(spark.sparkContext.defaultParallelism, "model_name")
    return spread.mapInPandas(_solve_partition, BULK_RESULT_SCHEMA)


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
