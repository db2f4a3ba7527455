"""Bulk (relational/distributed) solver API tests — the reference's own
relational model encoding (reference: example_usage.sql:19-36) through
solve_from_tables / solve_many."""

from __future__ import annotations

import pytest

from highs_duckdb_spark.optim.bulk import solve_from_tables, solve_many

VAR_SCHEMA = (
    "model_name string, variable_name string, lower_bound double, upper_bound double, "
    "obj_coefficient double, var_type string, ord long"
)
CON_SCHEMA = (
    "model_name string, constraint_name string, lower_bound double, upper_bound double, ord long"
)
COEF_SCHEMA = (
    "model_name string, constraint_name string, variable_name string, coefficient double"
)


def golden_tables(spark, model="model1"):
    # reference: example_usage.sql:19-36 / test/sql/highs.test:31-51
    variables = spark.createDataFrame(
        [
            (model, "x", 0.0, 1e30, 1.0, "continuous", 0),
            (model, "y", 1.0, 1e30, 1.0, "continuous", 1),
        ],
        VAR_SCHEMA,
    )
    constraints = spark.createDataFrame(
        [(model, "c1", -1e30, 7.0, 0), (model, "c2", -1e30, 9.0, 1)], CON_SCHEMA
    )
    coefficients = spark.createDataFrame(
        [
            (model, "c1", "x", 1.0),
            (model, "c1", "y", 2.0),
            (model, "c2", "x", 3.0),
            (model, "c2", "y", 1.0),
        ],
        COEF_SCHEMA,
    )
    return variables, constraints, coefficients


def test_solve_from_tables_golden(spark):
    v, c, k = golden_tables(spark)
    rows = sorted(
        (tuple(r) for r in solve_from_tables(spark, v, c, k, "model1").collect()),
    )
    assert rows == [
        ("x", "x_0", 0.0, 1.0, "Optimal"),
        ("y", "y_1", 1.0, 1.0, "Optimal"),
    ]


def test_solve_many_parallel_models(spark):
    """Two independent models solved in one distributed pass."""
    v1, c1, k1 = golden_tables(spark, "mA")
    v2, c2, k2 = golden_tables(spark, "mB")
    rows = solve_many(
        v1.unionByName(v2), c1.unionByName(c2), k1.unionByName(k2)
    ).collect()
    by_model: dict[str, list] = {}
    for r in rows:
        by_model.setdefault(r["model_name"], []).append(r)
    assert set(by_model) == {"mA", "mB"}
    for model_rows in by_model.values():
        got = {r["variable_name"]: r["solution_value"] for r in model_rows}
        assert got == {"x": pytest.approx(0.0), "y": pytest.approx(1.0)}


def test_solve_many_unknown_variable_status_row(spark):
    v, c, k = golden_tables(spark, "mX")
    bad = spark.createDataFrame([("mX", "c1", "ghost", 1.0)], COEF_SCHEMA)
    rows = solve_many(v, c, k.unionByName(bad)).collect()
    assert len(rows) == 1
    assert rows[0]["variable_index"] == "ERROR"
    assert "ghost" in rows[0]["status"]


def test_solve_many_name_sorted_without_ord(spark):
    v = spark.createDataFrame(
        [("m", "zvar", 0.0, 1.0, 1.0, "continuous"), ("m", "avar", 0.0, 1.0, 1.0, "continuous")],
        "model_name string, variable_name string, lower_bound double, upper_bound double, "
        "obj_coefficient double, var_type string",
    )
    c = spark.createDataFrame(
        [("m", "c1", -1e30, 1.0)],
        "model_name string, constraint_name string, lower_bound double, upper_bound double",
    )
    k = spark.createDataFrame([("m", "c1", "avar", 1.0)], COEF_SCHEMA)
    rows = solve_many(v, c, k).collect()
    idx = {r["variable_name"]: r["variable_index"] for r in rows}
    assert idx == {"avar": "avar_0", "zvar": "zvar_1"}


def test_solve_many_milp_and_statuses(spark):
    """Bulk path handles integer vars, infeasible and unbounded models."""
    v = spark.createDataFrame(
        [
            # knapsack: max 5a+4b st 2a+3b<=4, binary → a=1,b=0 obj -5
            ("knap", "a", 0.0, 1.0, -5.0, "binary", 0),
            ("knap", "b", 0.0, 1.0, -4.0, "binary", 1),
            # infeasible: x<=1 and x>=2
            ("bad", "x", 2.0, 1.0, 1.0, "continuous", 0),
            # unbounded: min -x, x>=0, no binding rows
            ("unb", "x", 0.0, 1e30, -1.0, "continuous", 0),
        ],
        "model_name string, variable_name string, lower_bound double, upper_bound double, "
        "obj_coefficient double, var_type string, ord long",
    )
    c = spark.createDataFrame(
        [("knap", "cap", -1e30, 4.0, 0), ("bad", "noop", -1e30, 1e30, 0), ("unb", "noop", -1e30, 1e30, 0)],
        "model_name string, constraint_name string, lower_bound double, upper_bound double, ord long",
    )
    k = spark.createDataFrame(
        [("knap", "cap", "a", 2.0), ("knap", "cap", "b", 3.0)],
        "model_name string, constraint_name string, variable_name string, coefficient double",
    )
    rows = solve_many(v, c, k).collect()
    by = {}
    for r in rows:
        by.setdefault(r["model_name"], {})[r["variable_name"]] = r
    assert by["knap"]["a"]["solution_value"] == pytest.approx(1.0)
    assert by["knap"]["b"]["solution_value"] == pytest.approx(0.0)
    assert by["knap"]["a"]["status"] == "Optimal"
    assert by["bad"]["x"]["status"] == "Infeasible"
    assert by["unb"]["x"]["status"] == "Unbounded"


def test_solve_many_no_variables_error_row(spark):
    """A model present only in constraints yields an error-status row, not a crash."""
    v = spark.createDataFrame([], "model_name string, variable_name string, lower_bound double, "
                                  "upper_bound double, obj_coefficient double, var_type string")
    c = spark.createDataFrame(
        [("ghost", "c1", -1e30, 1.0)],
        "model_name string, constraint_name string, lower_bound double, upper_bound double",
    )
    k = spark.createDataFrame([], COEF_SCHEMA)
    rows = solve_many(v, c, k).collect()
    assert len(rows) == 1
    assert rows[0]["variable_index"] == "ERROR"
    assert "no variables" in rows[0]["status"]


def test_solve_many_duplicate_variable_error_row(spark):
    v = spark.createDataFrame(
        [("m", "x", 0.0, 1.0, 1.0, "continuous"), ("m", "x", 0.0, 2.0, 1.0, "continuous")],
        "model_name string, variable_name string, lower_bound double, upper_bound double, "
        "obj_coefficient double, var_type string",
    )
    c = spark.createDataFrame(
        [("m", "c1", -1e30, 1.0)],
        "model_name string, constraint_name string, lower_bound double, upper_bound double",
    )
    k = spark.createDataFrame([("m", "c1", "x", 1.0)], COEF_SCHEMA)
    rows = solve_many(v, c, k).collect()
    assert len(rows) == 1
    assert "already exists" in rows[0]["status"]


def test_solve_packed_batched_equals_per_model(spark):
    """batch_models=True (one task per hash bucket of models) must produce
    exactly the per-model-task rows — the batching is an execution-shape
    change only (VERDICT r10 item 7)."""
    from highs_duckdb_spark.operators.optimization import _opt05_packed
    from highs_duckdb_spark.optim.bulk import solve_packed

    packed = _opt05_packed(spark, "/root/testdata/sf0.001")
    a = {tuple(r) for r in solve_packed(packed, batch_models=False).collect()}
    b = {tuple(r) for r in solve_packed(packed, batch_models=True).collect()}
    assert a == b and len(a) > 0


def test_solve_many_one_bucket_per_partition(spark):
    """Every bucket pmod(hash(model_name), W) gets a task of its own:
    each output partition holds the models of exactly one bucket, and as
    many partitions hold models as there are distinct buckets. Bucketing
    by a precomputed bucket column hashes it a second time and lets
    buckets share a partition (2 partitions for 4 buckets at W = 4)."""
    import pyspark.sql.functions as F

    width = spark.sparkContext.defaultParallelism
    names = [f"spread{i:02d}" for i in range(24)]
    v = spark.createDataFrame(
        [(m, var, lb, 1e30, 1.0, "continuous", o)
         for m in names for o, (var, lb) in enumerate([("x", 0.0), ("y", 1.0)])],
        VAR_SCHEMA,
    )
    c = spark.createDataFrame(
        [(m, con, -1e30, ub, o) for m in names for o, (con, ub) in enumerate([("c1", 7.0), ("c2", 9.0)])],
        CON_SCHEMA,
    )
    k = spark.createDataFrame(
        [(m, con, var, a) for m in names
         for con, var, a in [("c1", "x", 1.0), ("c1", "y", 2.0), ("c2", "x", 3.0), ("c2", "y", 1.0)]],
        COEF_SCHEMA,
    )
    rows = (
        solve_many(v, c, k)
        .select(
            "model_name",
            "status",
            F.spark_partition_id().alias("pid"),
            F.pmod(F.hash("model_name"), F.lit(width)).alias("bucket"),
        )
        .collect()
    )
    assert {r["model_name"] for r in rows} == set(names)
    assert {r["status"] for r in rows} == {"Optimal"}
    buckets_of: dict[int, set[int]] = {}
    for r in rows:
        buckets_of.setdefault(r["pid"], set()).add(r["bucket"])
    assert all(len(b) == 1 for b in buckets_of.values()), buckets_of
    assert len(buckets_of) == len({r["bucket"] for r in rows}), buckets_of
