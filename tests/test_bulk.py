"""Bulk (relational/distributed) solver API tests — the reference's own
relational model encoding (reference: example_usage.sql:19-36) through
solve_from_tables / solve_many."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pytest

from highs_duckdb_spark.optim.bulk import solve_from_tables, solve_many
from highs_duckdb_spark.optim.registry import HighsModelInfo, solve_model_info

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


def test_solve_many_unknown_coefficient_targets_registry_status(spark):
    """A coefficient naming an unknown variable or constraint gives the
    registry's status row, the variable checked first."""
    v = spark.createDataFrame(
        [(m, "x", 0.0, 1.0, 1.0, "continuous", 0) for m in ("kv", "kc", "kb")], VAR_SCHEMA
    )
    c = spark.createDataFrame([(m, "c1", -1e30, 1.0, 0) for m in ("kv", "kc", "kb")], CON_SCHEMA)
    k = spark.createDataFrame(
        [("kv", "c1", "ghost", 1.0), ("kc", "ghost", "x", 1.0), ("kb", "ghost", "ghost", 1.0)],
        COEF_SCHEMA,
    )
    rows = {r["model_name"]: tuple(r)[1:] for r in solve_many(v, c, k).collect()}
    assert rows == {
        "kv": ("N/A", "ERROR", 0.0, 0.0, "ERROR: Variable 'ghost' not found in model 'kv'"),
        "kc": ("N/A", "ERROR", 0.0, 0.0, "ERROR: Constraint 'ghost' not found in model 'kc'"),
        "kb": ("N/A", "ERROR", 0.0, 0.0, "ERROR: Variable 'ghost' not found in model 'kb'"),
    }


def test_solve_many_drops_null_model_name_rows(spark):
    """Rows whose model_name is null belong to no model: only the named
    model's rows come back."""
    v, c, k = golden_tables(spark, "named")
    nv, nc, nk = golden_tables(spark, None)
    rows = solve_many(v.unionByName(nv), c.unionByName(nc), k.unionByName(nk)).collect()
    assert sorted(tuple(r) for r in rows) == [
        ("named", "x", "x_0", 0.0, 1.0, "Optimal"),
        ("named", "y", "y_1", 1.0, 1.0, "Optimal"),
    ]


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


# --- the kernels and _pack as they were built with pandas masks and sorts and
# chained DataFrame-API projections, kept verbatim as the reference the
# list-based kernels and the one-projection-per-table _pack must equal ---

_KIND_VAR, _KIND_CON, _KIND_COEF = "v", "c", "k"


def _ref_pack(variables_df, constraints_df, coefficients_df):
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


def _ref_result_frame(model_name, rows):
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


def _ref_error_row(model_name, message):
    return _ref_result_frame(model_name, [("N/A", "ERROR", 0.0, 0.0, f"ERROR: {message}")])


def _ref_solve_one_model(pdf):
    model_name = pdf["model_name"].iloc[0]
    info = HighsModelInfo()
    vrows = pdf[pdf["kind"] == _KIND_VAR]
    if vrows.empty:
        return _ref_error_row(model_name, "model has no variables")
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
            return _ref_error_row(
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
            return _ref_error_row(
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
        if vi is None:
            return _ref_error_row(model_name, f"Variable '{var}' not found in model '{model_name}'")
        if ci is None:
            return _ref_error_row(model_name, f"Constraint '{con}' not found in model '{model_name}'")
        info.constraint_coefficients[ci].append((vi, float(coef)))
    try:
        rows = solve_model_info(info)
    except Exception as e:
        rows = [("N/A", "ERROR", 0.0, 0.0, f"ERROR: {e}")]
    return _ref_result_frame(model_name, rows)


def _ref_solve_model_batch(pdf):
    return pd.concat(
        [_ref_solve_one_model(g) for _, g in pdf.groupby("model_name", sort=False)],
        ignore_index=True,
    )


_NAN = float("nan")


def _packed_rows(with_ord=True):
    """Packed rows (model, kind, name, name2, lb, ub, obj, vtype, coef, ord)
    covering every ordering rule and every ERROR row of the kernel."""

    def var(m, n, lb, ub, obj, vtype="continuous", o=_NAN):
        return (m, "v", n, None, lb, ub, obj, vtype, _NAN, o if with_ord else _NAN)

    def con(m, n, lb, ub, o=_NAN):
        return (m, "c", n, None, lb, ub, _NAN, None, _NAN, o if with_ord else _NAN)

    def coef(m, c, v, a):
        return (m, "k", c, v, _NAN, _NAN, _NAN, None, a, _NAN)

    rows = [
        # ord on every row; ord order is not name order and "q"/"b" tie on ord
        var("ordered", "z", 0.0, 1e30, 1.0, o=0), var("ordered", "q", 1.0, 1e30, 1.0, o=1),
        var("ordered", "b", 0.0, 4.0, -1.0, o=1),
        con("ordered", "r2", -1e30, 9.0, o=0), con("ordered", "r1", -1e30, 7.0, o=1),
        coef("ordered", "r1", "z", 1.0), coef("ordered", "r1", "q", 2.0),
        coef("ordered", "r2", "z", 3.0), coef("ordered", "r2", "b", 1.0),
        # ord set on some variables only: falls back to a name sort; a null
        # name sorts last
        var("partial", "y", 0.0, 1e30, 1.0, o=0), var("partial", "x", 0.0, 1e30, 2.0),
        var("partial", None, 0.0, 1.0, 1.0, o=1),
        con("partial", "c", 1.0, 1e30, o=0), coef("partial", "c", "x", 1.0),
        coef("partial", "c", "y", 1.0),
        # no ord at all
        var("named", "v2", 0.0, 1e30, 1.0), var("named", "v1", 0.0, 1e30, 1.0),
        con("named", "cb", 2.0, 1e30), con("named", "ca", -1e30, 5.0),
        coef("named", "ca", "v1", 1.0), coef("named", "cb", "v2", 1.0), coef("named", "cb", "v1", 1.0),
        # errors
        var("dupvar", "x", 0.0, 1.0, 1.0), var("dupvar", "x", 0.0, 2.0, 1.0),
        var("dupcon", "x", 0.0, 1.0, 1.0), con("dupcon", "c", -1e30, 1.0), con("dupcon", "c", -1e30, 2.0),
        var("unkcon", "x", 0.0, 1.0, 1.0), con("unkcon", "c", -1e30, 1.0), coef("unkcon", "ghost", "x", 1.0),
        var("unkvar", "x", 0.0, 1.0, 1.0), con("unkvar", "c", -1e30, 1.0), coef("unkvar", "c", "ghost", 1.0),
        con("novars", "c", -1e30, 1.0), coef("novars", "c", "x", 1.0),
        # knapsack: max 5a+4b+3c st 2a+3b+c<=4, binary
        var("knap", "a", 0.0, 1.0, -5.0, "binary", 0), var("knap", "b", 0.0, 1.0, -4.0, "binary", 1),
        var("knap", "c", 0.0, 1.0, -3.0, "binary", 2), con("knap", "cap", -1e30, 4.0, 0),
        coef("knap", "cap", "a", 2.0), coef("knap", "cap", "b", 3.0), coef("knap", "cap", "c", 1.0),
        # infeasible: x + y >= 5 with x, y <= 1
        var("infeas", "x", 0.0, 1.0, 1.0, o=0), var("infeas", "y", 0.0, 1.0, 1.0, o=1),
        con("infeas", "c", 5.0, 1e30, o=0), coef("infeas", "c", "x", 1.0), coef("infeas", "c", "y", 1.0),
        # a row of no model
        var(None, "x", 0.0, 1.0, 1.0),
    ]
    return rows


_PACKED_COLUMNS = [
    "model_name", "kind", "name", "name2", "lower_bound", "upper_bound", "obj", "vtype",
    "coefficient", "ord",
]


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("with_ord", [True, False])
def test_list_kernels_equal_pandas_reference(seed, with_ord):
    """The list-based kernel gives the pandas reference's frames exactly
    (rows, order, dtypes) on shuffled buckets."""
    import numpy as np

    from highs_duckdb_spark.optim.bulk import _solve_model_batch

    rows = _packed_rows(with_ord)
    perm = np.random.default_rng(seed).permutation(len(rows))
    pdf = pd.DataFrame([rows[i] for i in perm], columns=_PACKED_COLUMNS)
    if not with_ord:
        pdf["ord"] = None  # a packed frame of tables with no ord column
    got = _solve_model_batch(pdf)
    pd.testing.assert_frame_equal(got, _ref_solve_model_batch(pdf))
    statuses = " ".join(got["status"])
    for needle in ("already exists in model 'dupvar'", "Constraint 'c' already exists",
                   "Constraint 'ghost' not found in model 'unkcon'",
                   "Variable 'ghost' not found in model 'unkvar'",
                   "model has no variables", "Infeasible", "Optimal"):
        assert needle in statuses


def _pack_inputs(spark, with_ord, int_typed):
    num, t = ("int", int) if int_typed else ("double", float)
    v = spark.createDataFrame(
        [("m", "y", t(1), t(10), t(1), "continuous", 1), ("m", "x", t(0), t(10), t(2), "continuous", 0)],
        f"model_name string, variable_name string, lower_bound {num}, upper_bound {num}, "
        f"obj_coefficient {num}, var_type string, ord int",
    )
    c = spark.createDataFrame(
        [("m", "c1", t(-100), t(7), 0)],
        f"model_name string, constraint_name string, lower_bound {num}, upper_bound {num}, ord int",
    )
    k = spark.createDataFrame(
        [("m", "c1", "x", t(1)), ("m", "c1", "y", t(2))],
        f"model_name string, constraint_name string, variable_name string, coefficient {num}",
    )
    if not with_ord:
        v, c = v.drop("ord"), c.drop("ord")
    return v, c, k


@pytest.mark.parametrize("with_ord,int_typed", [(True, True), (False, True), (True, False), (False, False)])
def test_pack_equals_chained_reference(spark, with_ord, int_typed):
    """Same packed schema (names, types, nullability) and rows as the
    chained DataFrame-API projections, for int-typed bounds/ord and for
    tables without an ord column."""
    from highs_duckdb_spark.optim.bulk import _pack

    inputs = _pack_inputs(spark, with_ord, int_typed)
    got, want = _pack(*inputs), _ref_pack(*inputs)
    assert got.schema == want.schema
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]


def test_solve_many_plan_build_py4j_commands(spark):
    """Building solve_many's plan costs few Py4J round trips: the chained
    per-literal projections made 815-943 per warm call."""
    import threading

    from py4j.clientserver import ClientServerConnection

    v, c, k = golden_tables(spark, "calls")
    solve_many(v, c, k)  # warm: ships the package, caches the input schemas
    sent = []
    send = ClientServerConnection.send_command
    caller = threading.get_ident()

    def counting(self, command, *args, **kwargs):
        # py4j's finalizer thread sends the deletes of garbage JVM objects,
        # some of them left by earlier tests, whenever it runs
        if threading.get_ident() == caller:
            sent.append(command)
        return send(self, command, *args, **kwargs)

    ClientServerConnection.send_command = counting
    try:
        solve_many(v, c, k)
    finally:
        ClientServerConnection.send_command = send
    assert 0 < len(sent) <= 120, len(sent)


def test_bulk_result_schema_is_the_registry_schema(spark):
    """The Python-built result schema is the registry's DDL with model_name first."""
    from highs_duckdb_spark.optim.bulk import BULK_RESULT_SCHEMA
    from highs_duckdb_spark.optim.registry import SOLVE_RESULT_SCHEMA

    ddl = spark.createDataFrame([], "model_name string, " + SOLVE_RESULT_SCHEMA).schema
    assert BULK_RESULT_SCHEMA == ddl
