"""The reference's sqllogictest flow, executed VERBATIM as Spark SQL via
registered Python UDTFs (reference: test/sql/highs.test:31-98).

State lives in the machine-global file-backed store (udtf_store), so the
flow is robust to Spark's worker-pool scheduling. Models persist until
removed — the reference likewise leaks models until process exit.
"""

from __future__ import annotations

import pytest

from highs_duckdb_spark.functions.udtf import register_table_functions


@pytest.fixture()
def sql(spark):
    from highs_duckdb_spark.optim import udtf_store

    for name in ("udtf_model_a", "udtf_model_b", "udtf_model_c"):
        udtf_store.remove_model(name)
    register_table_functions(spark)
    return lambda s: spark.sql(s).collect()


def test_reference_script_verbatim(sql):
    model = "udtf_model_a"
    assert sql(
        f"SELECT * FROM highs_create_variables('{model}', 'x', 0.0, 1e30, 1.0, 'continuous')"
    )[0]["status"] == "SUCCESS"
    assert sql(
        f"SELECT * FROM highs_create_variables('{model}', 'y', 1.0, 1e30, 1.0, 'continuous')"
    )[0]["variable_index"] == "y_1"
    sql(f"SELECT * FROM highs_create_constraints('{model}', 'c1', -1e30, 7.0)")
    sql(f"SELECT * FROM highs_create_constraints('{model}', 'c2', -1e30, 9.0)")
    for c, v, coef in [("c1", "x", 1.0), ("c1", "y", 2.0), ("c2", "x", 3.0), ("c2", "y", 1.0)]:
        r = sql(f"SELECT * FROM highs_set_coefficients('{model}', '{c}', '{v}', {coef})")
        assert r[0]["status"] == "SUCCESS"
    rows = sql(f"SELECT * FROM highs_solve('{model}')")
    assert [tuple(r) for r in rows] == [
        ("x", "x_0", 0.0, 1.0, "Optimal"),
        ("y", "y_1", 1.0, 1.0, "Optimal"),
    ]


def test_udtf_error_rows(sql):
    rows = sql("SELECT * FROM highs_solve('no_such_udtf_model')")
    assert rows[0]["status"] == "ERROR: Model 'no_such_udtf_model' not found"
    model = "udtf_model_b"
    sql(f"SELECT * FROM highs_create_variables('{model}', 'x', 0.0, 1.0, 1.0, 'continuous')")
    dup = sql(f"SELECT * FROM highs_create_variables('{model}', 'x', 0.0, 1.0, 1.0, 'continuous')")
    assert dup[0]["variable_index"] == "ERROR"


def test_udtf_composes_with_sql(sql, spark):
    """Table-function output composed under filters/aggregates, like the
    reference's post-solve CTE analysis (network_flow_example.sql:168-215)."""
    model = "udtf_model_c"
    sql(f"SELECT * FROM highs_create_variables('{model}', 'a', 0.0, 5.0, -2.0, 'continuous')")
    sql(f"SELECT * FROM highs_create_variables('{model}', 'b', 0.0, 5.0, -1.0, 'continuous')")
    out = spark.sql(
        f"""
        WITH solution AS (SELECT * FROM highs_solve('{model}'))
        SELECT sum(solution_value) AS total FROM solution WHERE solution_value > 0
        """
    ).collect()
    assert out[0]["total"] == pytest.approx(10.0)  # both at upper bound 5


def test_store_dir_symlink_rejected(tmp_path, monkeypatch):
    """A squatted symlink at the store path must be refused, not followed."""
    import os

    from highs_duckdb_spark.optim import udtf_store

    target = tmp_path / "elsewhere"
    target.mkdir()
    link = tmp_path / "store_link"
    os.symlink(target, link)
    monkeypatch.setattr(udtf_store, "STORE_DIR", str(link))
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="not a directory"):
        udtf_store._paths("m")


def test_store_dir_loose_mode_tightened(tmp_path, monkeypatch):
    """A group/other-accessible store dir we own is chmodded back to 0700."""
    import os
    import stat

    from highs_duckdb_spark.optim import udtf_store

    d = tmp_path / "store"
    d.mkdir()
    os.chmod(d, 0o777)
    monkeypatch.setattr(udtf_store, "STORE_DIR", str(d))
    udtf_store._paths("m")
    assert stat.S_IMODE(os.lstat(d).st_mode) == 0o700


def test_remove_model_udtf(spark):
    """highs_remove_model drops persisted state; the next create starts a
    fresh model (no duplicate-variable error), and removing a missing
    model yields an ERROR status row, not an exception."""
    register_table_functions(spark)
    spark.sql(
        "SELECT * FROM highs_create_variables('udtf_rm', 'x', 0.0, 1e30, 1.0, 'continuous')"
    ).collect()
    r = spark.sql("SELECT * FROM highs_remove_model('udtf_rm')").collect()
    assert r[0].status == "SUCCESS"
    # model gone: same variable name creates cleanly at index 0 again
    r2 = spark.sql(
        "SELECT * FROM highs_create_variables('udtf_rm', 'x', 0.0, 1e30, 1.0, 'continuous')"
    ).collect()
    assert r2[0].status == "SUCCESS"
    assert r2[0].variable_index == "x_0"
    spark.sql("SELECT * FROM highs_remove_model('udtf_rm')").collect()
    miss = spark.sql("SELECT * FROM highs_remove_model('udtf_rm')").collect()
    assert miss[0].status.startswith("ERROR: Model 'udtf_rm' not found")


#: one statement script: (statement, args) with the Python API's argument order
_PARITY_SCRIPT = [
    ("create_variables", ("parity_m", "x", 0.0, 1e30, 1.0, "continuous")),
    ("create_variables", ("parity_m", "y", 1.0, 1e30, 1.0, "continuous")),
    ("create_variables", ("parity_m", "x", 0.0, 2.0, 1.0, "continuous")),  # duplicate
    ("create_constraints", ("parity_m", "c1", -1e30, 7.0)),
    ("create_constraints", ("parity_m", "c2", -1e30, 9.0)),
    ("create_constraints", ("parity_m", "c1", -1e30, 1.0)),  # duplicate
    ("set_coefficients", ("parity_m", "c1", "x", 1.0)),
    ("set_coefficients", ("parity_m", "c1", "y", 2.0)),
    ("set_coefficients", ("parity_m", "c2", "x", 3.0)),
    ("set_coefficients", ("parity_m", "c2", "y", 1.0)),
    ("set_coefficients", ("parity_m", "c1", "ghost", 1.0)),  # unknown variable
    ("set_coefficients", ("parity_m", "ghost", "x", 1.0)),  # unknown constraint
    ("set_coefficients", ("parity_m", "ghost", "ghost", 1.0)),  # both: variable first
    ("set_coefficients", ("parity_missing", "c1", "x", 1.0)),  # no such model
    ("solve", ("parity_missing",)),
    ("solve", ("parity_m",)),
]


def test_python_api_and_sql_table_functions_give_identical_rows(sql, spark):
    """The same statement script through the driver-side API and through
    spark.sql over the table functions gives the same rows, error rows
    included."""
    from highs_duckdb_spark.optim import registry, udtf_store

    for name in ("parity_m", "parity_missing"):
        registry.ModelRegistry.instance().remove_model(name)
        udtf_store.remove_model(name)

    def literal(a):
        return f"'{a}'" if isinstance(a, str) else repr(a)

    api, table_functions = [], []
    for statement, args in _PARITY_SCRIPT:
        api.append([tuple(r) for r in getattr(registry, statement)(spark, *args).collect()])
        rows = sql(f"SELECT * FROM highs_{statement}({', '.join(map(literal, args))})")
        table_functions.append([tuple(r) for r in rows])
    assert api == table_functions
    assert api[2][0][2] == "ERROR: Variable 'x' already exists in model 'parity_m'"
    assert api[12][0][3] == "ERROR: Variable 'ghost' not found in model 'parity_m'"
    assert api[-2] == [("N/A", "ERROR", 0.0, 0.0, "ERROR: Model 'parity_missing' not found")]
    assert api[-1] == [("x", "x_0", 0.0, 1.0, "Optimal"), ("y", "y_1", 1.0, 1.0, "Optimal")]
    registry.ModelRegistry.instance().remove_model("parity_m")
