"""The reference's example SQL scripts, run VERBATIM through Spark SQL.

`network_flow_example.sql` and `assignment_model_test.sql` are read
straight from /root/reference and executed statement-by-statement against
the registered `highs_*` table functions — only dot-commands and LOAD
statements (extension loading, meaningless here) are skipped. This is the
migration claim made concrete: a reference user's scripts run unchanged.

test_udtf.py::test_reference_script_verbatim covers the committed
sqllogictest goldens (test/sql/highs.test); these two cover the long-form
examples including their post-solve relational analysis (chained CTEs,
LIKE filtering, CASE cost tables, SPLIT_PART, || concat, CAST, IN,
ORDER BY CAST).
"""

from __future__ import annotations

import os
import re

import pytest

from highs_duckdb_spark.functions.register import register_all
from highs_duckdb_spark.functions.udtf import register_table_functions
from highs_duckdb_spark.optim import udtf_store

REF = "/root/reference"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF),
    reason="reference checkout absent: the verbatim scripts are not in this repo",
)


def _statements(path: str) -> list[str]:
    """Split a reference script into runnable SQL statements, dropping
    dot-commands, LOAD statements, and comments."""
    lines = []
    for line in open(path, encoding="utf-8"):
        if line.lstrip().startswith("."):
            continue
        line = re.sub(r"--.*$", "", line)
        lines.append(line)
    stmts = []
    for raw in "\n".join(lines).split(";"):
        s = raw.strip()
        if not s or s.upper().startswith("LOAD"):
            continue
        stmts.append(s)
    return stmts


@pytest.fixture()
def sql(spark):
    for name in ("assignment_model", "datacenter_model"):
        udtf_store.remove_model(name)
    register_table_functions(spark)
    register_all(spark)
    return lambda s: spark.sql(s).collect()


def test_network_flow_example_verbatim(sql):
    results = [sql(s) for s in _statements(f"{REF}/network_flow_example.sql")]
    # every model-building statement reported SUCCESS (error-as-data contract)
    for rows in results[:-2]:
        for r in rows:
            if hasattr(r, "status"):
                assert r.status == "SUCCESS", r
    total_rows, assign_rows = results[-2], results[-1]
    assert [r.result for r in total_rows] == ["Total cost = 250"]
    # 4 worker→task assignments; workers and tasks each used at most once;
    # the per-assignment costs printed in the strings sum to the optimum
    assert len(assign_rows) == 4
    pat = re.compile(r"Worker (\d+) assigned to task (\d+)\.  Cost = (\d+)")
    workers, tasks, costs = set(), set(), 0
    for r in assign_rows:
        m = pat.fullmatch(r.assignment)
        assert m, r.assignment
        workers.add(m.group(1))
        tasks.add(m.group(2))
        costs += int(m.group(3))
    assert len(workers) == 4 and len(tasks) == 4
    assert costs == 250


def test_assignment_model_verbatim(sql):
    results = [sql(s) for s in _statements(f"{REF}/assignment_model_test.sql")]
    solve_rows = results[-1]
    expected = {  # opt04's exhaustively-verified unique optimum (cost 260)
        "x_DC1_D1": 1.0, "x_DC1_D2": 1.0, "x_DC1_D3": 0.0, "x_DC1_D4": 0.0,
        "x_DC2_D1": 0.0, "x_DC2_D2": 0.0, "x_DC2_D3": 0.0, "x_DC2_D4": 0.0,
        "x_DC3_D1": 0.0, "x_DC3_D2": 0.0, "x_DC3_D3": 1.0, "x_DC3_D4": 1.0,
        "z_DC1": 1.0, "z_DC2": 0.0, "z_DC3": 1.0,
    }
    got = {r.variable_name: r.solution_value for r in solve_rows}
    assert all(r.status == "Optimal" for r in solve_rows)
    assert got == expected


def test_example_usage_verbatim(sql):
    """example_usage.sql verbatim: CTAS from VALUES with aliasing, the
    imperative build, solve, and DROP TABLE cleanup. The script's comment
    expects x=0.6/y=3.2, but the committed sqllogictest golden
    (test/sql/highs.test:94-98) — and the actual optimum of min x+y —
    is x=0, y=1 with reduced costs 1.0 (SURVEY.md §2.1: the test file is
    authoritative; the comment predates the solver hookup)."""
    udtf_store.remove_model("production_model")
    results = [sql(s) for s in _statements(f"{REF}/example_usage.sql")]
    solve_rows = next(
        rows
        for rows in results
        if rows and hasattr(rows[0], "solution_value")
    )
    assert [tuple(r) for r in solve_rows] == [
        ("x", "x_0", 0.0, 1.0, "Optimal"),
        ("y", "y_1", 1.0, 1.0, "Optimal"),
    ]


def test_test_extension_verbatim(sql):
    """test_extension.sql — the smoke script — completes the 4/4 set of
    reference SQL artifacts running unchanged."""
    udtf_store.remove_model("test_model")
    results = [sql(s) for s in _statements(f"{REF}/test_extension.sql")]
    assert "HiGHS version" in results[0][0][0]  # highs_version('Test') banner
    assert "OpenSSL" in results[1][0][0]
    solve_rows = results[-1]
    # min x s.t. 0 <= x <= 5 (range row), x in [0,10] -> x = 0
    assert [tuple(r) for r in solve_rows] == [("x", "x_0", 0.0, 1.0, "Optimal")]
