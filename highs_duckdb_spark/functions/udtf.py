"""SQL table functions (Spark 4 Python UDTFs) — the literal analogue of the
reference's DuckDB table functions: after registration, the reference's own
SQL shape runs verbatim in Spark SQL::

    SELECT * FROM highs_create_variables('m', 'x', 0.0, 1e30, 1.0, 'continuous');
    SELECT * FROM highs_solve('m');

(reference: src/highs_extension.cpp:740-775 registrations;
example_usage.sql:40-54 usage).

UDTFs evaluate in Python worker processes with no affinity guarantees, so
model state lives in the file-backed store
(:mod:`highs_duckdb_spark.optim.udtf_store`): machine-global and
lock-guarded, preserving the reference's process-global registry semantics
across whichever workers the statements land on. Each ``eval`` only loads
the model and persists it: the rules for building a model and the status
row of each statement (duplicate and unknown names, insertion-order
indices, the solve guard) live in :mod:`highs_duckdb_spark.optim.registry`,
shared with the driver-side API there (the primary programmatic path) and
the distributed path for real scale, :mod:`highs_duckdb_spark.optim.bulk`.

Cost per statement: each statement is one Spark job running one Python
task, and nearly all of its time is that task, not Catalyst (~10 ms). On
CPython 3.10–3.12 a statement used to take ~0.3 s, most of it before
``eval`` ran: pyspark's worker calls ``importlib.invalidate_caches()`` at
every task's start, and that re-read the directory of every zip on the
worker's ``sys.path`` (``pyspark.zip`` once per subpackage, the spark-core
jar, this package's shipped zip). The package's import hook
(:mod:`highs_duckdb_spark._worker`) makes it re-read only archives that
changed, which left ~0.1 s per statement on a 4-core host, ~40 ms of it a
delayed-ACK stall on the TCP loopback socket between the JVM and the
worker. ``session.get_spark`` moves that traffic onto Unix domain
sockets, which leaves ~0.06 s (a one-task job with no Python: ~0.04 s).

Caveat (inherent to side-effecting table functions): a Spark task retry or
speculative duplicate re-executes ``eval`` — a create that already persisted
then reports a duplicate ERROR row. Single-task constant-argument calls
make this window tiny, but exactly-once mutation semantics need the
driver-side API; this layer exists for verbatim SQL-script compatibility.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.functions import udtf

from highs_duckdb_spark.optim import registry
from highs_duckdb_spark.session import ensure_shipped


@udtf(returnType=registry.VARIABLE_RESULT_SCHEMA)
class HighsCreateVariablesUDTF:
    def eval(  # noqa: D102
        self,
        model_name: str,
        variable_name: str,
        lower_bound: float,
        upper_bound: float,
        obj_coefficient: float,
        var_type: str,
    ):
        from highs_duckdb_spark.optim.udtf_store import locked_model

        with locked_model(model_name, create=True) as model:
            row = registry.index_row(
                model.add_variable, model_name, variable_name,
                lower_bound, upper_bound, obj_coefficient, var_type,
            )
        yield row


@udtf(returnType=registry.CONSTRAINT_RESULT_SCHEMA)
class HighsCreateConstraintsUDTF:
    def eval(self, model_name: str, constraint_name: str, lower_bound: float, upper_bound: float):  # noqa: D102
        from highs_duckdb_spark.optim.udtf_store import locked_model

        with locked_model(model_name, create=True) as model:
            row = registry.index_row(model.add_constraint, model_name, constraint_name, lower_bound, upper_bound)
        yield row


@udtf(returnType=registry.COEFFICIENT_RESULT_SCHEMA)
class HighsSetCoefficientsUDTF:
    def eval(self, model_name: str, constraint_name: str, variable_name: str, coefficient: float):  # noqa: D102
        from highs_duckdb_spark.optim.udtf_store import locked_model

        with locked_model(model_name, create=False) as model:
            row = registry.coefficient_row(model, model_name, constraint_name, variable_name, coefficient)
        yield row


@udtf(returnType=registry.SOLVE_RESULT_SCHEMA)
class HighsSolveUDTF:
    def eval(self, model_name: str):  # noqa: D102
        from highs_duckdb_spark.optim.udtf_store import locked_model

        with locked_model(model_name, create=False, readonly=True) as model:
            rows = registry.solve_rows(model, model_name)
        yield from rows


@udtf(returnType="model_name string, status string")
class HighsRemoveModelUDTF:
    """Drop a model from the store.

    Beyond-reference: ``HighsModelRegistry::RemoveModel`` exists in the
    C++ (reference: src/highs_extension.cpp:72-75) but is never registered
    as a SQL function, so reference models leak until process exit. SQL
    scripts here can clean up after themselves; removing a missing model
    follows the error-as-status-row contract rather than raising."""

    def eval(self, model_name: str):  # noqa: D102
        from highs_duckdb_spark.optim.udtf_store import remove_model_checked

        # check + delete are ONE locked operation: a concurrent create
        # can land before or after the removal, never inside it
        if remove_model_checked(model_name):
            yield (model_name, "SUCCESS")
        else:
            yield (model_name, f"ERROR: {registry.model_not_found(model_name)}")


def register_table_functions(spark: SparkSession) -> None:
    """Register the table functions under the reference's SQL names (plus
    highs_remove_model, which the reference implements but never exposes)."""
    ensure_shipped(spark)
    spark.udtf.register("highs_create_variables", HighsCreateVariablesUDTF)
    spark.udtf.register("highs_create_constraints", HighsCreateConstraintsUDTF)
    spark.udtf.register("highs_set_coefficients", HighsSetCoefficientsUDTF)
    spark.udtf.register("highs_solve", HighsSolveUDTF)
    spark.udtf.register("highs_remove_model", HighsRemoveModelUDTF)
