"""Named LP/MIP model registry + the reference extension's 6 SQL functions.

Mirrors the reference's process-global, mutex-guarded registry
(reference: src/highs_extension.cpp:26-76) and its function surface
(reference: src/highs_extension.cpp:725-776) with the same semantics:

- errors are **data**, not exceptions: every function returns a 1-row
  DataFrame whose ``status`` column carries ``SUCCESS`` or
  ``ERROR: <message>`` (reference: src/highs_extension.cpp:211-224);
- ``variable_index`` / ``constraint_index`` are the strings
  ``"{name}_{idx}"`` with insertion-order indices (reference:
  src/highs_extension.cpp:203-208);
- duplicate coefficient entries append (no dedup; reference:
  src/highs_extension.cpp:434-436) and are summed at matrix build —
  the same net matrix HiGHS assembles;
- ``solve`` re-solves on every call (per-scan state in the reference:
  src/highs_extension.cpp:719-722) and emits one row per variable in
  insertion order, with ``binary`` bounds clamped to [0,1]
  (reference: src/highs_extension.cpp:574-584).

These rules live here once. :class:`HighsModelInfo`'s ``add_*`` methods
build a model and raise :class:`ModelError` with the reference's message;
``index_row`` / ``coefficient_row`` / ``solve_rows`` turn one statement
into its status rows. The Python API below, the SQL table functions
(:mod:`highs_duckdb_spark.functions.udtf`) and the bulk assembler
(:mod:`highs_duckdb_spark.optim.bulk`) all call them.

Spark-design note: models here are KB-scale (≤34 vars in the reference's
own examples) so mutation happens on the driver under a ``threading.Lock``,
exactly paralleling the reference's single-process mutex. The scale path —
thousands of models defined relationally as DataFrames — lives in
:mod:`highs_duckdb_spark.optim.bulk`: ``repartition(W, "model_name")`` then
``mapInPandas``, so each executor task assembles and solves the models of
one hash bucket.
"""

from __future__ import annotations

import ssl
import threading
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from highs_duckdb_spark.optim.simplex import solve_lp, solve_milp
from highs_duckdb_spark.session import local_rows_df

#: Version string for the embedded solver. The reference reports the HiGHS
#: library version (reference: src/highs_extension.cpp:117-126); ours is the
#: version of this package's built-in simplex implementation.
SOLVER_VERSION = "1.7.2-pysimplex"

VARIABLE_RESULT_SCHEMA = "variable_name string, variable_index string, status string"
CONSTRAINT_RESULT_SCHEMA = "constraint_name string, constraint_index string, status string"
COEFFICIENT_RESULT_SCHEMA = (
    "constraint_name string, variable_name string, coefficient double, status string"
)
SOLVE_RESULT_SCHEMA = (
    "variable_name string, variable_index string, solution_value double, "
    "reduced_cost double, status string"
)


class ModelError(Exception):
    """A statement the model's rules reject; ``str(e)`` is the reference's
    message, reported as the status row ``ERROR: <message>``."""


def model_not_found(model_name: str) -> str:
    """The reference's message for a statement on a model that does not exist."""
    return f"Model '{model_name}' not found"


@dataclass
class HighsModelInfo:
    """Per-model mutable state (reference: src/highs_extension.cpp:26-44)."""

    variable_indices: dict[str, int] = field(default_factory=dict)
    constraint_indices: dict[str, int] = field(default_factory=dict)
    variable_names: list[str] = field(default_factory=list)
    constraint_names: list[str] = field(default_factory=list)
    obj_coefficients: list[float] = field(default_factory=list)
    var_lower_bounds: list[float] = field(default_factory=list)
    var_upper_bounds: list[float] = field(default_factory=list)
    constraint_lower_bounds: list[float] = field(default_factory=list)
    constraint_upper_bounds: list[float] = field(default_factory=list)
    #: COO-by-row: constraint_coefficients[row] = [(var_idx, coeff), ...]
    constraint_coefficients: dict[int, list[tuple[int, float]]] = field(default_factory=dict)
    variable_types: list[str] = field(default_factory=list)
    next_var_index: int = 0
    next_constraint_index: int = 0
    # objective sense is hard-coded to minimize (reference: src/highs_extension.cpp:43)

    def add_variable(self, model_name: str, name: str, lb, ub, obj, vtype: str) -> int:
        """Append a variable; its index (reference: src/highs_extension.cpp:157-263)."""
        if name in self.variable_indices:
            raise ModelError(f"Variable '{name}' already exists in model '{model_name}'")
        idx = self.next_var_index
        self.next_var_index += 1
        self.variable_indices[name] = idx
        self.variable_names.append(name)
        self.obj_coefficients.append(float(obj))
        self.var_lower_bounds.append(float(lb))
        self.var_upper_bounds.append(float(ub))
        self.variable_types.append(vtype)
        return idx

    def add_constraint(self, model_name: str, name: str, lb, ub) -> int:
        """Append a range constraint lb ≤ a·x ≤ ub; its index
        (reference: src/highs_extension.cpp:266-373)."""
        if name in self.constraint_indices:
            raise ModelError(f"Constraint '{name}' already exists in model '{model_name}'")
        idx = self.next_constraint_index
        self.next_constraint_index += 1
        self.constraint_indices[name] = idx
        self.constraint_names.append(name)
        self.constraint_lower_bounds.append(float(lb))
        self.constraint_upper_bounds.append(float(ub))
        self.constraint_coefficients.setdefault(idx, [])
        return idx

    def add_coefficient(self, model_name: str, constraint: str, variable: str, coef) -> None:
        """Append a (constraint, variable) coefficient without dedup, like
        the reference (reference: src/highs_extension.cpp:376-507)."""
        var_idx = self.variable_indices.get(variable)
        if var_idx is None:
            raise ModelError(f"Variable '{variable}' not found in model '{model_name}'")
        con_idx = self.constraint_indices.get(constraint)
        if con_idx is None:
            raise ModelError(f"Constraint '{constraint}' not found in model '{model_name}'")
        self.constraint_coefficients.setdefault(con_idx, []).append((var_idx, float(coef)))


class ModelRegistry:
    """Process-wide singleton registry (reference: src/highs_extension.cpp:46-76)."""

    _instance: "ModelRegistry | None" = None
    _instance_lock = threading.Lock()

    def __init__(self) -> None:
        self._models: dict[str, HighsModelInfo] = {}
        self._lock = threading.Lock()

    @classmethod
    def instance(cls) -> "ModelRegistry":
        with cls._instance_lock:
            if cls._instance is None:
                cls._instance = cls()
            return cls._instance

    @property
    def mutation_lock(self) -> threading.Lock:
        """Held by the API functions across check-and-mutate sequences —
        the analogue of the reference holding its registry mutex for the
        whole table-function body (reference: src/highs_extension.cpp:58)."""
        return self._lock

    def get_or_create_model(self, name: str) -> HighsModelInfo:
        # callers must hold mutation_lock (re-entrancy not required: the dict
        # op itself is atomic under the GIL; the lock protects the larger
        # check-and-mutate sequences in the API functions)
        return self._models.setdefault(name, HighsModelInfo())

    def get_model(self, name: str) -> HighsModelInfo | None:
        return self._models.get(name)

    def remove_model(self, name: str) -> bool:
        # Exists for API parity; the reference never exposes it as SQL
        # (reference: src/highs_extension.cpp:72-75). Useful for test isolation.
        with self._lock:
            return self._models.pop(name, None) is not None

    def clear(self) -> None:
        with self._lock:
            self._models.clear()


def highs_version(name: str) -> str:
    """Scalar: greeting + solver version (reference: src/highs_extension.cpp:117-126)."""
    return f"Hello {name}, HiGHS version: {SOLVER_VERSION}"


def highs_openssl_version(name: str) -> str:
    """Scalar: greeting + OpenSSL version (reference: src/highs_extension.cpp:128-139)."""
    return f"Hello {name}, the HiGHS extension is running with OpenSSL version: {ssl.OPENSSL_VERSION}"


def index_row(add, model_name: str, name: str, *values) -> tuple:
    """Run one create statement, ``add(model_name, name, *values)`` with
    ``add`` a model's :meth:`~HighsModelInfo.add_variable` or
    :meth:`~HighsModelInfo.add_constraint` → its status row
    (VARIABLE_RESULT_SCHEMA / CONSTRAINT_RESULT_SCHEMA)."""
    try:
        idx = add(model_name, name, *values)
    except ModelError as e:
        return (name, "ERROR", f"ERROR: {e}")
    return (name, f"{name}_{idx}", "SUCCESS")


def coefficient_row(model: HighsModelInfo | None, model_name: str, constraint_name: str,
                    variable_name: str, coefficient) -> tuple:
    """Add a coefficient to ``model`` (None: the model does not exist) →
    its status row (COEFFICIENT_RESULT_SCHEMA)."""
    status = "SUCCESS"
    try:
        if model is None:
            raise ModelError(model_not_found(model_name))
        model.add_coefficient(model_name, constraint_name, variable_name, coefficient)
    except ModelError as e:
        status = f"ERROR: {e}"
    return (constraint_name, variable_name, float(coefficient), status)


def create_variables(
    spark: SparkSession,
    model_name: str,
    variable_name: str,
    lower_bound: float,
    upper_bound: float,
    obj_coefficient: float,
    var_type: str,
) -> DataFrame:
    """Add a variable; returns the 1-row status DataFrame
    (reference: src/highs_extension.cpp:157-263)."""
    registry = ModelRegistry.instance()
    with registry.mutation_lock:
        model = registry.get_or_create_model(model_name)
        row = index_row(
            model.add_variable, model_name, variable_name,
            lower_bound, upper_bound, obj_coefficient, var_type,
        )
    return local_rows_df(spark, [row], VARIABLE_RESULT_SCHEMA)


def create_constraints(
    spark: SparkSession,
    model_name: str,
    constraint_name: str,
    lower_bound: float,
    upper_bound: float,
) -> DataFrame:
    """Add a range constraint lb ≤ a·x ≤ ub
    (reference: src/highs_extension.cpp:266-373)."""
    registry = ModelRegistry.instance()
    with registry.mutation_lock:
        model = registry.get_or_create_model(model_name)
        row = index_row(model.add_constraint, model_name, constraint_name, lower_bound, upper_bound)
    return local_rows_df(spark, [row], CONSTRAINT_RESULT_SCHEMA)


def set_coefficients(
    spark: SparkSession,
    model_name: str,
    constraint_name: str,
    variable_name: str,
    coefficient: float,
) -> DataFrame:
    """Append a (constraint, variable) coefficient — appends without dedup,
    like the reference (reference: src/highs_extension.cpp:376-507)."""
    registry = ModelRegistry.instance()
    with registry.mutation_lock:
        row = coefficient_row(
            registry.get_model(model_name), model_name, constraint_name, variable_name,
            coefficient,
        )
    return local_rows_df(spark, [row], COEFFICIENT_RESULT_SCHEMA)


def _assemble(model: HighsModelInfo):
    """Model state → solver arrays (c, a, row_lb, row_ub, col_lb, col_ub,
    is_int). The ONLY place the duplicate-coefficient summing rule and the
    binary [0,1] clamp live — shared by the primal solve and the dual
    report so the two can never assemble different matrices."""
    n = model.next_var_index
    m = model.next_constraint_index
    c = np.array(model.obj_coefficients, dtype=float)
    col_lb = np.array(model.var_lower_bounds, dtype=float)
    col_ub = np.array(model.var_upper_bounds, dtype=float)
    row_lb = np.array(model.constraint_lower_bounds, dtype=float)
    row_ub = np.array(model.constraint_upper_bounds, dtype=float)
    a = np.zeros((m, n))
    for row_idx, entries in model.constraint_coefficients.items():
        for var_idx, coeff in entries:
            a[row_idx, var_idx] += coeff  # duplicates sum (reference appends; HiGHS sums)

    is_int = np.zeros(n, dtype=bool)
    for i, vt in enumerate(model.variable_types):
        if vt == "binary":
            is_int[i] = True
            # binary clamps bounds to [0,1] (reference: src/highs_extension.cpp:577-584)
            col_lb[i] = max(0.0, col_lb[i])
            col_ub[i] = min(1.0, col_ub[i])
        elif vt == "integer":
            is_int[i] = True
    return c, a, row_lb, row_ub, col_lb, col_ub, is_int


def _assemble_and_solve(model: HighsModelInfo):
    """Assemble ``model`` and solve it: as a MILP when any variable is
    integer or binary, else as an LP → (a, is_mip, result)."""
    c, a, row_lb, row_ub, col_lb, col_ub, is_int = _assemble(model)
    if is_int.any():
        return a, True, solve_milp(c, a, row_lb, row_ub, col_lb, col_ub, is_int)
    return a, False, solve_lp(c, a, row_lb, row_ub, col_lb, col_ub)


def solve_model_info(model: HighsModelInfo) -> list[tuple[str, str, float, float, str]]:
    """Solve one in-memory model → solution rows (plain Python, no Spark).

    Shared by the driver-side :func:`solve` and the executor-side bulk path.
    Row order = variable insertion order (reference:
    src/highs_extension.cpp:669-685).
    """
    _a, _is_mip, res = _assemble_and_solve(model)
    rows = []
    for i, name in enumerate(model.variable_names):
        sol = float(res.x[i]) if res.x.size > i else 0.0
        rc = float(res.reduced_costs[i]) if res.reduced_costs.size > i else 0.0
        rows.append((name, f"{name}_{i}", sol, rc, res.status))
    return rows


def solve_error_row(message) -> tuple:
    """The one row a solve reports in place of a solution."""
    return ("N/A", "ERROR", 0.0, 0.0, f"ERROR: {message}")


def solve_rows(
    model: HighsModelInfo | None, model_name: str, solver=solve_model_info
) -> list[tuple]:
    """Solve ``model`` (None: the model does not exist) with ``solver`` →
    its rows, errors as data."""
    if model is None:
        return [solve_error_row(model_not_found(model_name))]
    try:
        return solver(model)
    except Exception as e:  # error-as-data contract
        return [solve_error_row(e)]


def solve(spark: SparkSession, model_name: str) -> DataFrame:
    """Solve a registry model → one row per variable
    (reference: src/highs_extension.cpp:512-722).

    Re-solves on every call — solver state is per-invocation, matching the
    reference's per-scan global state.
    """
    registry = ModelRegistry.instance()
    with registry.mutation_lock:  # stable snapshot of the model while solving
        rows = solve_rows(registry.get_model(model_name), model_name)
    return local_rows_df(spark, rows, SOLVE_RESULT_SCHEMA)


DUALS_RESULT_SCHEMA = (
    "constraint_name string, constraint_index string, dual double, "
    "activity double, status string"
)


def solve_model_duals(model: HighsModelInfo) -> list[tuple[str, str, float, float, str]]:
    """Solve → one row per CONSTRAINT with its dual (shadow price) and
    activity a·x.

    Beyond-reference surface: the reference exposes only variable-side
    ``col_dual`` (reduced cost, src/highs_extension.cpp:607); HiGHS also
    computes ``row_dual``, which is the economically meaningful shadow
    price (∂objective/∂rhs). Row order = constraint insertion order, the
    same contract the solve output keeps for variables. MILP models get
    dual 0.0 (duals are undefined for MIP), mirroring how the reference
    backfills reduced costs."""
    n = model.next_var_index
    m = model.next_constraint_index
    a, is_mip, res = _assemble_and_solve(model)
    duals = res.row_duals if not is_mip and res.row_duals.size == m else np.zeros(m)
    activity = a @ res.x if res.x.size == n else np.zeros(m)
    rows = []
    for i, name in enumerate(model.constraint_names):
        rows.append(
            (name, f"{name}_{i}", float(duals[i]), float(activity[i]), res.status)
        )
    return rows


def solve_duals(spark: SparkSession, model_name: str) -> DataFrame:
    """Shadow-price report for a registry model: one row per constraint."""
    registry = ModelRegistry.instance()
    with registry.mutation_lock:
        rows = solve_rows(registry.get_model(model_name), model_name, solve_model_duals)
    return local_rows_df(spark, rows, DUALS_RESULT_SCHEMA)
