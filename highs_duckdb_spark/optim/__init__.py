"""Optimization layer: LP/MIP modeling + solving, PySpark-native.

Replicates the 6 SQL functions of the reference DuckDB extension
(reference: src/highs_extension.cpp:725-776) with:

- :mod:`highs_duckdb_spark.optim.simplex` — pure-numpy bounded-variable
  revised simplex (LP, with reduced costs) + branch-and-bound (MILP).
  The container has no scipy/HiGHS binding, so the solver itself is
  implemented from the textbook algorithms.
- :mod:`highs_duckdb_spark.optim.registry` — the named-model registry and
  the 6 API functions with the reference's exact output schemas and
  error-as-status-row contract.
- :mod:`highs_duckdb_spark.optim.bulk` — the Spark-idiomatic bulk path:
  models as DataFrames, many models solved in parallel, one pandas task
  per hash bucket of ``model_name`` (``repartition`` + ``mapInPandas``).
"""

from highs_duckdb_spark.optim.registry import (
    HighsModelInfo,
    ModelRegistry,
    create_constraints,
    create_variables,
    highs_openssl_version,
    highs_version,
    set_coefficients,
    solve,
)
from highs_duckdb_spark.optim.simplex import LPResult, solve_lp, solve_milp

__all__ = [
    "LPResult",
    "solve_lp",
    "solve_milp",
    "HighsModelInfo",
    "ModelRegistry",
    "create_variables",
    "create_constraints",
    "set_coefficients",
    "solve",
    "highs_version",
    "highs_openssl_version",
]
