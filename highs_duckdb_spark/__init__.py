"""highs_duckdb_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the ``fhk/HiGHS-duckdb`` DuckDB extension.

Two layers (see SURVEY.md):

1. **Relational layer** — Spark SQL / DataFrame API. Every SQL construct the
   reference's scripts exercise (CTE, CASE, LIKE/ILIKE, split_part, concat,
   cast, aggregates, ORDER BY, ...) is a Spark builtin; the curated query
   suite lives in :mod:`highs_duckdb_spark.operators`.

2. **Optimization layer** — a PySpark-native LP/MIP modeling module
   replicating the reference extension's 6 SQL functions
   (reference: src/highs_extension.cpp:725-776) on top of a pure-numpy
   simplex + branch-and-bound solver (:mod:`highs_duckdb_spark.optim`).

Beyond the reference, :mod:`highs_duckdb_spark.operators` also ships the
LLM-data-pipeline operators (dedup, similarity search, text analysis,
multimodal plumbing) designed for 100 TB scale.
"""

from highs_duckdb_spark import _worker
from highs_duckdb_spark.session import get_spark, load_table, load_tables

# per-task zip re-reads in Python workers (see _worker); a no-op in the driver
_worker.install_in_task()

__version__ = "0.1.0"

__all__ = ["get_spark", "load_table", "load_tables", "__version__"]
