"""Python workers re-read a zip on their import path only when it changed.

pyspark's worker calls ``importlib.invalidate_caches()`` at every task's
start; on CPython 3.10–3.12 that re-reads every archive's directory once per
zipimporter (see ``highs_duckdb_spark._worker``). These tests count the
re-reads instead of timing tasks.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from highs_duckdb_spark import _worker
from highs_duckdb_spark.session import ensure_shipped

needs_eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches is already lazy on this Python",
)


def _is_stock(method) -> bool:
    return method.__module__ == "zipimport"


@pytest.fixture()
def read_counter(monkeypatch):
    """Count ``zipimport._read_directory`` calls, per archive."""
    reads: list[str] = []
    orig = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return orig(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.fixture()
def restore_invalidate():
    orig = zipimport.zipimporter.invalidate_caches
    yield
    zipimport.zipimporter.invalidate_caches = orig


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@needs_eager_zipimport
def test_worker_task_start_rereads_no_archive(spark):
    ensure_shipped(spark)

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import highs_duckdb_spark  # noqa: F401  (the install hook)

        reads = []
        orig = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return orig(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        importers = sum(
            isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "reads": [len(reads)],
                "importers": [importers],
                "method": [zipimport.zipimporter.invalidate_caches.__module__],
            }
        )

    rows = spark.range(0, 4, 1, 2).mapInPandas(
        probe, "reads long, importers long, method string"
    ).collect()
    assert rows
    for r in rows:
        # the worker imports pyspark from pyspark.zip, so the check is not vacuous
        assert r["importers"] > 0
        assert r["method"] == "highs_duckdb_spark._worker"
        assert r["reads"] == 0


@needs_eager_zipimport
def test_unchanged_archive_not_reread_rewritten_one_is(
    tmp_path, monkeypatch, read_counter, restore_invalidate
):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"hds_zip_mod_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("hds_zip_mod_a").VALUE == 1
        assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)

        _worker.install()
        read_counter.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert str(archive) not in read_counter

        _write_zip(archive, {"hds_zip_mod_a": "VALUE = 1\n", "hds_zip_mod_b": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert read_counter.count(str(archive)) == 1
        assert importlib.import_module("hds_zip_mod_b").VALUE == 2

        read_counter.clear()
        importlib.invalidate_caches()
        assert str(archive) not in read_counter
    finally:
        for name in ("hds_zip_mod_a", "hds_zip_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def test_install_is_idempotent_and_gated_by_python(restore_invalidate):
    _worker.install()
    first = zipimport.zipimporter.invalidate_caches
    _worker.install()
    assert zipimport.zipimporter.invalidate_caches is first
    if sys.version_info >= (3, 13):
        assert _is_stock(first)  # already lazy: left alone
    else:
        assert first is _worker._invalidate_caches


def test_driver_method_untouched(spark):
    from highs_duckdb_spark.functions.udtf import register_table_functions
    from highs_duckdb_spark.optim import udtf_store

    udtf_store.remove_model("zipimport_driver_probe")
    register_table_functions(spark)
    rows = spark.sql(
        "SELECT * FROM highs_create_variables("
        "'zipimport_driver_probe', 'x', 0.0, 1.0, 1.0, 'continuous')"
    ).collect()
    udtf_store.remove_model("zipimport_driver_probe")
    assert rows[0]["status"] == "SUCCESS"
    assert _is_stock(zipimport.zipimporter.invalidate_caches)
