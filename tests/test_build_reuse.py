"""Work a recurring query mix should not repeat: generated classes are
compiled once per session, builders read schemas the session already
holds instead of starting a Spark job, and a streaming builder leaves no
checkpoint behind."""

from __future__ import annotations

import glob
import os
import tempfile
import uuid

import pytest

from highs_duckdb_spark.operators import QUERIES
from highs_duckdb_spark.session import DEFAULT_SF_DIR as SF
from highs_duckdb_spark.session import codegen_compiles, load_table

#: the olap_sf01 benchmark mix: bench.py's headline queries without opt05,
#: plus the qs01 AvailableNow replay
OLAP_SF01 = [
    "q01_pricing_summary", "q07_global_agg", "q10_join_broadcast", "q11_join_multiway",
    "q20_distinct_agg", "q30_window_rank", "q42_topk", "q42_topk_banded",
    "q64_tpch_q3_shipping_priority", "q65_tpch_q5_local_volume", "q80_asof_join",
    "t05_fingerprint", "d01_exact_dedup", "d03_minhash_lsh_pairs", "s01_cosine_topk",
    "qs01_stream_tumbling",
]


def _build_banded(spark) -> None:
    from highs_duckdb_spark.sources.layout import banded_orders_path, build_banded_orders

    build_banded_orders(spark, SF)
    assert banded_orders_path(SF) is not None


def test_second_pass_compiles_no_class(spark):
    """One pass of the mix needs more classes than Spark's default codegen
    cache (100) holds; with the session's cache a second pass finds every
    class cached."""
    _build_banded(spark)
    for name in OLAP_SF01:
        QUERIES[name].builder(spark, SF).toArrow()
    before = codegen_compiles(spark)
    for name in OLAP_SF01:
        QUERIES[name].builder(spark, SF).toArrow()
    assert codegen_compiles(spark) - before == 0


def _jobs_started_by(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn`` starts from the calling thread (a
    streaming query's micro-batches run under their own job group)."""
    sc = spark.sparkContext
    group = f"hds-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "builder under test")
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "name, table", [("q42_topk_banded", "orders"), ("qs01_stream_tumbling", "events")]
)
def test_headline_builder_starts_no_job(spark, name, table):
    """q42_topk_banded and qs01 take their parquet schema from the reader
    cache: once the table is loaded, building them infers no schema."""
    _build_banded(spark)
    load_table(spark, table, SF)
    assert _jobs_started_by(spark, lambda: QUERIES[name].builder(spark, SF)) == []


def test_banded_and_stream_schemas_match_inferred(spark):
    """The declared schemas are the ones inference gives: on the events
    file the stream reads, and on the banded files q42_topk_banded reads."""
    from highs_duckdb_spark.session import source_schema
    from highs_duckdb_spark.sources.layout import banded_orders_path

    _build_banded(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = spark.read.parquet(os.path.join(SF, "events.parquet")).schema
    assert source_schema(spark, "events", SF) == events
    files = glob.glob(os.path.join(banded_orders_path(SF), "*", "*.parquet"))
    assert files
    assert source_schema(spark, "orders", SF) == spark.read.parquet(*files).schema


@pytest.mark.parametrize(
    "name",
    [
        "qs01_stream_tumbling",
        "qs08_stream_foreachbatch_merge",
        "qs12_stream_scd2",
        "qs15_stream_late_data_drop",
        "qs16_stream_dead_letter_split",
        "qs19_stream_mv_maintenance",
    ],
)
def test_streaming_builders_leave_no_checkpoint(spark, tmp_path, monkeypatch, name):
    """A stream run into a memory table, and the builders that await their
    own AvailableNow query, remove its checkpoint once it has terminated."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert QUERIES[name].builder(spark, SF).count() > 0
    assert glob.glob(os.path.join(str(tmp_path), "hds_ckpt_*")) == []
