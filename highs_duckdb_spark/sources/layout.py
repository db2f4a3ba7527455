"""Storage-layout levers: bucketed / sort-clustered copies of the fact
tables, and a price-banded partition layout for top-k pruning.

At 100 TB the biggest residual costs in the headline joins are the
fact-scale shuffles (BENCH_SCALING.md regime 3). Bucketing the tables that
join on the same key removes those shuffles entirely — `tests/test_plans.py
::test_bucketed_join_has_no_shuffle` proves the plan property; this module
makes it a deployable layout:

- ``lineitem``/``orders`` CLUSTERED AND SORTED BY orderkey → their join
  (TPC-H Q3/Q5 and every order-grain rollup) is exchange-free and
  sort-free on both sides;
- ``customer`` CLUSTERED BY c_custkey → a custkey-shuffled stream joins
  it bucket-aligned with no customer-side exchange;
- ``orders_banded`` hive-partitioned by a 16-band o_totalprice range →
  top-k by price reads only the top band(s) via partition pruning
  (the zone-map skip DuckDB does dynamically, made static in the layout;
  see q42_topk_banded).

``attach_bucketed`` repoints ``load_table`` at the bucketed catalog tables
(the local analog of repointing a production catalog at a new layout), so
every registered query transparently picks the layout up. The bench's
``--layout=bucketed`` mode uses exactly this; DuckDB reads the SAME
bucketed files, so the comparison stays file-identical.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from highs_duckdb_spark.session import load_table, set_table_override

BUCKETS = 32

#: table → (bucket columns, sort columns)
BUCKET_SPECS: dict[str, tuple[list[str], list[str]]] = {
    "lineitem": (["l_orderkey"], ["l_orderkey"]),
    "orders": (["o_orderkey"], ["o_orderkey"]),
    "customer": (["c_custkey"], ["c_custkey"]),
}

#: table → {variant: (bucket columns, sort columns)} — ALTERNATE clustered
#: copies of the same rows (projections/secondary clusterings). A fact that
#: joins on two different keys in the same workload (orders: orderkey to
#: lineitem, custkey to customer) can't be exchange-free on both from one
#: copy; a second copy clustered on the other key lets the CBO pick the
#: copy that matches each query's join entry key (cbo.JoinGraph.fact with
#: ``prepare=``). Storage cost: one extra orders-sized write at layout
#: build; at 100 TB this is the classic projection/duplicate-clustering
#: trade every warehouse makes for its hottest fact.
ALT_BUCKET_SPECS: dict[str, dict[str, tuple[list[str], list[str]]]] = {
    "orders": {"by_custkey": (["o_custkey"], ["o_custkey"])},
    # round 10 (VERDICT r09 item 1): the q10/Q9 class probes 600M lineitem
    # rows against one part-keyed broadcast map that outgrows L3 at sf100
    # (~every probe a cache miss). A partkey-clustered lineitem copy joined
    # co-partitioned with a partkey-clustered part copy replaces the single
    # big map with one ~1 MB cache-resident build per bucket, zero
    # exchanges on either side — DuckDB's partitioned hash probe
    # (SURVEY.md §4.2), declared as storage. The CBO takes it only when
    # the estimated build map exceeds L3 (cbo._pick_cocluster).
    "lineitem": {"by_partkey": (["l_partkey"], ["l_partkey"])},
    "part": {"by_partkey": (["p_partkey"], ["p_partkey"])},
}

#: (applicationId, sf_dir, table) → {frozenset(bucket cols): catalog ident}
_ALT_COPIES: dict[tuple[str, str, str], dict[frozenset[str], str]] = {}

#: Materialized JOIN projections (denormalized pre-joins — the
#: Vertica-projection / materialized-view lever): name → spec. Built from
#: the already-bucketed primaries, so the build join is bucket-aligned
#: (exchange-free) and the writer's bucketBy fans rows into the new
#: clustering without a shuffle. ``drop`` removes the duplicated join key.
#: lineitem_orders clustered by o_custkey turns TPC-H Q5-shaped queries
#: into projection ⋈ customer (both custkey-bucketed: zero fact
#: exchanges) + broadcast dims.
JOIN_PROJECTION_SPECS: dict[str, dict] = {
    "lineitem_orders": {
        "left": "lineitem",
        "right": "orders",
        "on": ("l_orderkey", "o_orderkey"),
        # column-subset projection (the Vertica-projection shape): carry
        # only what the Q3/Q5/Q10 query class reads. A full-width lineitem
        # x orders denormalization is ~3x the column bytes and its build
        # shuffle exceeds a single node's scratch disk at sf100; the
        # subset builds in one narrow shuffle and scans 3x faster.
        # l_returnflag (round 7): 3-value dictionary column, ~bits per row
        # — widens the served class to the Q10 returned-items shape (q104)
        # at negligible storage cost.
        # l_partkey + l_quantity (round 7, advisor-driven): the projection
        # advisor's widening suggestion — the union of every recorded
        # missing_columns decline (tools/projection_advisor.py; q103's Q9
        # shape needs both, q96's Q18 shape needs l_quantity). Readers are
        # unaffected (parquet column pruning), the cost is build/storage
        # only: l_quantity is a 1..50 dictionary column, l_partkey the one
        # real add (high-NDV, ~4 B/row after the custkey-sorted encoding);
        # measured at sf10 in BENCH_SCALING round 7.
        "columns": [
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            "l_quantity",
            "l_shipdate",
            "l_extendedprice",
            "l_discount",
            "l_returnflag",
            "o_custkey",
            "o_orderdate",
            "o_orderpriority",
        ],
        "bucket_cols": ["o_custkey"],
        # in-file sort for ENCODING, not join order: clustered custkey +
        # date runs restore dictionary/RLE locality the hash repartition
        # destroys (unsorted, the 8-column projection wrote 9.6 GB at
        # sf100 — bigger per column than the source). The fan-out
        # repartition bounds each writer task to ~1/256th of the table,
        # so the writer-side sorter never spills meaningfully.
        "sort_cols": ["o_custkey", "o_orderdate"],
        # catalog PRIMARY-KEY metadata for partial-column matching: a
        # query needing an orders column OUTSIDE the projection may rejoin
        # the base table on its unique key through the projection's
        # l_orderkey values (lossless: the build join was an inner FK
        # equi-join). lineitem declares NO residual key — its unique key
        # (l_orderkey, l_linenumber) is not carried, so lineitem-side
        # partial matches must decline (a rejoin on l_orderkey alone would
        # multiply rows).
        "residual": {"orders": ("l_orderkey", "o_orderkey")},
    },
}


def _q65_revenue_cents():
    """Canonical q65/TPC-H-Q5 revenue expression (exact cents integer) —
    the agg-MV matcher compares the QUERY's declared aggregate expression
    against this builder's canonical text (str of the Column), so query
    and spec must build the expression through the same helpers."""
    from highs_duckdb_spark.functions.money import cents

    return cents("l_extendedprice") * (100 - cents("l_discount"))


def _q7_volume():
    """Canonical TPC-H Q7-class exact-decimal volume (q101)."""
    from highs_duckdb_spark.functions.money import disc_price

    return disc_price()


def _q8_volume():
    """Canonical TPC-H Q8-class volume, dec(14,4) as the oracle pins it
    (q102's market-share numerator/denominator)."""
    from highs_duckdb_spark.functions.money import disc_price

    return disc_price().cast("decimal(14,4)")


#: Materialized AGGREGATE views (pre-aggregated join projections — the
#: Calcite/DuckDB aggregate-MV rewrite's catalog objects; VERDICT r07
#: item 1). A spec pre-joins ``tables`` on ``joins`` (all inner FK
#: equi-joins: each join's right side is matched on a unique key, so no
#: row multiplication), adds ``derived`` columns (fn over a source
#: column), and aggregates ``aggs`` by ``group_keys``. The planner
#: (plans/cbo.JoinGraph._try_agg_mv) substitutes the MV for a declared
#: graph whose join set equals the spec's, whose filters are expressible
#: at the group-key grain, and whose declared aggregate is subsumed —
#: combining partials above the MV exactly as eager aggregation does.
#:
#: rev_by_nation_year: the TPC-H Q5/Q7/Q8 CLASS (q65, q101, q102). Grain
#: = 25 customer nations × 25 supplier nations × ~7 order years × ~2
#: ship years per order year ≈ 9k rows at ANY scale factor — the queries
#: that decode a 600M-row join projection at sf100 read ~9k
#: pre-aggregated rows instead. ``aggs`` values are
#: (fn, canonical-expression builder); one MV column per distinct
#: canonical aggregate the class declares (extra columns are free at
#: this grain).
AGG_MV_SPECS: dict[str, dict] = {
    "rev_by_nation_year": {
        "tables": ["lineitem", "orders", "customer", "supplier"],
        "joins": [
            ("lineitem", "l_orderkey", "orders", "o_orderkey"),
            ("orders", "o_custkey", "customer", "c_custkey"),
            ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ],
        "derived": {
            "o_year": ("year", "o_orderdate"),
            "ship_year": ("year", "l_shipdate"),
        },
        "group_keys": ["c_nationkey", "s_nationkey", "o_year", "ship_year"],
        "aggs": {
            "rev_c": ("sum", _q65_revenue_cents),
            "vol_dec": ("sum", _q7_volume),
            "vol_dec14": ("sum", _q8_volume),
        },
        #: columns the agg expressions read (build-side column pruning)
        "agg_cols": ["l_extendedprice", "l_discount"],
        #: BUILD-side broadcast declaration: these tables join on their
        #: PRIMARY KEY with only key + payload columns the MV needs, so
        #: their pruned projections are megabytes (supplier: 2 ints/row;
        #: customer: 2 ints/row ≈ 120 MB at sf100) while shuffling the
        #: lineitem-grain tree against them costs two fact-sized
        #: exchanges (~25 GB of spill at sf100 — measured to exhaust
        #: local disk). With both broadcast, the whole build is ONE
        #: streaming pass over the bucket-aligned lineitem⋈orders join
        #: plus the group-grain aggregation's tiny shuffle. At a scale
        #: where a pruned side outgrows executor memory, drop it from
        #: this list and pay its exchange — a per-spec deployment choice.
        "broadcast": ["customer", "supplier"],
    },
}

#: derived-column functions an AGG_MV spec may declare (and the matcher
#: may reason about: "year" supports year-aligned range-filter rewrite)
_DERIVED_FNS = {"year"}


def _normalized_spec(spec: dict) -> tuple[list[str], list[tuple[str, str, str, str]]]:
    """(tables, joins) for a projection spec — 2-table ``left/right/on``
    specs and N-table chain specs (``tables`` + ``joins`` lists) normalize
    to the same shape: joins are (table_a, key_a, table_b, key_b), ordered
    so each join's ``table_a`` is already reachable from earlier entries
    (the build folds them left-deep in list order)."""
    if "tables" in spec:
        return list(spec["tables"]), [tuple(j) for j in spec["joins"]]
    lk, rk = spec["on"]
    return [spec["left"], spec["right"]], [(spec["left"], lk, spec["right"], rk)]

#: (applicationId, sf_dir, projection name) → (catalog ident, files path)
_PROJECTIONS: dict[tuple[str, str, str], tuple[str, str]] = {}

#: pruned-scan reader cache: (applicationId, sf_dir, table, col, lo, hi) →
#: DataFrame over the pruned file subset (see pruned_scan)
_PRUNED_CACHE: dict[tuple, "DataFrame"] = {}

#: engage file-level pruning only on tables with at least this many files
#: (below it, parquet pushdown already skips the data and a narrower
#: reader only costs scan parallelism — measured in pruned_scan's comment)
PRUNE_MIN_FILES = 64

PRICE_BANDS = 16
#: o_totalprice in TPC-H-ish data spans ~[850, 560k]; a fixed band width
#: keeps the band ↔ price mapping data-independent (pure arithmetic, no
#: stats lookup), so band pruning is provably monotone in price.
PRICE_BAND_WIDTH = 40_000.0


def layout_active(spark: SparkSession, sf_dir: str, table: str = "lineitem") -> bool:
    """True when ``load_table`` for this (session, sf_dir) is overridden by
    a bucketed layout — the signal a cost-based optimizer would take from
    catalog metadata to pick a layout-aware join order (see q65)."""
    from highs_duckdb_spark.session import _TABLE_OVERRIDES

    return (spark.sparkContext.applicationId, sf_dir, table) in _TABLE_OVERRIDES


def default_layout_dir(sf_dir: str) -> str:
    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    base = os.path.basename(os.path.normpath(sf_dir)) or "data"
    return os.path.join(repo, "benchdata", "layout", base)


def _all_specs() -> list[tuple[str, str, list[str], list[str]]]:
    """Every clustered copy to build: (disk/ident name, source table,
    bucket cols, sort cols) — the primary copies plus the alternates."""
    specs = [(t, t, b, s) for t, (b, s) in BUCKET_SPECS.items()]
    for t, variants in ALT_BUCKET_SPECS.items():
        specs.extend((f"{t}__{v}", t, b, s) for v, (b, s) in variants.items())
    return specs


def _table_ident(layout_dir: str, table: str) -> str:
    tag = re.sub(r"[^0-9a-zA-Z]+", "_", os.path.basename(os.path.normpath(layout_dir)))
    return f"hds_b_{tag}_{table}"


def _parquet_row_count(path: str) -> int:
    """Total row count from parquet FOOTERS (no data scan) for a file or
    a directory of part-files. Used to validate empty-base shortcuts."""
    import glob as _glob

    import pyarrow.parquet as _pq

    files = (
        sorted(_glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    return sum(_pq.ParquetFile(f).metadata.num_rows for f in files)


def _source_fingerprint(sf_dir: str, table: str) -> str:
    """Cheap content fingerprint of the SOURCE parquet for ``table``.

    Layout dirs are keyed on the sf_dir basename, so a regenerated dataset
    (or a different one sharing the basename) must invalidate the built
    layout (ADVICE r04). The per-file (name, size) list catches any
    regeneration without scanning data — parquet writes are not
    byte-stable, so equal sizes on every part-file means the same build.
    """
    from highs_duckdb_spark.sources import stats as zstats

    return zstats.path_fingerprint(os.path.join(sf_dir, f"{table}.parquet"))


def _fingerprint_current(path: str, fp: str) -> bool:
    try:
        with open(os.path.join(path, "_source_fingerprint.json")) as f:
            import json

            return json.load(f).get("fingerprint") == fp
    except OSError:
        return False


def _write_fingerprint(path: str, fp: str, **extra) -> None:
    import json

    # atomic replace: a process killed mid-write must never leave a torn
    # marker that bricks every future attach/rebuild of this layout
    target = os.path.join(path, "_source_fingerprint.json")
    tmp = target + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"fingerprint": fp, **extra}, f)
    os.replace(tmp, target)


def _layout_marker(path: str) -> dict:
    try:
        with open(os.path.join(path, "_source_fingerprint.json")) as f:
            import json

            return json.load(f)
    except (OSError, ValueError):  # absent OR torn: caller treats as stale
        return {}


def _bucket_sorted(path: str, buckets: int) -> bool:
    """Whether each bucket of the layout at ``path`` is one sorted file.

    The marker records it for new builds; for pre-marker layouts the
    FILES are the ground truth — Spark encodes the bucket id in each file
    name (``..._00007.c000...``), so per-bucket sortedness holds exactly
    when no bucket id appears on more than one file. A total-count
    comparison is NOT equivalent (ADVICE r06: a coalesce-path build whose
    writer tasks fanned into fewer total files can still have multi-file
    buckets); unparseable names fall back to the count rule."""
    marker = _layout_marker(path)
    if "bucket_sorted" in marker:
        return bool(marker["bucket_sorted"])
    from highs_duckdb_spark.sources import stats as zstats

    files = zstats._parquet_files(path)
    seen: set[int] = set()
    for f in files:
        m = re.search(r"_(\d{5})\.c\d+", os.path.basename(f))
        if m is None:
            return len(files) <= buckets  # not Spark-bucketed names
        bucket_id = int(m.group(1))
        if bucket_id in seen:
            return False  # some bucket has several files: not sorted
        seen.add(bucket_id)
    return True


def build_bucketed_layout(
    spark: SparkSession,
    sf_dir: str,
    layout_dir: str | None = None,
    buckets: int = BUCKETS,
) -> str:
    """Write the bucketed copies (once — skipped when present) and return
    the layout directory. One ``repartition(buckets, key)`` before the
    bucketed write keeps it to exactly one file per bucket."""
    from highs_duckdb_spark.plans.strategy import dir_bytes

    layout_dir = layout_dir or default_layout_dir(sf_dir)
    # Above ~8 GB of source parquet the pre-write repartition's shuffle
    # spill (source-sized temp files on the same disk as the output) can
    # exhaust local disk; coalesce instead — no shuffle at all, each of
    # the ``buckets`` writer tasks fans its rows out to per-bucket files.
    # Hash distribution (the exchange-free-join property) is identical;
    # only the one-file-per-bucket sortedness guarantee is lost, which
    # SMJ would re-sort and SHJ never needed.
    big_source = dir_bytes(sf_dir) > (8 << 30)
    for table, source_table, bcols, scols in _all_specs():
        path = os.path.join(layout_dir, table)
        ident = _table_ident(layout_dir, table)
        fp = _source_fingerprint(sf_dir, source_table)
        if (
            os.path.isdir(path)
            and any(f.endswith(".parquet") for f in os.listdir(path))
            and _fingerprint_current(path, fp)
        ):
            continue
        # stale or absent: drop any prior catalog entry so the overwrite
        # can't race a schema/metadata mismatch from the old build
        spark.sql(f"DROP TABLE IF EXISTS {ident}")
        df = load_table(spark, source_table, sf_dir)
        shaped = df.coalesce(buckets) if big_source else df.repartition(buckets, *bcols)
        (
            shaped.write.mode("overwrite")
            .option("path", path)
            # Parquet DEFAULT dictionary behavior on purpose: a round-4
            # experiment wrote these files PLAIN-encoded on the theory that
            # big dictionary pages slowed q20's high-cardinality key decode
            # — measured at sf100 that was a ~2.5× regression on the
            # scan-bound aggregates (q01 5.0→12.7 s; low-cardinality money
            # columns lost their RLE-dictionary compression) while q20's
            # real problem was combine locality, not encoding. 32 MB row
            # groups keep row-group-parallel readers fed (the default
            # produced one 1.9M-row group per bucket file).
            .option("parquet.block.size", 32 << 20)
            .bucketBy(buckets, *bcols)
            .sortBy(*scols)
            .saveAsTable(ident)
        )
        from highs_duckdb_spark.sources import stats as zstats

        zstats.write_sidecar(path)  # file/row-group zone maps for pruned scans
        # the coalesce path fans each writer task out to per-bucket files
        # (buckets× files per bucket): hash distribution identical, but
        # per-BUCKET sortedness is lost — record that so the re-register
        # DDL never advertises SORTED BY the files don't have (VERDICT r05
        # item 5; Spark ignores bucket-sort metadata unless each bucket is
        # one file, but the catalog must still tell the truth).
        _write_fingerprint(path, fp, bucket_sorted=not big_source)
    return layout_dir


def register_bucketed_tables(
    spark: SparkSession,
    layout_dir: str,
    buckets: int = BUCKETS,
) -> dict[str, str]:
    """(Re-)register the bucketed files as catalog tables in THIS session.

    Spark encodes the bucket id in each file name, so an external
    ``CREATE TABLE … CLUSTERED BY … LOCATION`` over the existing files
    restores the full bucketing metadata without rewriting anything."""
    idents: dict[str, str] = {}
    for table, _source_table, bcols, scols in _all_specs():
        path = os.path.join(layout_dir, table)
        ident = _table_ident(layout_dir, table)
        if not spark.catalog.tableExists(ident):
            schema = spark.read.parquet(path).schema
            cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema)
            # SORTED BY only when the build actually left each bucket
            # globally sorted (one file per bucket — the repartition path);
            # the big-source coalesce path loses that property and must not
            # advertise it. Pre-marker layouts are judged by their files.
            sorted_ddl = (
                f"SORTED BY ({', '.join(scols)}) "
                if _bucket_sorted(path, buckets)
                else ""
            )
            spark.sql(
                f"CREATE TABLE {ident} ({cols}) USING PARQUET "
                f"CLUSTERED BY ({', '.join(bcols)}) "
                f"{sorted_ddl}INTO {buckets} BUCKETS "
                f"LOCATION '{path}'"
            )
        idents[table] = ident
    return idents


def attach_bucketed(
    spark: SparkSession,
    sf_dir: str,
    layout_dir: str | None = None,
    buckets: int = BUCKETS,
) -> dict[str, str]:
    """Build (if needed) + register the bucketed layout and point
    ``load_table`` at it for this session. Returns {table: layout path}."""
    layout_dir = build_bucketed_layout(spark, sf_dir, layout_dir, buckets)
    idents = register_bucketed_tables(spark, layout_dir, buckets)
    proj_paths = _build_join_projections(spark, sf_dir, layout_dir, idents, buckets)
    mv_paths = _build_agg_mvs(spark, sf_dir, layout_dir, idents)
    app = spark.sparkContext.applicationId
    paths: dict[str, str] = dict(proj_paths)
    paths.update(mv_paths)
    for table, ident in idents.items():
        if table in BUCKET_SPECS:
            # primary copy: becomes THE table for load_table
            set_table_override(spark, sf_dir, table, spark.table(ident))
        else:
            # alternate clustered copy: exposed to the CBO's copy
            # selection, never substituted blindly (same rows, different
            # physical clustering — only a planner should pick it)
            base, _, variant = table.partition("__")
            bcols = ALT_BUCKET_SPECS[base][variant][0]
            _ALT_COPIES.setdefault((app, sf_dir, base), {})[frozenset(bcols)] = ident
        paths[table] = os.path.join(layout_dir, table)
    return paths


def _build_join_projections(
    spark: SparkSession,
    sf_dir: str,
    layout_dir: str,
    idents: dict[str, str],
    buckets: int = BUCKETS,
) -> dict[str, str]:
    """Build + register the JOIN_PROJECTION_SPECS materializations and
    record them for ``join_projection``. Returns {name: path}.

    The build joins the BUCKETED primaries bucket-aligned (no exchange)
    and lets the writer's ``bucketBy`` fan rows into the projection's own
    clustering — the whole materialization is one map-side pass plus the
    write. Idempotent on a combined source fingerprint."""
    import pyspark.sql.functions as F

    app = spark.sparkContext.applicationId
    paths: dict[str, str] = {}
    for name, spec in JOIN_PROJECTION_SPECS.items():
        path = os.path.join(layout_dir, name)
        ident = _table_ident(layout_dir, name)
        # fingerprint covers BOTH sources AND the spec itself (columns /
        # clustering), so editing the projection definition rebuilds it
        # instead of silently serving the old shape
        import hashlib as _hashlib
        import json as _json

        tables, joins = _normalized_spec(spec)
        fp = (
            "".join(_source_fingerprint(sf_dir, t) for t in tables)
            + _hashlib.md5(_json.dumps(spec, sort_keys=True).encode()).hexdigest()
        )
        built = (
            os.path.isdir(path)
            and any(f.endswith(".parquet") for f in os.listdir(path))
            and _fingerprint_current(path, fp)
        )
        if not built:
            spark.sql(f"DROP TABLE IF EXISTS {ident}")
            # left-deep fold over the chain's joins; each source scans its
            # BUCKETED catalog table, so the first join is bucket-aligned
            # and later chain joins reuse the running tree's partitioning
            # where the keys line up
            joined = spark.table(idents[tables[0]])
            for _ta, ka, tb, kb in joins:
                joined = joined.join(
                    spark.table(idents[tb]), F.col(ka) == F.col(kb)
                )
            joined = joined.select(*spec["columns"])
            # High-fan-out repartition on the bucket column BEFORE the
            # bucketed write: each writer task then holds one small bucket
            # slice (hash%(8*buckets) refines hash%buckets), so the
            # writer's per-task bucket sorter never buffers more than
            # ~1/256th of the table — without this, 32 writer tasks each
            # sort-buffer a full partition of the lineitem-grained join
            # and the spill exhausts local disk at sf100.
            joined = joined.repartition(8 * buckets, *[F.col(c) for c in spec["bucket_cols"]])
            writer = (
                joined.write.mode("overwrite")
                .option("path", path)
                .option("parquet.block.size", 32 << 20)
                .bucketBy(buckets, *spec["bucket_cols"])
            )
            if spec["sort_cols"]:
                writer = writer.sortBy(*spec["sort_cols"])
            writer.saveAsTable(ident)
            from highs_duckdb_spark.sources import stats as zstats

            zstats.write_sidecar(path)
            # the 8x fan-out repartition above always leaves multiple files
            # per bucket: sortBy is an ENCODING lever here, never a
            # per-bucket order guarantee — the DDL must not claim SORTED BY
            _write_fingerprint(path, fp, bucket_sorted=False)
        elif not spark.catalog.tableExists(ident):
            schema = spark.read.parquet(path).schema
            cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema)
            sorted_by = (
                f"SORTED BY ({', '.join(spec['sort_cols'])}) "
                if spec["sort_cols"] and _bucket_sorted(path, buckets)
                else ""
            )
            spark.sql(
                f"CREATE TABLE {ident} ({cols}) USING PARQUET "
                f"CLUSTERED BY ({', '.join(spec['bucket_cols'])}) "
                f"{sorted_by}INTO {buckets} BUCKETS "
                f"LOCATION '{path}'"
            )
        _PROJECTIONS[(app, sf_dir, name)] = (ident, path)
        paths[name] = path
    return paths


#: (applicationId, sf_dir, agg-MV name) → files path
_AGG_MVS: dict[tuple[str, str, str], str] = {}
#: reader cache for attached agg MVs (same rationale as _PRUNED_CACHE:
#: a fresh spark.read per plan pays driver-side listing/footer work)
_AGG_MV_READERS: dict[tuple[str, str, str], DataFrame] = {}


def _agg_mv_fingerprint_payload(spec: dict) -> dict:
    """JSON-able canonical form of an agg-MV spec: agg builders replaced
    by their canonical expression text, so editing an expression rebuilds
    the MV instead of silently serving the old aggregation."""
    out = {k: v for k, v in spec.items() if k != "aggs"}
    out["aggs"] = {
        alias: (fn, "*" if builder == "*" else str(builder()))
        for alias, (fn, builder) in spec["aggs"].items()
    }
    return out


def _derived_col(fn: str, src: str):
    import pyspark.sql.functions as F

    if fn == "year":
        return F.year(F.col(src))
    raise ValueError(f"agg MV derived fn {fn!r} not supported")


def _build_agg_mvs(
    spark: SparkSession,
    sf_dir: str,
    layout_dir: str,
    idents: dict[str, str],
    *,
    empty_base: bool = False,
) -> dict[str, str]:
    """Build + register the AGG_MV_SPECS materializations. Returns
    {name: path}.

    The build is one pass over the pre-join (bucketed primaries where the
    layout has them — the first join is bucket-aligned — plain source
    scans otherwise) into a group-key-grain aggregate that is tiny by
    construction (the group keys are low-NDV dimension attributes), so
    the write is a single file. Idempotent on a combined
    source+spec fingerprint, like the join projections.

    ``empty_base`` (round 12, the qs19 bootstrap): the caller asserts the
    DRIVING fact table is empty — a grouped aggregate over zero input
    rows is zero rows for any spec with non-empty group keys, so the MV
    is written as an empty frame with the plan-derived schema instead of
    executing the join (which still scanned and broadcast every parent,
    ~2 s per bootstrap at sf0.1). Verified against the parquet footers
    (falls back to the full build if the fact is not actually empty), so
    the written bytes are exactly what the executed plan would produce."""
    import hashlib as _hashlib
    import json as _json

    import pyspark.sql.functions as F

    app = spark.sparkContext.applicationId
    paths: dict[str, str] = {}
    for name, spec in AGG_MV_SPECS.items():
        path = os.path.join(layout_dir, name)
        tables = list(spec["tables"])
        fp = (
            "".join(_source_fingerprint(sf_dir, t) for t in tables)
            + _hashlib.md5(
                _json.dumps(
                    _agg_mv_fingerprint_payload(spec), sort_keys=True
                ).encode()
            ).hexdigest()
        )
        built = (
            os.path.isdir(path)
            and any(f.endswith(".parquet") for f in os.listdir(path))
            and _fingerprint_current(path, fp)
        )
        if not built:
            # columns the MV actually consumes: join keys + derived
            # sources + group keys + declared agg inputs. Pruning
            # EXPLICITLY (not leaving it to Catalyst) keeps the broadcast
            # sides provably narrow.
            needed: set[str] = set(spec["group_keys"])
            for j in spec["joins"]:
                needed |= {j[1], j[3]}
            for _dk, (_dfn, src) in spec.get("derived", {}).items():
                needed.add(src)
            needed |= set(spec.get("agg_cols", ()))

            def scan(t: str) -> DataFrame:
                df = (
                    spark.table(idents[t])
                    if t in idents
                    else load_table(spark, t, sf_dir, use_layout=False)
                )
                df = df.select(*[c for c in df.columns if c in needed])
                if t in spec.get("broadcast", ()):
                    df = F.broadcast(df)
                return df

            joined = scan(tables[0])
            in_tree = {tables[0]}
            pending = [tuple(j) for j in spec["joins"]]
            while pending:  # fold joins as their left side becomes reachable
                for j in pending:
                    ta, ka, tb, kb = j
                    if ta in in_tree or tb in in_tree:
                        nxt, cond = (
                            (tb, F.col(ka) == F.col(kb))
                            if ta in in_tree
                            else (ta, F.col(kb) == F.col(ka))
                        )
                        joined = joined.join(scan(nxt), cond)
                        in_tree.add(nxt)
                        pending.remove(j)
                        break
                else:
                    raise ValueError(f"agg MV {name}: disconnected joins")
            for dk, (dfn, src) in spec.get("derived", {}).items():
                joined = joined.withColumn(dk, _derived_col(dfn, src))
            aggs = [
                (
                    F.count(F.lit(1)) if builder == "*" else getattr(F, fn)(builder())
                ).alias(alias)
                for alias, (fn, builder) in spec["aggs"].items()
            ]
            agg_frame = joined.groupBy(*spec["group_keys"]).agg(*aggs)
            if empty_base and spec["group_keys"] and _parquet_row_count(
                os.path.join(sf_dir, f"{tables[0]}.parquet")
            ) == 0:
                # empty driving fact ⇒ the grouped aggregate is provably
                # empty: limit(0) folds the whole join tree to an empty
                # LocalRelation (OptimizeLimitZero) with the identical
                # schema — no parent scans/broadcasts executed
                agg_frame = agg_frame.limit(0)
            (
                agg_frame
                .coalesce(1)  # group-key grain: tiny by construction
                .write.mode("overwrite")
                .parquet(path)
            )
            from highs_duckdb_spark.sources import stats as zstats

            zstats.write_sidecar(path)
            _write_fingerprint(path, fp)
        _AGG_MVS[(app, sf_dir, name)] = path
        _AGG_MV_READERS.pop((app, sf_dir, name), None)
        paths[name] = path
    return paths


def refresh_agg_mv(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    deltas: dict[str, DataFrame],
    layout_dir: str | None = None,
) -> str:
    """INCREMENTALLY maintain a built aggregate MV after an append
    (round 8): aggregate the DELTA's contribution at group-key grain and
    MERGE it with the stored partials — sums/counts add, min/max merge —
    instead of re-joining the full fact history. At 100 TB this is the
    difference between a per-batch pass over the new files and a
    600M-row-per-refresh rebuild; it is exactly how warehouse MV
    maintenance works for append-only facts (partial re-aggregation;
    deletes/updates are out of scope and take the full rebuild path).

    ``sf_dir``'s tables are the LIVE, post-append sources; ``deltas``
    maps the DRIVING table (``tables[0]``, the aggregation grain) to
    exactly its newly appended rows. Soundness needs the FK-append
    pattern the spec's joins assume: a new driving row may reference old
    or new parents (both already in the live parent tables the delta
    joins against), but OLD driving rows never reference NEW parents
    (parents land with or before children — the only append order
    referential integrity permits), so the stored partials stay exactly
    the old rows' contribution: nothing double-counted, nothing missed.
    Parent-only appends (orders with no lineitems yet) contribute
    nothing, correctly — refresh again when their children land.

    The merged MV replaces the files in place and the fingerprint is
    re-stamped against the CURRENT sources, so subsequent attaches
    validate. Returns the MV path."""
    import pyspark.sql.functions as F

    spec = AGG_MV_SPECS[name]
    layout_dir = layout_dir or default_layout_dir(sf_dir)
    path = os.path.join(layout_dir, name)
    old = spark.read.parquet(path).localCheckpoint(eager=True)  # pre-swap snapshot

    tables = list(spec["tables"])
    needed: set[str] = set(spec["group_keys"])
    for j in spec["joins"]:
        needed |= {j[1], j[3]}
    for _dk, (_dfn, src) in spec.get("derived", {}).items():
        needed.add(src)
    needed |= set(spec.get("agg_cols", ()))

    def scan(t: str) -> DataFrame:
        df = load_table(spark, t, sf_dir, use_layout=False)
        df = df.select(*[c for c in df.columns if c in needed])
        if t in spec.get("broadcast", ()):
            df = F.broadcast(df)
        return df

    joined = deltas[tables[0]].select(
        *[c for c in deltas[tables[0]].columns if c in needed]
    )
    in_tree = {tables[0]}
    pending = [tuple(j) for j in spec["joins"]]
    while pending:
        for j in pending:
            ta, ka, tb, kb = j
            if ta in in_tree or tb in in_tree:
                nxt, cond = (
                    (tb, F.col(ka) == F.col(kb))
                    if ta in in_tree
                    else (ta, F.col(kb) == F.col(ka))
                )
                joined = joined.join(scan(nxt), cond)
                in_tree.add(nxt)
                pending.remove(j)
                break
        else:
            raise ValueError(f"agg MV {name}: disconnected joins")
    for dk, (dfn, src) in spec.get("derived", {}).items():
        joined = joined.withColumn(dk, _derived_col(dfn, src))
    delta_part = joined.groupBy(*spec["group_keys"]).agg(
        *[
            (
                F.count(F.lit(1)) if b == "*" else getattr(F, fn)(b())
            ).alias(alias)
            for alias, (fn, b) in spec["aggs"].items()
        ]
    )
    # merge: partials of the SAME decomposable aggs combine by sum (sum,
    # count) or the same fn (min/max); decimal sums cast back to the
    # stored type (the +10 widen must not accumulate across refreshes)
    from pyspark.sql.types import DecimalType

    merges = []
    for alias, (fn, _b) in spec["aggs"].items():
        if fn in ("sum", "count"):
            c = F.sum(alias)
            stored = old.schema[alias].dataType
            if isinstance(stored, DecimalType):
                c = c.cast(stored)
        else:  # min/max merge under appends
            c = getattr(F, fn)(alias)
        merges.append(c.alias(alias))
    merged = (
        old.unionByName(delta_part.select(*old.columns))
        .groupBy(*spec["group_keys"])
        .agg(*merges)
        .coalesce(1)
    )
    merged.write.mode("overwrite").parquet(path)
    from highs_duckdb_spark.sources import stats as zstats

    zstats.write_sidecar(path)
    import hashlib as _hashlib
    import json as _json

    fp = (
        "".join(_source_fingerprint(sf_dir, t) for t in tables)
        + _hashlib.md5(
            _json.dumps(
                _agg_mv_fingerprint_payload(spec), sort_keys=True
            ).encode()
        ).hexdigest()
    )
    _write_fingerprint(path, fp)
    app = spark.sparkContext.applicationId
    _AGG_MV_READERS.pop((app, sf_dir, name), None)
    return path


def attached_agg_mvs(
    spark: SparkSession, sf_dir: str
) -> dict[str, tuple[dict, DataFrame, str]]:
    """Every aggregate MV the attached layout offers:
    ``{name: (spec, DataFrame, path)}`` — the catalog answer the CBO's
    aggregate-MV matcher plans from. Empty when no layout is attached."""
    app = spark.sparkContext.applicationId
    out: dict[str, tuple[dict, DataFrame, str]] = {}
    for (a, s, name), path in _AGG_MVS.items():
        if a == app and s == sf_dir:
            df = _AGG_MV_READERS.get((a, s, name))
            if df is None:
                df = spark.read.parquet(path)
                _AGG_MV_READERS[(a, s, name)] = df
            out[name] = (AGG_MV_SPECS[name], df, path)
    return out


def agg_mv_stale(sf_dir: str, name: str, path: str) -> str | None:
    """Staleness guard for a matched aggregate MV (VERDICT r08 item 4):
    the decline reason when the MV's recorded source fingerprint no
    longer matches the LIVE sources, or None when current.

    Attach/build validates the fingerprint once, but a source mutated
    AFTER attach — outside the append/refresh paths, e.g. a file
    overwritten or deleted mid-session — would otherwise be served
    silently from stale partials. The check is pure filesystem metadata
    (the same per-file (name, size) listing the build fingerprint uses —
    no Spark job, no data scan; measured ~0.2 ms for a 4-table spec), and
    it runs only on the ACCEPT path of the matcher, so declined matches
    pay nothing. Appends through ``refresh_agg_mv`` re-stamp the
    fingerprint against the post-append sources, so maintained MVs stay
    servable. At object-store scale the listing would come from the
    table format's snapshot id instead; the contract — verify the
    build-time snapshot at match time, fall back to the lazy plan on
    mismatch — is the same."""
    spec = AGG_MV_SPECS.get(name)
    if spec is None:
        return "stale_source:unknown_spec"
    import hashlib as _hashlib
    import json as _json

    fp = (
        "".join(_source_fingerprint(sf_dir, t) for t in spec["tables"])
        + _hashlib.md5(
            _json.dumps(_agg_mv_fingerprint_payload(spec), sort_keys=True).encode()
        ).hexdigest()
    )
    if _fingerprint_current(path, fp):
        return None
    return "stale_source"


def join_projection(spark: SparkSession, sf_dir: str, name: str) -> DataFrame | None:
    """The attached layout's materialized join projection ``name``, or
    None when no layout (or none by that name) is attached — the answer a
    catalog's materialized-view registry would give."""
    app = spark.sparkContext.applicationId
    entry = _PROJECTIONS.get((app, sf_dir, name))
    return spark.table(entry[0]) if entry else None


def attached_projections(
    spark: SparkSession, sf_dir: str
) -> dict[str, tuple[dict, DataFrame, int, str]]:
    """Every materialized join projection the attached layout offers:
    ``{name: (spec, DataFrame, file bytes, path)}`` — the catalog answer
    the CBO's view matcher plans from. Empty when no layout is attached."""
    from highs_duckdb_spark.plans.strategy import dir_bytes

    app = spark.sparkContext.applicationId
    out: dict[str, tuple[dict, DataFrame, int, str]] = {}
    for (a, s, name), (ident, path) in _PROJECTIONS.items():
        if a == app and s == sf_dir:
            # dir_bytes memoizes per path (plans.strategy._DIR_BYTES_CACHE):
            # one file walk per process, not per plan
            out[name] = (
                JOIN_PROJECTION_SPECS[name],
                spark.table(ident),
                dir_bytes(path),
                path,
            )
    return out


def projection_part_keys(name: str) -> frozenset[str]:
    return frozenset(JOIN_PROJECTION_SPECS[name]["bucket_cols"])


def alt_clustered_copies(
    spark: SparkSession, sf_dir: str, table: str
) -> dict[frozenset[str], DataFrame]:
    """Alternate clustered copies of ``table`` the attached layout offers:
    {bucket-key set: DataFrame}. Empty when no layout is attached — the
    same answer a production catalog's projection metadata would give."""
    app = spark.sparkContext.applicationId
    return {
        keys: spark.table(ident)
        for keys, ident in _ALT_COPIES.get((app, sf_dir, table), {}).items()
    }


def register_alt_copy(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    bucket_cols: list[str] | tuple[str, ...],
    ident: str,
) -> None:
    """Record an already-built bucketed catalog table as an ALTERNATE
    clustered copy of ``table`` for this (session, sf_dir) — the
    deployment-facing registration a production catalog performs when a
    projection/clustered copy is created out-of-band (the id-bucketed
    documents/embeddings copies of tools/s20_ab.py, at commit 9b68166,
    used it; ``attach_bucketed`` registers its ALT_BUCKET_SPECS builds
    through the same map).

    Registration is metadata only: planners that consult
    ``alt_clustered_copies`` (cbo's copy selection, s20's filtered-ANN
    metadata-join gate) may pick the copy; ``load_table`` keeps serving
    the source. Same-rows contract is the caller's to uphold, exactly as
    for ALT_BUCKET_SPECS."""
    if not spark.catalog.tableExists(ident):
        raise ValueError(f"register_alt_copy: catalog table {ident!r} not found")
    app = spark.sparkContext.applicationId
    _ALT_COPIES.setdefault((app, sf_dir, table), {})[frozenset(bucket_cols)] = ident


def clear_alt_copies(spark: SparkSession) -> None:
    app = spark.sparkContext.applicationId
    for key in [k for k in _ALT_COPIES if k[0] == app]:
        del _ALT_COPIES[key]
    for key in [k for k in _PROJECTIONS if k[0] == app]:
        del _PROJECTIONS[key]
    for key in [k for k in _AGG_MVS if k[0] == app]:
        del _AGG_MVS[key]
        _AGG_MV_READERS.pop(key, None)
    for key in [k for k in _VECTOR_INDEXES if k[0] == app]:
        del _VECTOR_INDEXES[key]


# --- persisted vector (IVF) index registry (round 11) ----------------------
#
# Storage + registration only — training and query semantics live in
# operators/similarity.py (build_ivf_index), which owns the IVF parameters.
# Same catalog discipline as the aggregate MVs: registration is metadata,
# the accept path re-validates the build-time source fingerprint AND the
# recorded training parameters, and a mismatch declines with a
# machine-readable reason instead of serving a stale or differently-shaped
# index.

#: (applicationId, sf_dir) -> index directory
_VECTOR_INDEXES: dict[tuple[str, str], str] = {}


def register_vector_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Record a built vector index directory for this (session, sf_dir).

    The directory must carry the `_source_fingerprint.json` marker its
    build wrote (centroids + cell-partitioned corpus copy + params);
    consumers re-validate freshness per call via
    :func:`vector_index_stale`."""
    if not _layout_marker(path):
        raise ValueError(f"register_vector_index: no marker at {path!r}")
    app = spark.sparkContext.applicationId
    _VECTOR_INDEXES[(app, sf_dir)] = path


def attached_vector_index(spark: SparkSession, sf_dir: str) -> str | None:
    """The registered vector-index directory for this (session, sf_dir),
    or None — the answer a production catalog's index registry gives."""
    app = spark.sparkContext.applicationId
    return _VECTOR_INDEXES.get((app, sf_dir))


def vector_index_stale(sf_dir: str, path: str, params: dict) -> str | None:
    """Decline reason for a registered vector index, or None when fresh.

    Two accept conditions, both from the marker the build stamped:
    the LIVE embeddings source fingerprint still matches (same
    filesystem-metadata check as :func:`agg_mv_stale` — no data scan),
    and the recorded training parameters equal the caller's ``params``
    (an index trained under different k/rounds/sample/quantizer would
    return DIFFERENT results, not just slower ones — a silent accept
    would be a correctness bug, unlike the MV case)."""
    marker = _layout_marker(path)
    if not marker:
        return "stale_source:no_marker"
    if marker.get("fingerprint") != _source_fingerprint(sf_dir, "embeddings"):
        return "stale_source"
    if marker.get("params") != params:
        return "params_mismatch"
    return None


def scan_for_keys(
    spark: SparkSession, sf_dir: str, table: str, *shuffle_keys: str
) -> DataFrame:
    """Copy selection for NON-JOIN scans: honour the attached layout only
    when its bucketing can actually serve the query.

    A bucketed copy helps exactly when the query's shuffle keys intersect
    the bucket keys (the exchange disappears). When they are disjoint —
    e.g. an aggregation on partkey over orderkey-clustered files — the
    override saves nothing and can only COST: clustering chosen for
    somebody else's join spreads this query's group keys across every
    file, so map-side partial aggregates stop compressing (q20 on the
    bucketed sf100 layout: +139% for both engines, BENCH_SCALING round 4).
    In that case scan the SOURCE copy. This is the same copy-selection
    decision ``cbo.JoinGraph`` makes for join entry keys, applied to the
    scan-only shape."""
    if table in BUCKET_SPECS and layout_active(spark, sf_dir, table):
        if not frozenset(BUCKET_SPECS[table][0]) & set(shuffle_keys):
            return load_table(spark, table, sf_dir, use_layout=False)
    return load_table(spark, table, sf_dir)


def pruned_scan(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    col: str,
    lo=None,
    hi=None,
) -> DataFrame:
    """Zone-map FILE-PRUNED scan of a primary table for a range predicate
    on ``col`` — pruning with zero preparation, the way DuckDB prunes from
    parquet footers on every table (VERDICT r05 item 3).

    Uses the footer sidecar (``stats.primary_sidecar``, harvested lazily
    into the repo-local cache) to list only the files whose [min, max]
    intersects [lo, hi]. The caller still applies the row-level filter —
    pruning only drops provably-disjoint FILES, so results are exact by
    construction. Degenerate cases stay on the normal path:

    - an attached bucketed layout wins (its clustering serves joins;
      file pruning would discard it);
    - no stats → plain ``load_table`` (absence never prunes);
    - empty intersection → ``load_table(...).limit(0)`` — Catalyst folds
      limit-0 to an empty LocalRelation, so the provably-empty answer
      scans ZERO files while keeping the exact scan schema;
    - nothing pruned → plain ``load_table`` (identical files, normal path).
    """
    from highs_duckdb_spark.sources import stats as zstats

    if layout_active(spark, sf_dir, table):
        return load_table(spark, table, sf_dir)
    if os.environ.get("HDS_DISABLE_PRUNING") == "1":  # A/B + ops kill-switch
        return load_table(spark, table, sf_dir)
    # cache FIRST: the per-call work the cache exists to remove includes
    # the sidecar handshake itself (fingerprint walk + JSON parse), not
    # just the spark.read construction
    key = (spark.sparkContext.applicationId, sf_dir, table, col, repr(lo), repr(hi))
    cached = _PRUNED_CACHE.get(key)
    if cached is not None:
        return cached
    stats, base = zstats.primary_sidecar(sf_dir, table)
    if stats is None:
        return load_table(spark, table, sf_dir)
    files = zstats.files_for_range(stats, base, col, lo=lo, hi=hi)
    if not files:
        return load_table(spark, table, sf_dir).limit(0)
    total = len(stats.get("files", []))
    if len(files) == total:
        return load_table(spark, table, sf_dir)
    # File pruning pays at FILE-COUNT scale (driver listing, task
    # scheduling, per-task footer reads across thousands of files), not at
    # data scale: the pushed range predicate already row-group-skips the
    # data inside kept files. Measured on a date-clustered 32-file sf10
    # corpus: q107's one-month window pruned 32→1 lineitem files with
    # ZERO wall-time change (pushdown had already skipped them), while the
    # narrower reader LOST scan parallelism on wider windows (q50 15-of-32
    # files: 0.43→0.56 s on 32 cores). Below the threshold the pruning
    # decision is provably not worth the parallelism trade — scan plain.
    if total < PRUNE_MIN_FILES:
        return load_table(spark, table, sf_dir)
    # Cache the pruned reader like session._READER_CACHE caches full scans:
    # a fresh spark.read.parquet pays driver-side file listing + per-file
    # footer schema inference on EVERY builder call — measured to ERASE the
    # pruning win at sf10 (q50 0.43→0.65 s uncached vs 15-of-32 files).
    # The file list is deterministic given (table, col, lo, hi) and the
    # session-immutable source (the same assumption the reader cache
    # makes); the schema is borrowed from the cached full scan so zero
    # footers are sniffed at plan time.
    if table == "events":
        # events: the cached schema is POST-normalization (ts: timestamp),
        # but the raw ts physical type varies by producer — TIMESTAMP(NANOS)
        # in the driver's testdata (long under the legacy conf, set by the
        # load_table call above), µs in replicated copies. Let the reader
        # infer from the KEPT files' footers (one sniff per cache miss) and
        # re-apply the same normalization load_table does, so the pruned
        # scan is byte-identical to the plain one on either physical type.
        from highs_duckdb_spark.session import normalize_events_ts

        load_table(spark, table, sf_dir)  # ensures the legacy nanos conf
        df = normalize_events_ts(spark.read.parquet(*files))
    else:
        # borrow the cached full scan's schema: zero footer sniffs at plan
        # time (types are uniform across a table's files by construction)
        schema = load_table(spark, table, sf_dir).schema
        df = spark.read.schema(schema).parquet(*files)
    _PRUNED_CACHE[key] = df
    return df


def topk_scan(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    col: str,
    k: int,
    descending: bool = True,
) -> tuple[DataFrame, object | None]:
    """(scan, pushable threshold) for ``ORDER BY col [DESC] LIMIT k`` on a
    PRIMARY table — q42_topk_banded's zone-map threshold plan, served from
    the footer sidecar with NO built layout (VERDICT r07 item 2).

    ``stats.topk_plan`` picks the best threshold ``t`` whose row groups
    already guarantee ≥ k qualifying rows; the caller pushes ``col >= t``
    (resp. ``<=``) so parquet row-group skipping drops non-qualifying
    groups even when file-level pruning is nil (price-unclustered files).
    The threshold is a pure row predicate, so it stays correct on ANY
    same-rows copy — including an attached bucketed layout's. File-subset
    narrowing additionally applies only on the plain path past
    ``PRUNE_MIN_FILES`` (same parallelism trade as :func:`pruned_scan`).
    Returns ``(plain scan, None)`` when stats can't guarantee k rows —
    the caller's full-scan top-k is unchanged and still exact.

    Round 9 (VERDICT r08 item 3): when a VALUE-CLUSTERED alternate copy
    of (table, col) is built (:func:`build_value_clustered` — the layout
    the top-k advisor proposes from captured declarations), the plan
    serves from ITS zone sidecar instead: clustered zones prune files AND
    row groups to ~k rows' worth, where the primary sidecar's threshold
    provably cannot prune unclustered files (the committed round-8
    negative). Same rows by construction, so the caller's exact top-k is
    unchanged. The declaration is also captured to the advisor's workload
    sink (kind="topk") so unserved ORDER-BY/LIMIT workloads rank copy
    candidates. HDS_DISABLE_TOPK_COPY=1 pins the plain path (A/B arm)."""
    from highs_duckdb_spark.plans import cbo as _cbo
    from highs_duckdb_spark.sources import stats as zstats

    copy_path = (
        clustered_copy_path(sf_dir, table, col)
        if os.environ.get("HDS_DISABLE_TOPK_COPY") != "1"
        else None
    )
    if _cbo._WORKLOAD_SINK is not None:
        _cbo._WORKLOAD_SINK.append(
            {
                "kind": "topk",
                "query": None,  # stamped by the capturer
                "table": table,
                "column": col,
                "k": k,
                "descending": descending,
                "bytes": float(_cbo.table_bytes(sf_dir, table)),
                "clustered_copy": copy_path is not None,
            }
        )
    if os.environ.get("HDS_DISABLE_PRUNING") == "1":
        return load_table(spark, table, sf_dir), None
    if copy_path is not None:
        cstats = zstats.read_sidecar(copy_path)
        if cstats is not None:
            files, t = zstats.topk_plan(
                cstats, copy_path, col, k, descending=descending
            )
            if t is not None:
                key = (
                    spark.sparkContext.applicationId, sf_dir, table, col,
                    f"topkcopy{k}", repr(t),
                )
                cached = _PRUNED_CACHE.get(key)
                if cached is None:
                    cached = spark.read.parquet(*files)
                    _PRUNED_CACHE[key] = cached
                return cached, t
    stats, base = zstats.primary_sidecar(sf_dir, table)
    if stats is None:
        return load_table(spark, table, sf_dir), None
    files, t = zstats.topk_plan(stats, base, col, k, descending=descending)
    if t is None:
        return load_table(spark, table, sf_dir), None
    total = len(stats.get("files", []))
    if (
        layout_active(spark, sf_dir, table)
        or total < PRUNE_MIN_FILES
        or len(files) >= total
    ):
        return load_table(spark, table, sf_dir), t
    key = (
        spark.sparkContext.applicationId, sf_dir, table, col,
        f"topk{k}", repr(t),
    )
    cached = _PRUNED_CACHE.get(key)
    if cached is None:
        schema = load_table(spark, table, sf_dir).schema
        cached = spark.read.schema(schema).parquet(*files)
        _PRUNED_CACHE[key] = cached
    return cached, t


def range_selectivity(
    sf_dir: str,
    table: str,
    col: str,
    lo=None,
    hi=None,
    default: float = 1.0,
) -> float:
    """Selectivity of ``lo <= col <= hi`` on ``table``, DERIVED from the
    footer sidecar (stats.estimate_range_selectivity) — the ANALYZE-style
    statistic JoinGraph's cost model consumes, computed from the same
    zones the pruning planner holds instead of hand-declared. Falls back
    to ``default`` (the declared estimate) without usable stats; bounds
    accept ISO date strings for temporal columns."""
    import datetime as dt

    from highs_duckdb_spark.sources import stats as zstats

    def conv(v):
        if isinstance(v, str):
            try:
                return dt.datetime.fromisoformat(v)
            except ValueError:
                return v  # non-date string bound: estimator will decline
        return v

    if os.environ.get("HDS_DISABLE_PRUNING") == "1":
        # the A/B switch must disable the WHOLE sidecar-derived surface,
        # or the "off" arm pays the harvest inside its first timed query
        return default
    stats, _base = zstats.primary_sidecar(sf_dir, table)
    if stats is None:
        return default
    est = zstats.estimate_range_selectivity(stats, col, lo=conv(lo), hi=conv(hi))
    return est if est is not None else default


def eq_selectivity(
    sf_dir: str,
    table: str,
    col: str,
    nvalues: int = 1,
    default: float = 1.0,
) -> float:
    """Selectivity of an equality / IN-list predicate matching ``nvalues``
    distinct values of ``col`` on ``table``: ``nvalues / NDV``, the
    textbook uniform-frequency estimate every System-R descendant uses —
    DERIVED from the footer sidecar's sample-NDV statistic
    (stats.collect_ndv) instead of hand-declared (VERDICT r06 item 1).
    Falls back to ``default`` when the column has no NDV harvest."""
    from highs_duckdb_spark.sources import stats as zstats

    if os.environ.get("HDS_DISABLE_PRUNING") == "1":
        return default  # same kill-switch contract as range_selectivity
    stats, _base = zstats.primary_sidecar(sf_dir, table)
    if stats is None:
        return default
    ndv = zstats.column_ndv(stats, col)
    if not ndv or ndv <= 0:
        return default
    return min(1.0, nvalues / ndv)


def like_prefix_selectivity(
    sf_dir: str,
    table: str,
    col: str,
    prefix: str,
    default: float = 1.0,
) -> float:
    """Selectivity of ``col LIKE 'prefix%'``, DERIVED from the string
    quantile histogram (VERDICT r07 item 3): the prefix predicate is
    exactly the string range ``[prefix, next(prefix))`` with
    ``next(prefix)`` = prefix with its last code point incremented, so the
    round-7 equi-depth boundaries serve it natively — skew-robust where
    the old equality-class guess (1/NDV) had no relation to the matched
    mass at all. The estimator's closed upper bound over-counts only
    strings EXACTLY equal to ``next(prefix)`` — negligible, and this is an
    ordinal planner statistic, never a pruning-soundness input. Falls back
    to ``default`` without a string histogram for the column."""
    from highs_duckdb_spark.sources import stats as zstats

    if os.environ.get("HDS_DISABLE_PRUNING") == "1":
        return default
    if not prefix:
        return 1.0  # LIKE '%' matches every non-null row
    stats, _base = zstats.primary_sidecar(sf_dir, table)
    if stats is None:
        return default
    nxt = None
    for i in range(len(prefix) - 1, -1, -1):
        if ord(prefix[i]) < 0x10FFFF:
            nxt = prefix[:i] + chr(ord(prefix[i]) + 1)
            break
    est = zstats.estimate_range_selectivity(stats, col, lo=prefix, hi=nxt)
    return est if est is not None else default


def semijoin_key_selectivity(
    sf_dir: str,
    table: str,
    key: str,
    row_sel: float,
    default: float = 1.0,
) -> float:
    """Fraction of DISTINCT ``key`` values of ``table`` with at least one
    row surviving a row-level predicate of selectivity ``row_sel``:
    ``1 - (1 - s)^(rows/NDV)`` under uniform key fan-out — the estimate a
    System-R optimizer uses to size a filtered-fact DISTINCT key set (the
    probe side of TPC-H Q4-shaped semi/outer joins). Derived from the
    footer sidecar's row count and sample NDV; ``default`` without them."""
    from highs_duckdb_spark.sources import stats as zstats

    if os.environ.get("HDS_DISABLE_PRUNING") == "1":
        return default
    stats, _base = zstats.primary_sidecar(sf_dir, table)
    if stats is None:
        return default
    rows = zstats.stats_total_rows(stats)
    ndv = zstats.column_ndv(stats, key)
    if not rows or not ndv or ndv <= 0:
        return default
    fanout = max(rows / ndv, 1.0)
    return min(1.0, 1.0 - (1.0 - min(max(row_sel, 0.0), 1.0)) ** fanout)


def pruned_scan_dates(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    col: str,
    lo: str | None = None,
    hi: str | None = None,
) -> DataFrame:
    """:func:`pruned_scan` with ISO-date string bounds — the time-window
    shape every decision-support query filters on. On time-partitioned /
    time-clustered deployments (how fact data lands in practice) this is
    the highest-leverage prune there is; on unclustered or single-file
    sources it degrades to the plain cached scan."""
    import datetime as dt

    return pruned_scan(
        spark,
        sf_dir,
        table,
        col,
        lo=dt.datetime.fromisoformat(lo) if lo else None,
        hi=dt.datetime.fromisoformat(hi) if hi else None,
    )


# --- price-banded orders for partition-pruned top-k --------------------------


def band_col():
    import pyspark.sql.functions as F

    band = F.floor(F.col("o_totalprice") / PRICE_BAND_WIDTH).cast("int")
    return F.least(F.lit(PRICE_BANDS - 1), F.greatest(F.lit(0), band))


def build_banded_orders(
    spark: SparkSession, sf_dir: str, layout_dir: str | None = None
) -> str:
    """orders partitioned by price_band (hive layout), price-DESC-sorted
    within each band, plus two metastore-style sidecars: the per-partition
    row counts (``_band_counts.json``) and the per-file/per-row-group
    min-max zone stats (``sources/stats.py``). The sort makes every row
    group's [min, max] a tight price range, so the zone-map top-k planner
    (stats.topk_plan) prunes to ~k rows' worth of row groups — the static
    equivalent of DuckDB's dynamic ORDER-BY-LIMIT row-group skip.
    Idempotent; invalidated when the SOURCE orders data changes
    (fingerprint, ADVICE r04)."""
    import json

    import pyspark.sql.functions as F

    from highs_duckdb_spark.sources import stats as zstats

    layout_dir = layout_dir or default_layout_dir(sf_dir)
    path = os.path.join(layout_dir, "orders_banded")
    fp = _source_fingerprint(sf_dir, "orders")
    if os.path.isfile(os.path.join(path, "_band_counts.json")) and _fingerprint_current(
        path, fp
    ):
        return path
    orders = load_table(spark, "orders", sf_dir)
    banded = orders.withColumn("price_band", band_col())
    (
        banded.repartition("price_band")
        # contiguous per-band runs, price-descending inside each band →
        # tight, disjoint row-group zones for the stats sidecar
        .sortWithinPartitions("price_band", F.desc("o_totalprice"))
        .write.mode("overwrite")
        # 8 MB row groups: the zone granule. Top-k needs ~k rows; a small
        # granule lets the threshold planner stop after one group instead
        # of a band-sized 128 MB default group.
        .option("parquet.block.size", 8 << 20)
        .partitionBy("price_band")
        .parquet(path)
    )
    counts = {
        int(r["price_band"]): int(r["n"])
        for r in banded.groupBy("price_band").count().withColumnRenamed("count", "n").collect()
    }
    with open(os.path.join(path, "_band_counts.json"), "w") as f:
        json.dump(counts, f)
    zstats.write_sidecar(path)
    _write_fingerprint(path, fp)
    return path


def build_value_clustered(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    column: str,
    layout_dir: str | None = None,
    bands: int = 16,
) -> str:
    """Build the value-clustered alternate copy of ``table`` on ``column``
    the top-k advisor proposes (VERDICT r08 item 3): same rows, hive-
    partitioned into ``bands`` equal-width value bands with a
    column-descending sort inside each, so every row group's [min, max]
    is a tight value range and ``stats.topk_plan`` prunes an ORDER BY ..
    LIMIT scan to ~k rows' worth of row groups. (orders, o_totalprice)
    delegates to :func:`build_banded_orders` — the hand-built instance
    this generalizes — so existing built layouts keep serving. Idempotent
    on the source fingerprint."""
    if (table, column) == ("orders", "o_totalprice"):
        return build_banded_orders(spark, sf_dir, layout_dir)
    import pyspark.sql.functions as F

    from highs_duckdb_spark.sources import stats as zstats

    layout_dir = layout_dir or default_layout_dir(sf_dir)
    path = os.path.join(layout_dir, f"{table}_clustered_{column}")
    fp = _source_fingerprint(sf_dir, table)
    if os.path.isdir(path) and _fingerprint_current(path, fp):
        return path
    df = load_table(spark, table, sf_dir, use_layout=False)
    lo, hi = df.agg(F.min(column), F.max(column)).first()
    # Equal-width banding needs a numeric, non-empty domain (ADVICE r09):
    # min/max are None on an empty table, and float() raises on the
    # date/string columns topk_plan otherwise supports. Fail with a clear
    # error instead of a TypeError deep in the arithmetic; callers (the
    # advisor's apply path) surface it as an unsupported-candidate decline.
    if lo is None or hi is None:
        raise ValueError(
            f"build_value_clustered({table}.{column}): table is empty "
            "(min/max are NULL) — nothing to band"
        )
    try:
        lo_f, hi_f = float(lo), float(hi)
    except (TypeError, ValueError):
        raise ValueError(
            f"build_value_clustered({table}.{column}): unsupported column "
            f"type {type(lo).__name__!r} — equal-width banding needs a "
            "numeric column (cast to a numeric sort key first)"
        ) from None
    lo, hi = lo_f, hi_f
    width = max((float(hi) - float(lo)) / bands, 1e-9)
    band = F.floor((F.col(column) - F.lit(float(lo))) / F.lit(width)).cast("int")
    band = F.least(F.lit(bands - 1), F.greatest(F.lit(0), band))
    (
        df.withColumn("__value_band", band)
        .repartition("__value_band")
        .sortWithinPartitions("__value_band", F.desc(column))
        .write.mode("overwrite")
        .option("parquet.block.size", 8 << 20)  # zone granule (see banded)
        .partitionBy("__value_band")
        .parquet(path)
    )
    zstats.write_sidecar(path)
    _write_fingerprint(path, fp)
    return path


def clustered_copy_path(
    sf_dir: str, table: str, column: str, layout_dir: str | None = None
) -> str | None:
    """Path of the built value-clustered copy of (table, column), or None
    when absent or stale. (orders, o_totalprice) answers the legacy
    ``orders_banded`` layout. Read-only: never triggers a build."""
    if (table, column) == ("orders", "o_totalprice"):
        return banded_orders_path(sf_dir, layout_dir)
    layout_dir = layout_dir or default_layout_dir(sf_dir)
    path = os.path.join(layout_dir, f"{table}_clustered_{column}")
    if not os.path.isdir(path):
        return None
    if not _fingerprint_current(path, _source_fingerprint(sf_dir, table)):
        return None
    return path


def banded_orders_path(sf_dir: str, layout_dir: str | None = None) -> str | None:
    """Path of the built banded-orders layout for ``sf_dir``, or None when
    absent OR stale (source fingerprint mismatch — a stale layout must
    never be served, ADVICE r04). Read-only: never triggers a build."""
    layout_dir = layout_dir or default_layout_dir(sf_dir)
    path = os.path.join(layout_dir, "orders_banded")
    if not os.path.isfile(os.path.join(path, "_band_counts.json")):
        return None
    if not _fingerprint_current(path, _source_fingerprint(sf_dir, "orders")):
        return None
    return path


def read_band_counts(path: str) -> dict[int, int]:
    import json

    with open(os.path.join(path, "_band_counts.json")) as f:
        return {int(k): v for k, v in json.load(f).items()}
