"""SparkSession construction and test-table loading.

Scale notes (100 TB design): the session defaults below are tuned for the
local[32] test harness but every knob is the one you would tune on a real
cluster — AQE on (runtime re-planning, skew-join splitting, partition
coalescing), a shuffle-partition count sized to the parallelism, and Arrow
enabled so any pandas-UDF path is batch-vectorized rather than row-at-a-time.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

#: generated classes kept by the session's codegen cache (see get_spark)
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "highs_duckdb_spark",
    cpus: int | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    AQE is enabled so that at real scale Spark re-plans at runtime:
    coalescing post-shuffle partitions, converting sort-merge joins to
    broadcast when a side turns out small, and splitting skewed partitions.

    The JVM talks to its Python workers (UDTF, pandas UDF and
    ``mapInPandas`` tasks, local-data ``createDataFrame``/``collect``, the
    accumulator server) over Unix domain sockets instead of TCP loopback
    (``spark.python.unix.domain.socket.enabled``). Over TCP each Python
    task waited ~40 ms for a delayed ACK, which made a one-task UDTF
    statement ~90 ms on a 4-core host; over a Unix socket it is ~55 ms.
    The sockets live in a fresh directory made for the new SparkContext
    and removed when it stops (or at interpreter exit): ``hds_uds_*``
    under ``tempfile.gettempdir()``, or under ``/tmp`` when that path is
    too long — a socket path holds at most 107 bytes and pyspark appends
    a 43-byte ``/.<uuid4>.sock``. In this mode the worker skips its auth
    handshake, so the directory's 0700 mode is what keeps other local
    users off the sockets. pyspark 4.0 does not know these confs, ignores
    them and keeps TCP.

    Generated classes are cached for up to ``CODEGEN_CACHE_ENTRIES``
    (1000) source texts (``spark.sql.codegen.cache.maxEntries``, a static
    conf). Spark's default of 100 is smaller than one pass of the 16
    ``olap_sf01`` queries, which needs ~195 distinct classes; an LRU
    cycled by a recurring mix larger than itself never hits, so every
    query recompiled its classes (Janino) and the generated code never
    got JIT-warm. At 1000 a pass compiles nothing from its second run on:
    a pass at sf0.1 on a 4-core host took 7.5–7.7 s at 100 entries and
    5.9 s at 1000. The cache is keyed by the generated source, so an
    entry can never be stale. Cost: the driver heap after
    ``System.gc()`` went from ~105 to ~175 MB with the headline set's
    classes cached.

    ``conf``: extra session-BUILD configs — the hook for core confs that
    cannot be set via spark.conf.set at runtime (e.g.
    spark.io.compression.codec for shuffle-temp-bound builds). Applied
    last, so they override the defaults above (including the two
    ``spark.python.unix.domain.socket.*`` confs and the codegen cache
    size). No effect when an existing session is reused (Spark builder
    semantics).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    # Session-build default only: partitioning is DATA-driven, not
    # core-driven — callers that know their dataset call tune_for_data(),
    # which sizes spark.sql.shuffle.partitions (and AQE initialPartitionNum)
    # from the source bytes via shuffle_partitions_for_bytes(). This default
    # covers the no-dataset-yet window with the small-data setting.
    shuffle_parts = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0")) or min(
        8, max(4, cpus // 4)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # local mode: no data locality to wait for; avoids scheduler stalls
        .config("spark.locality.wait", "0s")
        # testdata dims are MBs; on a real cluster leave this at the 10MB
        # default and let AQE upgrade joins from runtime sizes instead
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata events.parquet stores TIMESTAMP(NANOS) which Spark's parquet
        # reader rejects; read as long and convert in load_table (µs precision).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # local mode: the driver hosts every Arrow result; the 1g cluster
        # default aborts legitimate large materializations (q30 at sf100
        # returns ~4.5M rows ≈ 1 GiB serialized once partition count rises)
        .config("spark.driver.maxResultSize", os.environ.get("SPARK_GRAFT_MAX_RESULT", "4g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    socket_dir = None
    # a reused context ignores the socket confs; a directory made for it
    # would only leak
    if SparkContext._active_spark_context is None:
        socket_dir = _socket_dir()
        builder = builder.config("spark.python.unix.domain.socket.enabled", "true").config(
            "spark.python.unix.domain.socket.dir", socket_dir
        )
    for k, v in (conf or {}).items():
        builder = builder.config(k, v)
    try:
        spark = builder.getOrCreate()
    except BaseException:
        if socket_dir is not None:
            import shutil

            shutil.rmtree(socket_dir, ignore_errors=True)
        raise
    if socket_dir is not None:
        _remove_with_context(spark.sparkContext, socket_dir)
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes the JVM has compiled for generated code since it started:
    one per codegen-cache miss. Local mode runs the executors in the same
    JVM, so this counts their compiles too."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


#: pyspark names each socket ``<dir>/.<uuid4>.sock``: 43 bytes past ``dir``;
#: an AF_UNIX path holds at most 107 bytes
_SOCKET_NAME_BYTES = 43
_SOCKET_PATH_MAX = 107


def _socket_dir() -> str:
    """A fresh 0700 ``hds_uds_*`` directory for the context's Unix sockets:
    under ``tempfile.gettempdir()`` when its sockets' paths fit, else /tmp."""
    import tempfile

    base = tempfile.gettempdir()
    # mkdtemp's name is the prefix plus 8 random characters
    longest = os.fsencode(os.path.join(base, "hds_uds_" + "x" * 8))
    if len(longest) + _SOCKET_NAME_BYTES > _SOCKET_PATH_MAX:
        base = "/tmp"
    return tempfile.mkdtemp(prefix="hds_uds_", dir=base)


def _remove_with_context(sc, path: str) -> None:
    """Remove the directory tree ``path`` when ``sc`` stops or the
    interpreter exits, whichever comes first."""
    import atexit
    import shutil

    atexit.register(shutil.rmtree, path, ignore_errors=True)
    stop = sc.stop

    def stop_and_remove() -> None:
        try:
            stop()
        finally:
            shutil.rmtree(path, ignore_errors=True)

    sc.stop = stop_and_remove


def shuffle_partitions_for_bytes(nbytes: int) -> int:
    """Post-shuffle partition count for a workload over ``nbytes`` of source
    parquet — the engine-side sizing rule (VERDICT r04 item 3).

    Measured ladder (bench sweeps at sf0.1/1/5/50/100, tools/gen_scale.py
    data): tiny inputs want few partitions (task-scheduling overhead
    dominates), and above ~10 GB the count must grow with the DATA so a
    partition's sort/hash state stays in memory — q30 at sf100 external-sort
    spilled at 32 partitions (124 s) and ran in 17 s at 128. Beyond the
    measured range the rule is a bounded per-partition size (~192 MB
    compressed ≈ <1 GiB decoded), the same arithmetic that sizes a real
    cluster's shuffle into the thousands at 100 TB.
    """
    if nbytes < (100 << 20):
        return 6
    if nbytes < (1 << 30):
        return 16
    if nbytes < (10 << 30):
        return 32
    return max(64, min(4096, int(-(-nbytes // (192 << 20)))))


def tune_for_data(spark: SparkSession, sf_dir: str) -> int:
    """Size the session's shuffle/scan parallelism from the SOURCE DATA.

    Sets ``spark.sql.shuffle.partitions`` (and AQE's initialPartitionNum so
    the adaptive path coalesces DOWN from the right ceiling rather than up
    from a stale static count) from the directory's parquet bytes — the
    statistic a table catalog would hold. Also drops the scan split size on
    sub-100 MB inputs so single-file tables still scan row-group-parallel.
    Returns the chosen partition count. Idempotent; call once per dataset.
    """
    from highs_duckdb_spark.plans.strategy import dir_bytes

    nbytes = dir_bytes(sf_dir)
    parts = shuffle_partitions_for_bytes(nbytes)
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", str(parts)
    )
    if nbytes < (100 << 20):
        # Small inputs: 2 MB splits let a file of several row groups scan
        # them in parallel. A split reads the row groups whose midpoint it
        # holds, so a single-row-group file (every sf0.1 file here, e.g.
        # lineitem's 10.5 MB) is still one task holding all its rows, plus
        # empty tasks for the other splits (five for lineitem). Rewriting
        # those files into split-sized row groups was slower, not faster
        # (ROADMAP direction 5). Larger inputs are multi-file/row-group-
        # rich and small splits REGRESS (empty-split no-op tasks
        # straddling row-group boundaries) — keep the default.
        spark.conf.set("spark.sql.files.maxPartitionBytes", "2m")
    # footer sidecars for the range-pruned scan paths (footers-only, no
    # data scan) so first-query paths never pay the harvest; best-effort —
    # absence of stats never prunes, so failure here only skips pruning
    try:
        from highs_duckdb_spark.sources import stats as zstats

        zstats.warm_primary_sidecars(sf_dir, ("orders", "lineitem"))
    except Exception:
        pass
    return parts


def local_rows_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Tiny driver-local row list → DataFrame via the Arrow/pandas path.

    ``spark.createDataFrame(list, schema)`` routes through
    ``sc.parallelize`` — a pickled Python RDD whose every materialization
    runs a defaultParallelism-task Python job (measured 4.8 s to collect a
    2-row solver status frame on local[32]: 32 tasks × a Python-worker
    round trip each). A pandas payload with Arrow enabled becomes a
    driver-local plan instead — no job, no Python workers, identical rows.

    Falls back to the classic path when any cell is None (pandas would
    coerce a None in a float column to NaN, which Arrow ships as a
    non-null NaN — a semantic change; the classic path keeps it NULL) or
    NaN (the converse: pandas treats a float NaN as MISSING, so the Arrow
    path would ship it as NULL while the classic path keeps it a non-null
    NaN — ADVICE r11), when ``rows`` is empty, or when pandas/Arrow is
    unavailable. ``schema`` must be a DDL string ("name type, ...") or a
    StructType (nested/parameterized types parse via ``fromDDL``, not a
    naive comma split)."""
    import math

    def _plain(v) -> bool:
        return v is not None and not (isinstance(v, float) and math.isnan(v))

    if rows and all(_plain(v) for r in rows for v in r):
        try:
            import pandas as pd
            from pyspark.sql.types import StructType

            names = (
                StructType.fromDDL(schema).names
                if isinstance(schema, str)
                else list(schema.names)  # StructType
            )
            # runtime-settable SQLConf; the driver's vanilla session may
            # not have it on (same pattern as the nanosAsLong conf above).
            # Restored afterwards: flipping it permanently would change
            # the semantics of the CALLER's own toPandas()/createDataFrame
            # calls on an externally supplied session (ADVICE r11).
            conf_key = "spark.sql.execution.arrow.pyspark.enabled"
            prior = spark.conf.get(conf_key, None)
            spark.conf.set(conf_key, "true")
            try:
                return spark.createDataFrame(
                    pd.DataFrame(rows, columns=names), schema=schema
                )
            finally:
                if prior is None:
                    spark.conf.unset(conf_key)
                else:
                    spark.conf.set(conf_key, prior)
        except Exception:
            pass
    return spark.createDataFrame(rows, schema)


def read_table_arrow(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    columns: list[str] | None = None,
    filters=None,
    *,
    max_rows: int | None = None,
):
    """Driver-side pyarrow read of one table THROUGH the ``load_table``
    conventions (VERDICT r11 item 5): honors an attached layout/table
    override (collecting the override frame via Spark so both sides of a
    kernel see the SAME data), and otherwise reads the same canonical
    ``<sf_dir>/<name>.parquet`` path ``load_table`` scans. Returns a
    pyarrow Table.

    For BOUNDED dimension/metadata tables that a kernel closes over or
    broadcasts — ``max_rows`` is a defensive guard (not a silent
    truncation): exceeding it raises, because silently pulling an
    unbounded table onto the driver is the failure mode this helper
    exists to prevent.

    ``filters`` uses pyarrow's DNF form, e.g. ``[("vec_id", "<", 500)]``;
    on the override path the same tuples are applied as Spark predicates
    so both paths return identical rows."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    override = _TABLE_OVERRIDES.get(key)
    if override is not None:
        df = override
        for col, op, val in filters or []:
            ops = {"<": "<", "<=": "<=", ">": ">", ">=": ">=", "=": "=", "==": "="}
            df = df.filter(f"{col} {ops[op]} {val!r}")
        if columns:
            df = df.select(*columns)
        t = df.toArrow()
    else:
        import pyarrow.parquet as pq

        t = pq.read_table(
            os.path.join(sf_dir, f"{name}.parquet"), columns=columns, filters=filters
        )
    if max_rows is not None and t.num_rows > max_rows:
        raise ValueError(
            f"driver-side read of {name!r} returned {t.num_rows} rows "
            f"(> max_rows={max_rows}); this table is expected to be bounded — "
            "use a distributed plan instead of a driver-side matrix"
        )
    return t


def _package_zip(zdir: str) -> str:
    """Zip this package's ``.py`` files into ``zdir``; returns the zip's
    path."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(zdir, "highs_duckdb_spark.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join(
                        "highs_duckdb_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    return zpath


def ensure_shipped(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    Required before any pandas-UDF / applyInPandas stage: cloudpickle
    serializes module-level kernels by reference, so executors must be able
    to import ``highs_duckdb_spark`` even when the driver process found it
    through a cwd/sys.path entry the workers don't share.

    The zip's directory lives as long as the SparkContext (executors fetch
    the file from it) and is removed when the context stops or the
    interpreter exits, whichever comes first.
    """
    sc = spark.sparkContext
    if getattr(sc, "_highs_duckdb_spark_shipped", False):
        return
    import tempfile

    zdir = tempfile.mkdtemp(prefix="hds_pyfiles_")
    _remove_with_context(sc, zdir)
    sc.addPyFile(_package_zip(zdir))
    sc._highs_duckdb_spark_shipped = True


#: reader-DataFrame cache: file listing + footer schema read cost ~100ms per
#: spark.read.parquet call; reusing the immutable reader DataFrame avoids
#: paying it once per query. Each entry is the reader and the schema of its
#: files as read (before normalize_events_ts). Keyed by applicationId so
#: entries from stopped sessions can never be served to a new one.
_READER_CACHE: dict[tuple[str, str, str], tuple[DataFrame, StructType]] = {}

#: explicit layout overrides (sources/layout.py): point a logical table at a
#: bucketed/sort-clustered catalog table instead of the raw parquet path —
#: the local analog of repointing a production catalog entry at a new
#: storage layout. Consulted by load_table BEFORE the reader cache.
_TABLE_OVERRIDES: dict[tuple[str, str, str], DataFrame] = {}


def set_table_override(
    spark: SparkSession, sf_dir: str, name: str, df: DataFrame
) -> None:
    """Serve ``df`` for ``load_table(spark, name, sf_dir)`` in this session."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}")
    _TABLE_OVERRIDES[(spark.sparkContext.applicationId, sf_dir, name)] = df


def clear_table_overrides(spark: SparkSession) -> None:
    app = spark.sparkContext.applicationId
    for key in [k for k in _TABLE_OVERRIDES if k[0] == app]:
        del _TABLE_OVERRIDES[key]
    # the layout's alternate clustered copies share the overrides' lifetime
    from highs_duckdb_spark.sources.layout import clear_alt_copies

    clear_alt_copies(spark)


def load_table(
    spark: SparkSession,
    name: str,
    sf_dir: str = DEFAULT_SF_DIR,
    *,
    use_layout: bool = True,
) -> DataFrame:
    """Read one synthetic table (TESTDATA.md) as a DataFrame.

    Plain ``spark.read.parquet`` so Catalyst keeps full pushdown freedom:
    filters and column pruning reach the parquet scan (`PushedFilters` /
    `ReadSchema` in `.explain`), and partition pruning applies unchanged when
    the path is a partitioned directory tree at real scale.

    ``use_layout=False`` bypasses an attached layout's table override and
    reads the SOURCE files — for callers that determined the layout's
    clustering cannot help them (see ``sources.layout.scan_for_keys``).
    """
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if use_layout:
        override = _TABLE_OVERRIDES.get(key)
        if override is not None:
            return override
    cached = _READER_CACHE.get(key)
    if cached is not None:
        return cached[0]
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS); an externally-supplied
        # SparkSession (e.g. the driver's) won't have the legacy conf, so set
        # it here — it is a runtime-settable SQLConf.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # events.ts is parquet TIMESTAMP(NANOS): surfaced as long nanos under
    # spark.sql.legacy.parquet.nanosAsLong — convert to a µs timestamp here so
    # every consumer sees a proper TimestampType column.
    df = normalize_events_ts(raw) if name == "events" else raw
    _READER_CACHE[key] = (df, raw.schema)
    return df


def source_schema(
    spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR
) -> StructType:
    """Schema of table ``name``'s parquet files as Spark reads them, before
    ``load_table``'s normalization (events.ts is still long nanoseconds).

    A stream over the table, or a reader over some of its files, declares
    this schema instead of inferring one: inference reads a footer in a
    Spark job on every call, while this is served from the reader cache
    and inferred once per session, at the table's first load."""
    load_table(spark, name, sf_dir, use_layout=False)
    return _READER_CACHE[(spark.sparkContext.applicationId, sf_dir, name)][1]


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """events.ts as read under the legacy conf is LONG nanoseconds —
    convert to a µs ``TimestampType`` so every consumer sees a proper
    timestamp column. Shared by ``load_table`` and the file-pruned events
    scan (``sources.layout.pruned_scan``), which reads the raw files
    directly and must apply the SAME normalization."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import LongType

    if "ts" in df.columns and isinstance(df.schema["ts"].dataType, LongType):
        # integer div: ns ≈ 1.7e18 overflows double's exact range, so no float math
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load several tables and register each as a temp view of the same name."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, name, sf_dir)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
