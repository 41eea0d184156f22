"""SparkSession factory.

The reference delegates all execution to DuckDB/MotherDuck
(`src/databases/motherduck.py:37-38`); our engine's equivalent of that
"connection" is a tuned SparkSession. Defaults target the test rig
(local[N], single JVM) but every knob is cluster-meaningful:

- AQE on: runtime coalesce + skew-join handling replace the
  reference's hand-tuned batch sizes (BASELINE.md "batch size" rows).
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden (or left to AQE's coalesce) — queries here never depend
  on a specific partition count.
- Arrow enabled: pandas UDF / toPandas paths are Arrow-batched.
- Session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle and are stable across machines.
- Codegen cache sized to the working set: Spark keeps compiled
  generated classes in a JVM-global cache of 100 entries by default,
  fewer than one pass of the analytics queries compiles (108 classes),
  so every re-run evicts and recompiles through Janino and the JIT
  compiles the new classes again. ``spark.sql.codegen.cache.maxEntries``
  is a static conf read once per JVM, so only the builder that
  launches the JVM can size it; a session this library did not build
  (the driver's) owns that conf itself, as it owns the timezone under
  ``load_tables(configure_session=False)``.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession

# Entries of Spark's JVM-global generated-class cache (default 100).
# The largest working set this repo re-runs in one session is a
# bench.py pass of the 16 headline rows at sf0.1: 544 distinct
# generated classes, corpus_funnel alone 235 (a perfbench analytics
# pass compiles 108, a warehouse pass 70). 2000 leaves ~3.7x headroom
# over it, so a warm re-run compiles nothing
# (tests/test_driver_session.py::test_rerun_compiles_no_new_classes).
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(
    app_name: str = "open_data_pipelines_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``SPARK_GRAFT_CPUS`` (driver contract) sets local parallelism;
    defaults to all cores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Respect the classic TPC-H-ish ~10MB broadcast default but be
        # explicit: dims (region/nation/supplier/swa-code-like tables)
        # must go broadcast, never sort-merge.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # local test files are single small parquet files: small split
        # size fans scans across cores. On a real cluster RAISE this
        # through ``extra_conf`` (128m is the classic default) — file
        # splits already provide parallelism there and tiny splits
        # would explode task counts.
        .config("spark.sql.files.maxPartitionBytes", "4m")
        # harness events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanos timestamp — read as long and truncate to micros in
        # load_tables (same truncation DuckDB applies on read).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # naive (isAdjustedToUTC=false) parquet timestamps: read as
        # session-TZ TimestampType, not TIMESTAMP_NTZ — the session TZ
        # is pinned UTC so epochs match the DuckDB oracle, and every
        # downstream consumer (watermarks, unix_micros, TIMESTAMP
        # literals) requires TimestampType.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Spark's default parquet timestamp encoding (INT96) writes NO
        # row-group min/max stats, so readers can never skip on time —
        # at warehouse scale that silently forfeits the cheapest prune
        # there is. INT64 micros restores stats (tests/test_zorder.py)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


TESTDATA_TABLES = (
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


# Session-lifetime scan catalog. Constructing a parquet scan is py4j
# calls plus one footer read on the driver (``footer_schema``; a
# directory table is also listed) even on a warm JVM, and every
# load_tables call would re-pay it for
# byte-identical scan relations. Real applications register a table
# ONCE per session (a catalog); this cache is exactly that: the
# unresolved scan DataFrame per (session, file path, file stat),
# holding no data, no results, no plan state — embedding one immutable
# relation into many plans is as safe as calling read.parquet again
# (the dim_frame/memo_column rationale). The file's (mtime_ns, size)
# is in the key, so a rewritten fixture can never be served a stale
# scan; entries of dead sessions are unreachable (session id in the
# key) and dim-bounded (#sessions x #tables).
_SCAN_CACHE: dict = {}


def _hidden(name: str) -> bool:
    """Spark's listing rule (``HadoopFSUtils.shouldFilterOutPathName``):
    names starting with ``.``, or with ``_`` and holding no ``=``, are
    not part of a table, except the two parquet summary files."""
    if name.startswith(("_common_metadata", "_metadata")):
        return False
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _schema_file(fs, status):
    """The one file whose footer Spark's inference reads when
    ``mergeSchema`` is off (``ParquetUtils.inferSchema``): ``path``
    itself if it is a file; in a directory, ``_common_metadata``, else
    ``_metadata``, else the first data file in path order, over the
    leaves Spark's listing keeps (partition subdirectories included)."""
    if not status.isDirectory():
        return status
    summaries = ("_common_metadata", "_metadata")
    leaves, dirs = [], [status]
    while dirs:
        for st in fs.listStatus(dirs.pop().getPath()):
            p = st.getPath()
            name = p.getName()
            if _hidden(name):
                continue
            if st.isDirectory():
                dirs.append(st)
            else:
                leaves.append((p.toString(), name, st))
    leaves.sort(key=lambda leaf: leaf[0])
    for pick in summaries:
        for _, name, st in leaves:
            if name == pick:
                return st
    for _, name, st in leaves:
        if name not in summaries:
            return st
    raise FileNotFoundError(
        f"Unable to infer schema for Parquet: no data file under {status.getPath().toString()}"
    )


def footer_schema(spark: SparkSession, path: str):
    """The Spark schema of the parquet table at ``path`` (one file, or a
    directory of part files), read from one footer on the driver.

    These are the calls Spark's own schema inference makes when
    ``mergeSchema`` is off: it picks the same file (``_schema_file``),
    reads its footer without row groups, and converts it with
    ``ParquetFileFormat.readSchemaFromFooter`` and a converter built
    from the session conf. So ``nanosAsLong``, ``inferTimestampNTZ``,
    ``binaryAsString``, INT96 and a Spark-written schema in the footer's
    key-value metadata read as they would there, but no Spark job is
    launched. A missing or corrupt file, or a directory with no data
    file, raises."""
    from pyspark.sql.types import _parse_datatype_json_string

    jvm, jss = spark._jvm, spark._jsparkSession
    hconf = jss.sessionState().newHadoopConf()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(hconf)
    status = _schema_file(fs, fs.getFileStatus(hpath))
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    meta = parquet.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, hconf),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    footer = jvm.org.apache.parquet.hadoop.Footer(status.getPath(), meta)
    converter = parquet.ParquetToSparkSchemaConverter(jss.sessionState().conf())
    return _parse_datatype_json_string(
        parquet.ParquetFileFormat.readSchemaFromFooter(footer, converter).json()
    )


class _LazyTables(Mapping):
    """Mapping name -> DataFrame that defers building each scan to first
    access; construction is also cached for the session lifetime (see
    _SCAN_CACHE).

    At cluster scale the same deferral avoids footer reads and file
    listings for tables a job never touches. The scan object is
    plan-identical to a fresh ``read.parquet`` — no data is
    materialized or reused across actions."""

    def __init__(self, names: tuple[str, ...], build) -> None:
        self._names = names
        self._build = build
        self._dfs: dict[str, "DataFrame"] = {}

    def __getitem__(self, name: str):
        if name not in self._dfs:
            if name not in self._names:
                raise KeyError(name)
            self._dfs[name] = self._build(name)
        return self._dfs[name]

    def __iter__(self):
        return iter(self._names)

    def __len__(self) -> int:
        return len(self._names)


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    register_views: bool = True,
    configure_session: bool = True,
):
    """Read the harness parquet tables (TESTDATA.md) and register views.

    Returns a mapping name -> DataFrame. Reads are schema-on-file
    parquet scans — column pruning and predicate pushdown apply per
    query. With ``register_views=False`` the mapping is LAZY: each
    table's scan is constructed on first access (and cached for the
    mapping's lifetime), so callers pay driver-side footer/schema
    cost only for the tables they touch. ``register_views=True``
    keeps the eager behavior — every existing table is read and
    registered so SQL can reference any of them.

    ``configure_session`` (default True) SETS SESSION-WIDE CONFS on the
    caller's session: ``nanosAsLong`` (without it events.parquet's
    TIMESTAMP(NANOS) column is unreadable — the driver passes a session
    this library didn't build) and UTC session timezone (timestamp
    -literal -> epoch conversions must match the DuckDB oracle). An
    application embedding this library in a session with its own
    timezone semantics should pass ``configure_session=False`` and own
    those two confs itself.
    """
    from pyspark.sql import functions as F

    if not os.path.isdir(sf_dir):
        raise FileNotFoundError(f"testdata dir not found: {sf_dir}")
    if configure_session:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        if spark.conf.get("spark.sql.session.timeZone") != "UTC":
            spark.conf.set("spark.sql.session.timeZone", "UTC")

    def _one(name: str):
        path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
        st = os.stat(path)
        key = (id(spark._jsparkSession), path, st.st_mtime_ns, st.st_size)
        hit = _SCAN_CACHE.get(key)
        if hit is not None:
            return hit
        df = _SCAN_CACHE[key] = _build(name)
        return df

    def _build(name: str):
        path = os.path.join(sf_dir, f"{name}.parquet")
        schema = footer_schema(spark, path)
        df = spark.read.schema(schema).parquet(path)
        for col in _EVENT_TIME_COLUMNS.get(name, ()):
            # Normalize whatever the harness encoded the event-time
            # column as to a proper TimestampType:
            #  - TIMESTAMP(NANOS) parquet -> read as long (nanosAsLong),
            #    integer-div (not float: ns epoch exceeds double's
            #    53-bit mantissa) to micros — the same truncation
            #    DuckDB applies on read.
            #  - naive timestamp[us] parquet -> Spark 4 infers
            #    TIMESTAMP_NTZ; with the session TZ pinned UTC,
            #    cast("timestamp") is epoch-identical to the DuckDB
            #    oracle's reading of the same file.
            #  - already TimestampType -> leave untouched.
            from pyspark.sql import types as T

            dt = schema[col].dataType
            if isinstance(dt, T.LongType):
                df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
            elif isinstance(dt, T.TimestampNTZType):
                df = df.withColumn(col, F.col(col).cast(T.TimestampType()))
        return df

    present = tuple(
        name
        for name in TESTDATA_TABLES
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet"))
    )
    if register_views:
        out = {}
        for name in present:
            df = _one(name)
            df.createOrReplaceTempView(name)
            out[name] = df
        return out
    return _LazyTables(present, _one)


# tables whose event-time column must land as TimestampType regardless
# of how the harness encoded the parquet (TIMESTAMP(NANOS)-as-long,
# naive micros/NTZ, or UTC-adjusted micros — all normalized above)
_EVENT_TIME_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def pick_tables(spark: SparkSession, sf_dir: str, *names: str):
    """The named harness tables, in order — the one shared helper the
    query modules use (previously three byte-identical private copies:
    round-9 review find)."""
    tables = load_tables(spark, sf_dir, register_views=False)
    return [tables[n] for n in names]
