"""Warehouse writers (K1-K6, I2).

The reference's sink surface is DuckDB/Postgres DDL + inserts:
``CREATE SCHEMA IF NOT EXISTS`` / ``CREATE OR REPLACE TABLE``
(``src/databases/motherduck.py:45-77,167-189``), Arrow-registered
appends with a 3-retry backoff (``utils/data_processor_utils.py:9-57``),
Postgres delete-then-insert (``:60-97``), staging TRUNCATE
(``section_58.py:356``), and idempotent month reloads via
``CREATE OR REPLACE TABLE`` per ``{MM}_{YYYY}`` table.

Spark-first mapping:
- schema-per-source -> a database per source (``CREATE DATABASE``);
- table-per-month -> ONE table partitioned by (year, month): partition
  pruning replaces Jinja table selection, and *dynamic partition
  overwrite* gives the reference's idempotent month reload (I2) without
  touching other months;
- insert retries -> Spark task retries; the writer-level retry wrapper
  is kept only for external (JDBC) sinks;
- TRUNCATE staging -> overwrite with empty slice of same schema.

Scale notes: month-partitioned writes shuffle-free append under
dynamic overwrite; writers never coalesce(1) — small-file compaction
is a separate maintenance op (``compact_partitions``).
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def ensure_database(spark: SparkSession, name: str) -> None:
    """K1: CREATE SCHEMA IF NOT EXISTS."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")


def overwrite_table(df: DataFrame, table: str) -> None:
    """K1: CREATE OR REPLACE TABLE semantics."""
    df.write.mode("overwrite").option("overwriteSchema", "true").saveAsTable(table)


def append_table(df: DataFrame, table: str) -> None:
    """K3: append insert (task-level retries are Spark-native)."""
    df.write.mode("append").saveAsTable(table)


def write_month_partition(df: DataFrame, path: str) -> int:
    """I2: idempotent month reload — dynamic partition overwrite
    replaces only the (year, month) partitions present in ``df``.

    Returns the number of rows written, counted by an observation on
    the write itself (no re-read of the table). After the overwrite
    the replaced partitions hold exactly these rows."""
    obs = Observation()
    (
        df.observe(obs, F.count(F.lit(1)).alias("rows"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("year", "month")
        .parquet(path)
    )
    return obs.get["rows"]


def truncate_staging(spark: SparkSession, path: str, schema) -> None:
    """K6: TRUNCATE — overwrite with an empty frame of the same schema."""
    spark.createDataFrame([], schema).write.mode("overwrite").parquet(path)


def write_with_retry(
    write_fn: Callable[[], None],
    attempts: int = 3,
    base_delay_s: float = 3.0,
    retryable: Callable[[Exception], bool] = lambda e: True,
) -> None:
    """K3's 3-attempt exponential backoff (3·2ⁿ s) for *external* sinks
    (JDBC etc.) where Spark task retries don't cover the failure mode.
    The reference special-cases transient 'lease expired' errors the
    same way (``data_processor_utils.py:29-50``)."""
    for attempt in range(attempts):
        try:
            write_fn()
            return
        except Exception as ex:  # noqa: BLE001
            if attempt == attempts - 1 or not retryable(ex):
                raise
            delay = base_delay_s * (2**attempt)
            log.warning("write failed (%s); retry %d in %.0fs", ex, attempt + 1, delay)
            time.sleep(delay)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    properties: dict[str, str] | None = None,
) -> None:
    """K4: the reference's Postgres delete-then-insert ==
    ``mode('overwrite')`` with truncate; row-wise parameterized inserts
    become parallel JDBC batch writes."""
    write_with_retry(
        lambda: df.write.option("truncate", "true").jdbc(
            url, table, mode=mode, properties=properties or {}
        )
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int = 32,
    sort_cols: tuple[str, ...] = (),
) -> None:
    """Bucketed table write — the co-located-join scale path.

    Two tables bucketed identically on the join key sort-merge-join
    with NO exchange on either side (the shuffle is paid once at write
    time, amortized over every subsequent join/agg on that key). This
    is the engine's replacement for the reference's implicit reliance
    on single-node DuckDB locality for the uprn<->usrn joins.
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def compact_partitions(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    part_cols: tuple[str, ...] = ("year", "month"),
    target_files_per_partition: int = 1,
    zorder_cols: tuple[str, ...] = (),
) -> None:
    """Maintenance: rewrite a partitioned dataset with fewer files
    (small-file pressure from frequent appends at scale). Writes to a
    fresh path — Spark cannot overwrite a dataset it is reading.

    ``zorder_cols`` additionally sorts rows within each rewritten
    partition along the Morton curve (``sinks/layout.py``) — the
    compaction pass is the natural moment to buy multi-column row-
    group pruning, since the data is being rewritten anyway (the
    OPTIMIZE ... ZORDER BY pairing).

    ``target_files_per_partition`` salts the shuffle key: rows of one
    partition directory spread across that many shuffle tasks, so each
    directory gets ~that many output files. (The previous
    ``repartition(N, part_cols)`` made N the TOTAL task count with
    each directory wholly inside one task — every directory got one
    file regardless, and N=1 funnelled the whole dataset through a
    single task: round-9 review find.)"""
    df = spark.read.parquet(src_path)
    cols = [c for c in part_cols if c in df.columns]
    n = max(1, int(target_files_per_partition))
    salt = F.pmod(F.monotonically_increasing_id(), F.lit(n)).alias("__salt")
    # explicit partition count: a user-specified number disables AQE's
    # small-partition coalescing for this exchange, which would
    # otherwise merge the salted groups straight back into one task
    # (defeating the knob exactly when partitions are small)
    num = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    out = (
        df.withColumn("__salt", salt)
        .repartition(num, *[F.col(c) for c in cols], F.col("__salt"))
        .drop("__salt")
    )
    if zorder_cols:
        from .layout import zorder_key

        _, z = zorder_key(out, list(zorder_cols))
        out = out.withColumn("__z", z).sortWithinPartitions("__z").drop("__z")
    (
        out.write.mode("overwrite")
        .partitionBy(*cols)
        .parquet(dest_path)
    )
