"""End-to-end pipeline entry points — the engine-native equivalents of
the reference's ``src/pipelines/*`` modules (e.g.
``src/pipelines/street_manager.py``, ``src/pipelines/nhs_prescriptions.py``):
config in, landing -> bronze -> silver -> partitioned warehouse write,
with run-metadata logging around the whole run (SURVEY.md §3.1).

The reference's pipeline shape per run:
  1. resolve config (URLs, schema/table names, templates)
  2. DDL setup (schema + tables + metadata table)
  3. stream-download + parse + batch-insert (single-threaded Python)
  4. metadata log row

Engine-native shape (cluster boundary moved to driver/executors):
  1. same config resolution (``sources/discovery.py``)
  2. no DDL — declared StructTypes + partitioned paths
  3. driver downloads/extracts to landing; executors parse (distributed
     ``spark.read``); expression-layer cleaning; ONE partitioned table
     with dynamic month overwrite (idempotent re-runs)
  4. same metadata log row

Steps 3-4 are one function, :func:`ingest_landed`: its callers
(:func:`run_monthly_ingest`, each catalog kind, the catalog backfill)
supply only ``load``.
"""

from __future__ import annotations

import urllib.request
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.cleaning import normalize_column_names, normalize_null_tokens, safe_cast
from .schemas import TemplateRegistry
from .sinks.metadata import MetadataLogger
from .sinks.writers import write_month_partition
from .sources.csv_source import read_csv_bronze, read_csv_header
from .sources.zip_source import fetch_and_extract


@dataclass
class MonthlyIngestConfig:
    """The engine's DataSourceConfig analog (reference:
    ``src/data_sources/*.create_default_*``)."""

    data_source: str
    url: str
    year: int
    month: int
    expected_columns: list[str]
    numeric_columns: dict[str, str] = field(default_factory=dict)  # col -> spark type
    member_glob: str = "*.csv"
    strict_schema: bool = True


def ingest_landed(
    spark: SparkSession,
    load: Callable[[], DataFrame | dict[str, DataFrame]],
    *,
    warehouse_path: str,
    log_path: str,
    data_source: str,
    table_name: str,
    processor_type: str,
    url: str,
    year: int | Column,
    month: int | Column,
    numeric_columns: dict[str, str] | None = None,
) -> DataFrame | dict[str, DataFrame]:
    """Run ``load()`` inside one metadata log row, add the numeric casts
    and partition columns (values, or per-row columns for a backfill) in
    one projection, and month-write each frame (a dict of frames goes to
    ``warehouse_path/<key>``). Returns the written frame(s).

    Idempotent per (year, month): re-runs replace exactly the months
    written (the reference's CREATE OR REPLACE month table, I2).
    """
    with MetadataLogger(
        spark,
        log_path,
        data_source=data_source,
        table_name=table_name,
        processor_type=processor_type,
        url=url,
    ) as meta:
        out = load()
        # one projection: each withColumn would be its own eager analysis
        derived = {
            **{
                col: safe_cast(normalize_null_tokens(col), typ)
                for col, typ in (numeric_columns or {}).items()
            },
            "year": F.lit(year),
            "month": F.lit(month),
            "date_time_processed": F.current_timestamp(),
        }
        written: dict[str | None, DataFrame] = {}
        total = 0
        for table, bronze in (out if isinstance(out, dict) else {None: out}).items():
            written[table] = bronze.withColumns(derived)
            target = warehouse_path if table is None else f"{warehouse_path.rstrip('/')}/{table}"
            total += write_month_partition(written[table], target)
        meta.rows_processed = total
        return written if isinstance(out, dict) else written[None]


def read_csv_members(
    spark: SparkSession, cfg: MonthlyIngestConfig, members: list[str]
) -> DataFrame:
    """All-string bronze union of a drop's landed CSV files, header names
    normalized. No declared columns -> lenient: each file's own header
    is its schema."""
    if not members:
        raise FileNotFoundError(f"no members matching {cfg.member_glob!r} in {cfg.url}")
    bronze: DataFrame | None = None
    for path in members:
        expected = cfg.expected_columns or read_csv_header(path)
        part = normalize_column_names(
            read_csv_bronze(spark, path, expected, strict=cfg.strict_schema)
        )
        bronze = part if bronze is None else bronze.unionByName(part)
    return bronze


def run_monthly_ingest(
    spark: SparkSession,
    cfg: MonthlyIngestConfig,
    landing_dir: str,
    warehouse_path: str,
    log_path: str,
    opener: Callable = urllib.request.urlopen,
) -> DataFrame:
    """One monthly drop, end to end. Returns the silver DataFrame."""

    def load() -> DataFrame:
        members = fetch_and_extract(cfg.url, landing_dir, cfg.member_glob, opener=opener)
        return read_csv_members(spark, cfg, members)

    return ingest_landed(
        spark,
        load,
        warehouse_path=warehouse_path,
        log_path=log_path,
        data_source=cfg.data_source,
        table_name=f"{cfg.month:02d}_{cfg.year}",
        processor_type="monthly_ingest",
        url=cfg.url,
        year=cfg.year,
        month=cfg.month,
        numeric_columns=cfg.numeric_columns,
    )


def run_dual_schema_ingest(
    spark: SparkSession,
    registry: TemplateRegistry,
    period_yyyymm: str,
    csv_path: str,
    strict: bool = True,
) -> DataFrame:
    """Schema-evolution ingest: the template is selected by period
    (NHS legacy/current era split, ``get_template_for_date``,
    ``nhs_english_prescriptions.py:356-368``)."""
    template = registry.for_period(period_yyyymm)
    return read_csv_bronze(spark, csv_path, list(template.keys()), strict=strict)
