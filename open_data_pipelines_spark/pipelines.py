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
"""

from __future__ import annotations

import urllib.request
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.cleaning import normalize_column_names, normalize_null_tokens, safe_cast
from .schemas import TemplateRegistry
from .sinks.metadata import MetadataLogger
from .sinks.writers import write_month_partition
from .sources.csv_source import read_csv_bronze
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


def run_monthly_ingest(
    spark: SparkSession,
    cfg: MonthlyIngestConfig,
    landing_dir: str,
    warehouse_path: str,
    log_path: str,
    opener: Callable = urllib.request.urlopen,
) -> DataFrame:
    """One monthly drop, end to end. Returns the silver DataFrame.

    Idempotent per (year, month): re-runs replace exactly that month's
    partitions (the reference's CREATE OR REPLACE month table, I2).
    """
    with MetadataLogger(
        spark,
        log_path,
        data_source=cfg.data_source,
        table_name=f"{cfg.month:02d}_{cfg.year}",
        processor_type="monthly_ingest",
        url=cfg.url,
    ) as meta:
        members = fetch_and_extract(cfg.url, landing_dir, cfg.member_glob, opener=opener)
        if not members:
            raise FileNotFoundError(f"no members matching {cfg.member_glob!r} in {cfg.url}")

        silver: DataFrame | None = None
        for path in members:
            bronze = read_csv_bronze(spark, path, cfg.expected_columns, strict=cfg.strict_schema)
            part = normalize_column_names(bronze)
            silver = part if silver is None else silver.unionByName(part)

        # one projection: each withColumn would be its own eager analysis
        silver = silver.withColumns(
            {
                **{
                    col: safe_cast(normalize_null_tokens(col), typ)
                    for col, typ in cfg.numeric_columns.items()
                },
                "year": F.lit(cfg.year),
                "month": F.lit(cfg.month),
                "date_time_processed": F.current_timestamp(),
            }
        )

        meta.rows_processed = write_month_partition(silver, warehouse_path)
        return silver


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
