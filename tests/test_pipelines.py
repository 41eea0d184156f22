"""End-to-end pipeline entry point tests (reference-shaped flows on
local fixtures)."""

from __future__ import annotations

import zipfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from open_data_pipelines_spark.pipelines import (
    MonthlyIngestConfig,
    run_dual_schema_ingest,
    run_monthly_ingest,
)
from open_data_pipelines_spark.schemas import TemplateRegistry


@pytest.fixture()
def monthly_drop(tmp_path):
    def make(month: int, rows: list[str]) -> str:
        z = tmp_path / f"drop_{month:02d}.zip"
        body = "Permit Ref,Easting,Northing\n" + "\n".join(rows) + "\n"
        with zipfile.ZipFile(z, "w") as zf:
            zf.writestr(f"Data/permits_{month:02d}_2024.csv", body)
        return f"file://{z}"

    return make


def test_monthly_ingest_end_to_end_and_idempotent(spark, tmp_path, monthly_drop):
    wh = str(tmp_path / "warehouse")
    logs = str(tmp_path / "logs")

    cfg1 = MonthlyIngestConfig(
        data_source="permits",
        url=monthly_drop(1, ["P1,530100,180200", "P2,nan,180300"]),
        year=2024,
        month=1,
        expected_columns=["Permit Ref", "Easting", "Northing"],
        numeric_columns={"easting": "bigint", "northing": "bigint"},
    )
    run_monthly_ingest(spark, cfg1, str(tmp_path / "landing1"), wh, logs)

    cfg2 = MonthlyIngestConfig(
        data_source="permits",
        url=monthly_drop(2, ["P9,1,2"]),
        year=2024,
        month=2,
        expected_columns=["Permit Ref", "Easting", "Northing"],
        numeric_columns={"easting": "bigint", "northing": "bigint"},
    )
    run_monthly_ingest(spark, cfg2, str(tmp_path / "landing2"), wh, logs)

    table = spark.read.parquet(wh)
    assert table.count() == 3
    got = {r["permit_ref"]: r["easting"] for r in table.collect()}
    assert got == {"P1": 530100, "P2": None, "P9": 1}

    # re-run month 1 with corrected data: only month 1 replaced
    cfg1b = MonthlyIngestConfig(
        data_source="permits",
        url=monthly_drop(1, ["P1,530100,180200", "P2,999,180300"]),
        year=2024,
        month=1,
        expected_columns=["Permit Ref", "Easting", "Northing"],
        numeric_columns={"easting": "bigint", "northing": "bigint"},
    )
    run_monthly_ingest(spark, cfg1b, str(tmp_path / "landing3"), wh, logs)
    table = spark.read.parquet(wh)
    assert table.count() == 3
    assert {r["permit_ref"]: r["easting"] for r in table.collect()}["P2"] == 999

    log_rows = spark.read.parquet(logs).orderBy("start_time").collect()
    assert len(log_rows) == 3 and all(r["status"] == "SUCCESS" for r in log_rows)
    assert [r["rows_processed"] for r in log_rows] == [2, 1, 2]


def test_dual_schema_ingest_selects_template(spark, tmp_path):
    reg = TemplateRegistry()
    reg.register("000000", {"BNF_CODE": "VARCHAR", "QUANTITY": "VARCHAR"})
    reg.register("202503", {"BNF_PRESENTATION_CODE": "VARCHAR", "QUANTITY": "VARCHAR"})

    legacy = tmp_path / "legacy.csv"
    legacy.write_text("BNF_CODE,QUANTITY\nX1,5\n")
    current = tmp_path / "current.csv"
    current.write_text("BNF_PRESENTATION_CODE,QUANTITY\nY1,7\n")

    df_legacy = run_dual_schema_ingest(spark, reg, "202502", str(legacy))
    assert df_legacy.columns == ["BNF_CODE", "QUANTITY"]
    df_current = run_dual_schema_ingest(spark, reg, "202504", str(current))
    assert df_current.columns == ["BNF_PRESENTATION_CODE", "QUANTITY"]

    # era mismatch fails fast (P7)
    from open_data_pipelines_spark.schemas import SchemaValidationError

    with pytest.raises(SchemaValidationError):
        run_dual_schema_ingest(spark, reg, "202504", str(legacy))


def test_stream_to_month_partitions_and_dedup(spark, tmp_path):
    from open_data_pipelines_spark.session import load_tables
    from open_data_pipelines_spark.streaming.windows import (
        dedup_within_watermark,
        read_event_stream,
        stream_to_month_partitions,
    )
    from tests.conftest import SF_SMOKE

    events = load_tables(spark, SF_SMOKE, register_views=False)["events"]
    src = str(tmp_path / "src")
    # duplicate every event: dedup must halve it
    events.unionByName(events).write.parquet(src)

    stream = dedup_within_watermark(
        read_event_stream(spark, src, events.schema), ("event_id",), "ts", "10 days"
    )
    wh = str(tmp_path / "stream_wh")
    q = stream_to_month_partitions(stream, wh, str(tmp_path / "ckpt"), "ts")
    q.awaitTermination()

    out = spark.read.parquet(wh)
    assert out.count() == events.count()  # dupes dropped
    got_months = {tuple(r) for r in out.select("year", "month").distinct().collect()}
    want_months = {
        tuple(r) for r in events.select(F.year("ts"), F.month("ts")).distinct().collect()
    }
    assert got_months == want_months
