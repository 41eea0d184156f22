"""Per-source catalog tests: every reference pipeline entry point is a
named config, URL resolution works per strategy offline, and the
Street Manager- / NHS-shaped fixtures (FIXTURES.md F1/F2) run end to
end through config lookup alone."""

from __future__ import annotations

import json
import zipfile
from pathlib import Path

import pytest
from pyspark.sql import types as T

from open_data_pipelines_spark.sources.catalog import (
    CATALOG,
    SourceConfig,
    resolve_url,
    run_source,
)

# the reference's pipeline entry points (src/pipelines/*.py) by source
# code; nhs custom-range shares the nhs config, sept_2024 ships as a
# data source only — both covered by the same catalog rows.
REFERENCE_PIPELINE_CODES = {
    "street_manager",
    "section_58",
    "geoplace_swa",
    "os_open_usrn",
    "os_usrn_uprn",
    "bduk_premises_jul_2025",
    "bduk_premises_sept_2025",
    "cadent_gas_underground_pipes",
    "code_point",
    "dft_road_stats",
    "naptan_data",
    "bods_timetables",
    "postcode_p001",
    "postcode_p002",
    "national_statistic_postcode_lookup",
    "ons_uprn_directory",
    "nhs_english_prescribing_data",
}


def test_catalog_covers_every_reference_pipeline():
    missing = REFERENCE_PIPELINE_CODES - CATALOG.keys()
    assert not missing, f"catalog missing reference pipelines: {missing}"
    for cfg in CATALOG.values():
        assert isinstance(cfg, SourceConfig)
        assert cfg.base_url.startswith("https://")
        assert cfg.ref, f"{cfg.name} lacks a reference pointer"


def test_resolve_url_strategies():
    assert resolve_url(CATALOG["naptan_data"]).endswith("/Download/National/csv")

    sm = resolve_url(CATALOG["street_manager"], year=2024, month=3)
    assert sm == "https://opendata.manage-roadworks.service.gov.uk/permit/2024/03.zip"

    ckan = {
        "result": {
            "resources": [
                {"name": "EPD_SNOMED_202401", "format": "CSV", "url": "u1"},
                {"name": "EPD_SNOMED_202403", "format": "CSV", "url": "u3"},
                {"name": "EPD_SNOMED_202402", "format": "CSV", "url": "u2"},
            ]
        }
    }
    assert resolve_url(CATALOG["nhs_english_prescribing_data"], catalogue=ckan) == "u3"

    products = [{"id": "LIDS", "format": "CSV", "url": "lids.zip"}]
    assert resolve_url(CATALOG["os_usrn_uprn"], catalogue=products) == "lids.zip"

    html = '<a href="/files/road_stats.ods">ods</a><a href="/files/notes.pdf">pdf</a>'
    # site-relative hrefs resolve against the scraped page (round-9
    # fix: the raw '/files/...' was fed to urlopen and crashed)
    assert resolve_url(CATALOG["dft_road_stats"], fetch=lambda u: html) == (
        "https://www.gov.uk/files/road_stats.ods"
    )

    assert (
        resolve_url(CATALOG["os_open_usrn"], fetch=lambda u: u + "#signed")
        == CATALOG["os_open_usrn"].base_url + "#signed"
    )


@pytest.fixture()
def street_manager_drop(tmp_path):
    """F1-shaped ZIP-of-JSON monthly drop."""
    events = [
        {
            "event_reference": 1,
            "event_type": "PERMIT_GRANTED",
            "event_time": "2024-03-01T10:00:00",
            "object_data": {
                "permit_reference_number": "PRN-1",
                "work_category": "Major",
                "usrn": "12345",
            },
        },
        {
            "event_reference": 2,
            "event_type": "WORK_START",
            "event_time": "2024-03-02T09:30:00",
            "object_data": {
                "permit_reference_number": "PRN-1",
                "work_category": "Major",
                "usrn": "12345",
            },
        },
        {
            "event_reference": 3,
            "event_type": "PERMIT_GRANTED",
            "event_time": "2024-03-02T11:00:00",
            "object_data": {
                "permit_reference_number": "PRN-2",
                "work_category": "Minor",
                "usrn": "67890",
            },
        },
    ]
    z = tmp_path / "03.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr(
            "permits.json", "\n".join(json.dumps(e) for e in events)
        )
    return f"file://{z}"


SM_SCHEMA = T.StructType(
    [
        T.StructField("event_reference", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("event_time", T.StringType()),
        T.StructField(
            "object_data",
            T.StructType(
                [
                    T.StructField("permit_reference_number", T.StringType()),
                    T.StructField("work_category", T.StringType()),
                    T.StructField("usrn", T.StringType()),
                ]
            ),
        ),
    ]
)


def test_street_manager_by_name(spark, tmp_path, street_manager_drop):
    df = run_source(
        spark,
        "street_manager",
        landing_dir=str(tmp_path / "landing"),
        warehouse_path=str(tmp_path / "wh"),
        log_path=str(tmp_path / "logs"),
        year=2024,
        month=3,
        url=street_manager_drop,
        json_schema=SM_SCHEMA,
    )
    rows = {r["event_reference"]: r for r in df.collect()}
    assert len(rows) == 3
    # object_data.* flattened to top level, reference column names intact
    assert rows[1]["permit_reference_number"] == "PRN-1"
    assert rows[3]["work_category"] == "Minor"


def test_nhs_by_name(spark, tmp_path):
    csv = tmp_path / "EPD_SNOMED_202403.csv"
    csv.write_text(
        "YEAR_MONTH,PRACTICE_CODE,BNF_CODE,ITEMS\n"
        "202403,P1,0101,5\n"
        "202403,P2,0102,7\n"
    )
    wh = str(tmp_path / "wh")
    df = run_source(
        spark,
        "nhs_english_prescribing_data",
        landing_dir=str(tmp_path / "landing"),
        warehouse_path=wh,
        log_path=str(tmp_path / "logs"),
        year=2024,
        month=3,
        url=f"file://{csv}",
    )
    assert df.count() == 2
    table = spark.read.parquet(wh)
    got = {r["practice_code"] for r in table.collect()}
    assert got == {"P1", "P2"}
    log = spark.read.parquet(str(tmp_path / "logs")).collect()
    assert len(log) == 1 and log[0]["status"] == "SUCCESS"
    assert log[0]["rows_processed"] == 2


def test_geoplace_swa_catalog_ingest_end_to_end(spark, tmp_path):
    """S9 through the catalog path: the encrypted VelvetSweatshop
    fixture decrypts natively (no msoffcrypto in-container), reads as
    all-string bronze with the catalog row's header_row=1, and
    run_source returns the silver frame it wrote."""
    import pathlib

    fixture = pathlib.Path(__file__).resolve().parent / "fixtures" / "encrypted_velvet.xls"
    df = run_source(
        spark,
        "geoplace_swa",
        landing_dir=str(tmp_path / "landing"),
        warehouse_path=str(tmp_path / "wh"),
        log_path=str(tmp_path / "logs"),
        year=2024,
        month=1,
        url=f"file://{fixture}",
    )
    assert set(df.columns) == {
        "swa_code", "account_name", "prefix", "account_type",
        "year", "month", "date_time_processed",
    }
    rows = {r["prefix"]: r["account_name"] for r in df.collect()}
    assert rows["YG"] == "Transport for London"


def test_corrupt_ods_raises_cleanly(spark, tmp_path):
    """A corrupt ODS through the catalog path must fail with the
    parser's typed format error, not an obscure stack (the engine
    gate only remains on S9 encrypted XLS — S7/S8 run natively)."""
    from open_data_pipelines_spark.sources.spreadsheet import SpreadsheetFormatError

    ods = tmp_path / "x.ods"
    ods.write_bytes(b"not really an ods")
    with pytest.raises(SpreadsheetFormatError):
        run_source(
            spark,
            "dft_road_stats",
            landing_dir=str(tmp_path / "landing"),
            warehouse_path=str(tmp_path / "wh"),
            log_path=str(tmp_path / "logs"),
            year=2024,
            month=1,
            url=f"file://{ods}",
        )


def test_zip_csv_without_matching_member_raises(spark, tmp_path):
    """A zip_csv drop whose archive holds no ``*.csv`` member fails with
    FileNotFoundError, as run_monthly_ingest does, and logs the run as
    FAILED."""
    bundle = tmp_path / "nspl.zip"
    with zipfile.ZipFile(bundle, "w") as z:
        z.writestr("README.txt", "no data here\n")
    with pytest.raises(FileNotFoundError, match="no members matching"):
        run_source(
            spark, "national_statistic_postcode_lookup",
            url=f"file://{bundle}", **_kwargs(tmp_path),
        )
    log = spark.read.parquet(str(tmp_path / "logs")).collect()
    assert [r["status"] for r in log] == ["FAILED"]


def test_zip_json_catalog_ingest_idempotent_at_scale(spark, tmp_path):
    """Street Manager-shaped catalog run at non-toy size (100k events,
    the sf0.1 `events` row count): config-lookup-only ingest must be
    re-run-safe — the second run dynamic-overwrites the same month
    instead of appending, and both runs log SUCCESS metadata with the
    true warehouse row count (reference behavior:
    ``src/data_processors/street_manager.py:202-265`` rebuild +
    ``src/databases/motherduck.py:69-71`` CREATE OR REPLACE)."""
    n = 100_000
    z = tmp_path / "03.zip"
    with zipfile.ZipFile(z, "w", compression=zipfile.ZIP_DEFLATED) as zf:
        lines = "\n".join(
            json.dumps(
                {
                    "event_reference": i,
                    "event_type": ("PERMIT_GRANTED", "WORK_START", "WORK_STOP")[i % 3],
                    "event_time": f"2024-03-{(i % 28) + 1:02d}T10:00:00",
                    "object_data": {
                        "permit_reference_number": f"PRN-{i % 5000}",
                        "work_category": ("Major", "Minor", "Standard")[i % 3],
                        "usrn": str(10_000 + (i % 700)),
                    },
                }
            )
            for i in range(n)
        )
        zf.writestr("permits.json", lines)

    wh = str(tmp_path / "wh")
    logs = str(tmp_path / "logs")
    kwargs = dict(
        landing_dir=str(tmp_path / "landing"),
        warehouse_path=wh,
        log_path=logs,
        year=2024,
        month=3,
        url=f"file://{z}",
        json_schema=SM_SCHEMA,
    )
    run_source(spark, "street_manager", **kwargs)
    first = spark.read.parquet(wh).count()
    assert first == n

    run_source(spark, "street_manager", **kwargs)  # identical re-run
    table = spark.read.parquet(wh)
    assert table.count() == n  # month overwritten, not doubled
    # flattened silver schema intact at scale
    assert {"event_reference", "permit_reference_number", "year", "month"} <= set(
        table.columns
    )
    log = spark.read.parquet(logs).collect()
    assert [r["status"] for r in log] == ["SUCCESS", "SUCCESS"]
    assert all(r["rows_processed"] == n for r in log)
    assert all(r["table_name"] == "03_2024" for r in log)


def test_zip_json_backfill_fleet(spark, tmp_path):
    """Multi-month backfill: a fleet of monthly archives ingested in one
    distributed pass, (year, month) derived from event time, dynamic
    overwrite replacing exactly the months present — pre-existing
    months outside the fleet survive, and the whole backfill is
    idempotent."""
    from pyspark.sql import functions as F

    from open_data_pipelines_spark.sources.catalog import run_source_backfill

    fleet = tmp_path / "fleet"
    fleet.mkdir()
    per_month = 40
    for month in (1, 2, 3):
        with zipfile.ZipFile(fleet / f"2024_{month:02d}.zip", "w") as zf:
            events = "\n".join(
                json.dumps(
                    {
                        "event_reference": month * 1000 + i,
                        "event_type": "PERMIT_GRANTED",
                        "event_time": f"2024-{month:02d}-{(i % 28) + 1:02d}T09:00:00",
                        "object_data": {
                            "permit_reference_number": f"PRN-{i}",
                            "work_category": "Minor",
                            "usrn": "1",
                        },
                    }
                )
                for i in range(per_month)
            )
            zf.writestr(f"permits_{month}.json", events)

    wh = str(tmp_path / "wh")
    # pre-existing month OUTSIDE the fleet: must survive the backfill
    spark.createDataFrame(
        [(99999, "PERMIT_GRANTED", "2023-12-01T00:00:00", "PRN-x", "Minor", "1", 2023, 12)],
        [
            "event_reference", "event_type", "event_time",
            "permit_reference_number", "work_category", "usrn", "year", "month",
        ],
    ).withColumn("date_time_processed", F.current_timestamp()).write.partitionBy(
        "year", "month"
    ).parquet(wh)

    kwargs = dict(
        zip_glob=f"file://{fleet}/*.zip",
        warehouse_path=wh,
        log_path=str(tmp_path / "logs"),
        json_schema=SM_SCHEMA,
    )
    run_source_backfill(spark, "street_manager", **kwargs)
    table = spark.read.parquet(wh)
    by_month = {
        (r["year"], r["month"]): r["n"]
        for r in table.groupBy("year", "month").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_month == {(2024, 1): per_month, (2024, 2): per_month, (2024, 3): per_month, (2023, 12): 1}

    run_source_backfill(spark, "street_manager", **kwargs)  # idempotent
    assert spark.read.parquet(wh).count() == 3 * per_month + 1
    log = spark.read.parquet(str(tmp_path / "logs")).collect()
    assert [r["status"] for r in log] == ["SUCCESS", "SUCCESS"]
    assert all(r["rows_processed"] == 3 * per_month for r in log)


def _kwargs(tmp_path, **extra):
    return dict(
        landing_dir=str(tmp_path / "landing"),
        warehouse_path=str(tmp_path / "wh"),
        log_path=str(tmp_path / "logs"),
        year=2025,
        month=7,
        **extra,
    )


def test_gtfs_by_name(spark, tmp_path):
    """bods_timetables end to end through run_source — the ingest kind
    previously only exercised at the loader level (which hid a
    missing-landing_dir bug in the catalog branch)."""
    import zipfile as zf

    bundle = tmp_path / "gtfs.zip"
    with zf.ZipFile(bundle, "w") as z:
        z.writestr(
            "agency.txt",
            "agency_id,agency_name,agency_url,agency_timezone,agency_lang,agency_phone,agency_noc\n"
            "1,Bus Co,http://x,Europe/London,en,0,BC\n",
        )
        z.writestr(
            "routes.txt",
            "route_id,agency_id,route_short_name,route_long_name,route_type\nr1,1,1A,One A,3\n",
        )
    out = run_source(spark, "bods_timetables", url=f"file://{bundle}", **_kwargs(tmp_path))
    assert set(out) == {"agency", "routes"}
    assert out["routes"].collect()[0]["route_short_name"] == "1A"


def test_geopackage_by_name(spark, tmp_path):
    """code_point end to end through run_source via the native WKB
    reader (no fiona in this container)."""
    from pathlib import Path

    gpkg = Path(__file__).parent / "fixtures" / "mini.gpkg"
    df = run_source(spark, "code_point", url=f"file://{gpkg}", **_kwargs(tmp_path))
    rows = {r["usrn"]: r["geometry"] for r in df.collect()}
    assert rows[8400001] == "POINT (530100 180200)"


def test_ods_by_name(spark, tmp_path):
    """dft_road_stats end to end through run_source via the native
    ODS parser."""
    from pathlib import Path

    # DFT-shaped fixture: 6 preamble rows, header at row 6 — the
    # catalog row's ingest_args must skip them like the reference does
    ods = Path(__file__).parent / "fixtures" / "dft_shape.ods"
    df = run_source(spark, "dft_road_stats", url=f"file://{ods}", **_kwargs(tmp_path))
    got = {r["local_authority"]: r["road_length_km"] for r in df.collect()}
    assert got["Camden"] == "312.5" and len(got) == 3


def test_zip_csv_by_name(spark, tmp_path):
    """national_statistic_postcode_lookup (zip_csv kind) end to end:
    ZIP-of-CSV extract, lenient header bronze, month-partition write,
    metadata log row."""
    import zipfile as zf

    bundle = tmp_path / "nspl.zip"
    with zf.ZipFile(bundle, "w") as z:
        z.writestr("NSPL_2025.csv", "pcd,lat,long\nAB1 0AA,57.1,-2.1\nAB1 0AB,57.2,-2.2\n")
    df = run_source(
        spark, "national_statistic_postcode_lookup",
        url=f"file://{bundle}", **_kwargs(tmp_path),
    )
    assert df.count() == 2
    wh = spark.read.parquet(str(tmp_path / "wh"))
    assert {r["pcd"] for r in wh.collect()} == {"AB1 0AA", "AB1 0AB"}
    log = spark.read.parquet(str(tmp_path / "logs")).collect()
    assert len(log) == 1 and log[0]["status"] == "SUCCESS"
