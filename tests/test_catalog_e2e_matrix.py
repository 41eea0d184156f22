"""Uniform end-to-end ingest matrix (VERDICT r10 task #7): every
catalogued ingest kind — zip_json, zip_csv, csv, gtfs, ods,
encrypted_xls, geopackage — drives ``run_source`` against a recorded
fixture and must land a (year, month) warehouse partition AND one
``processing_logs``-shaped SUCCESS row, and re-run idempotently
(dynamic month overwrite — the contract the reference's pipelines
guarantee, ``src/data_processors/street_manager.py:202-265`` +
``utils/metadata_logger.py``)."""

from __future__ import annotations

import json
import pathlib
import zipfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from open_data_pipelines_spark.sources.catalog import run_source

FIXTURES = pathlib.Path(__file__).resolve().parent / "fixtures"

SM_SCHEMA = T.StructType(
    [
        T.StructField("event_reference", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField(
            "object_data",
            T.StructType([T.StructField("permit_reference_number", T.StringType())]),
        ),
    ]
)


def _zip_json_fixture(tmp_path):
    events = [
        {
            "event_reference": i,
            "event_type": "PERMIT",
            "object_data": {"permit_reference_number": f"PRN-{i}"},
        }
        for i in range(3)
    ]
    z = tmp_path / "drop.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("permits.json", "\n".join(json.dumps(e) for e in events))
    return f"file://{z}", {"json_schema": SM_SCHEMA}


def _zip_csv_fixture(tmp_path):
    z = tmp_path / "nspl.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("NSPL_X.csv", "pcd,lat,long\nAB1 0AA,57.1,-2.1\nAB1 0AB,57.2,-2.2\n")
    return f"file://{z}", {}


def _csv_fixture(tmp_path):
    c = tmp_path / "EPD.csv"
    c.write_text("YEAR_MONTH,PRACTICE_CODE,BNF_CODE,ITEMS\n202403,P1,0101,5\n")
    return f"file://{c}", {}


def _gtfs_fixture(tmp_path):
    z = tmp_path / "gtfs.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr(
            "agency.txt",
            "agency_id,agency_name,agency_url,agency_timezone,agency_lang,agency_phone,agency_noc\n"
            "1,Bus Co,http://x,Europe/London,en,0,BC\n",
        )
        zf.writestr(
            "routes.txt",
            "route_id,agency_id,route_short_name,route_long_name,route_type\nr1,1,1A,One A,3\n",
        )
    return f"file://{z}", {}


def _ods_fixture(tmp_path):
    return f"file://{FIXTURES / 'dft_shape.ods'}", {}


def _xls_fixture(tmp_path):
    return f"file://{FIXTURES / 'encrypted_velvet.xls'}", {}


def _gpkg_fixture(tmp_path):
    return f"file://{FIXTURES / 'mini.gpkg'}", {}


# (source name, ingest kind, fixture builder, warehouse subdirs to check)
MATRIX = [
    ("street_manager", "zip_json", _zip_json_fixture, [None]),
    ("national_statistic_postcode_lookup", "zip_csv", _zip_csv_fixture, [None]),
    ("nhs_english_prescribing_data", "csv", _csv_fixture, [None]),
    ("bods_timetables", "gtfs", _gtfs_fixture, ["agency", "routes"]),
    ("dft_road_stats", "ods", _ods_fixture, [None]),
    ("geoplace_swa", "encrypted_xls", _xls_fixture, [None]),
    ("code_point", "geopackage", _gpkg_fixture, [None]),
]


@pytest.mark.parametrize("name,kind,fixture,tables", MATRIX, ids=[m[1] for m in MATRIX])
def test_every_kind_lands_partition_and_logs(spark, tmp_path, name, kind, fixture, tables):
    from open_data_pipelines_spark.sources.catalog import CATALOG

    assert CATALOG[name].ingest == kind  # the matrix covers what it claims
    url, extra = fixture(tmp_path)
    wh, logs = str(tmp_path / "wh"), str(tmp_path / "logs")
    kwargs = dict(
        landing_dir=str(tmp_path / "landing"),
        warehouse_path=wh,
        log_path=logs,
        year=2025,
        month=7,
        url=url,
        **extra,
    )
    out = run_source(spark, name, **kwargs)
    returned = out if isinstance(out, dict) else {None: out}
    assert set(returned) == set(tables), kind

    month_counts = {}
    for table in tables:
        target = wh if table is None else f"{wh}/{table}"
        part = spark.read.parquet(target).filter(
            (F.col("year") == 2025) & (F.col("month") == 7)
        )
        n = part.count()
        assert n > 0, (kind, table)
        assert "date_time_processed" in part.columns
        # run_source returns the frames it wrote: the partition's columns,
        # in order once the read has moved year/month last
        cols = [c for c in returned[table].columns if c not in ("year", "month")]
        assert cols + ["year", "month"] == part.columns, (kind, table)
        month_counts[table] = n

    log = spark.read.parquet(logs).collect()
    assert len(log) == 1
    row = log[0]
    assert row["status"] == "SUCCESS"
    assert row["data_source"] == name
    assert row["rows_processed"] and row["rows_processed"] > 0
    assert row["url"] == url

    # idempotent month re-run: dynamic overwrite keeps partition counts
    # fixed and appends a second evidence row
    run_source(spark, name, **kwargs)
    for table in tables:
        target = wh if table is None else f"{wh}/{table}"
        n = (
            spark.read.parquet(target)
            .filter((F.col("year") == 2025) & (F.col("month") == 7))
            .count()
        )
        assert n == month_counts[table], (kind, table)
    assert len(spark.read.parquet(logs).collect()) == 2
