"""Testdata timestamp-encoding robustness (VERDICT r4 task #2).

The harness has re-encoded ``events.parquet``'s ``ts`` column twice
across rounds: TIMESTAMP(NANOS) (rounds 1-3) then naive
``timestamp[us]``/NTZ (round 4, which cost the round: 6 driver rows,
13 tests, the bench). This test pins the contract going forward:
``session.load_tables`` must yield a plain ``TimestampType`` ``ts``
with identical epoch-micros for ALL THREE plausible encodings:

  1. TIMESTAMP(NANOS)  — int64 nanos, read via nanosAsLong + div 1000
  2. naive micros      — isAdjustedToUTC=false, Spark4-inferred NTZ
  3. UTC micros        — isAdjustedToUTC=true, plain TimestampType

A fourth harness re-encoding (e.g. millis, or INT96) would land as one
of these Spark-side shapes, so passing here means the engine survives
the next regeneration without losing a round.
"""

from __future__ import annotations

import datetime as dt
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from open_data_pipelines_spark.session import footer_schema, load_tables

# epoch micros chosen to exercise sub-second precision and a DST-risky
# wall-clock hour (would drift if anything read through a local zone)
_EPOCH_US = [
    1_704_067_200_000_000,  # 2024-01-01T00:00:00Z
    1_710_000_123_456_789,  # sub-second micros
    1_720_000_000_000_001,  # +1 micro
]


def _write(path: str, arrow_type: pa.DataType, values) -> None:
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(values, arrow_type),
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
        }
    )
    pq.write_table(table, path)


@pytest.fixture(scope="module")
def encoded_dirs(tmp_path_factory):
    base = tmp_path_factory.mktemp("ts_encodings")
    dirs = {}

    # 1. TIMESTAMP(NANOS): int64 nanos column, parquet 2.6 keeps nanos
    d = base / "nanos"
    d.mkdir()
    _write(
        str(d / "events.parquet"),
        pa.timestamp("ns"),
        [us * 1000 for us in _EPOCH_US],
    )
    dirs["nanos"] = str(d)

    # 2. naive micros (isAdjustedToUTC=false) — the round-4 regression
    d = base / "ntz"
    d.mkdir()
    _write(
        str(d / "events.parquet"),
        pa.timestamp("us"),
        [dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us) for us in _EPOCH_US],
    )
    dirs["ntz"] = str(d)

    # 3. UTC-adjusted micros — what our own writers emit
    d = base / "utc"
    d.mkdir()
    _write(
        str(d / "events.parquet"),
        pa.timestamp("us", tz="UTC"),
        [
            dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
            + dt.timedelta(microseconds=us)
            for us in _EPOCH_US
        ],
    )
    dirs["utc"] = str(d)
    return dirs


def test_parquet_files_actually_differ(encoded_dirs):
    """Guard the fixture itself: the three files must carry the three
    distinct physical encodings, else the test proves nothing."""
    nanos = pq.read_schema(encoded_dirs["nanos"] + "/events.parquet").field("ts").type
    ntz = pq.read_schema(encoded_dirs["ntz"] + "/events.parquet").field("ts").type
    utc = pq.read_schema(encoded_dirs["utc"] + "/events.parquet").field("ts").type
    assert nanos == pa.timestamp("ns")
    assert ntz == pa.timestamp("us")
    assert utc == pa.timestamp("us", tz="UTC")


def test_all_encodings_normalize_to_timestamp_type(spark, encoded_dirs):
    results = {}
    for enc, sf_dir in encoded_dirs.items():
        tables = load_tables(spark, sf_dir, register_views=False)
        df = tables["events"]
        assert isinstance(
            df.schema["ts"].dataType, T.TimestampType
        ), f"{enc}: ts is {df.schema['ts'].dataType}, want TimestampType"
        rows = df.selectExpr("event_id", "unix_micros(ts) AS us").collect()
        results[enc] = {r["event_id"]: r["us"] for r in rows}
    expected = {i + 1: us for i, us in enumerate(_EPOCH_US)}
    for enc, got in results.items():
        assert got == expected, f"{enc}: epoch drift {got} != {expected}"


def test_live_testdata_loads_as_timestamp(spark):
    """Whatever encoding the harness shipped THIS round, ts must land
    as TimestampType (watermark-able, unix_micros-able)."""
    tables = load_tables(spark, "/root/testdata/sf0.001", register_views=False)
    assert isinstance(tables["events"].schema["ts"].dataType, T.TimestampType)


def test_footer_schema_equals_inferred_for_every_encoding(spark, encoded_dirs):
    for enc, sf_dir in encoded_dirs.items():
        path = sf_dir + "/events.parquet"
        assert footer_schema(spark, path) == spark.read.parquet(path).schema, enc


def test_nanos_unreadable_without_nanos_as_long(spark, encoded_dirs, tmp_path):
    """A session that owns its confs (``configure_session=False``) and
    did not set ``nanosAsLong`` cannot read TIMESTAMP(NANOS), exactly
    as Spark's own inference cannot."""
    # a fresh path, so the scan is not served from the session's cache
    shutil.copy(encoded_dirs["nanos"] + "/events.parquet", tmp_path / "events.parquet")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            spark.read.parquet(str(tmp_path / "events.parquet"))
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            load_tables(spark, str(tmp_path), register_views=False, configure_session=False)[
                "events"
            ]
    finally:
        spark.conf.set(key, before)
