"""K4 JDBC sink exercised for REAL against the embedded Derby engine
that ships in Spark's jars (no external database needed): overwrite,
append, truncate-overwrite (the reference's Postgres delete-then-
insert semantics, `utils/data_processor_utils.py:60`), and the
retry wrapper's pass-through. The postgres-specific bits (URL,
credentials) are config, not code — the same `write_jdbc` call
serves both."""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from open_data_pipelines_spark.sinks import writers
from open_data_pipelines_spark.sinks.writers import write_jdbc

PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def _url(name: str) -> str:
    return f"jdbc:derby:memory:{name};create=true"


def test_jdbc_round_trip_overwrite(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    write_jdbc(df, _url("k4_rt"), "t1", properties=PROPS)
    back = spark.read.jdbc(_url("k4_rt"), "t1", properties=PROPS)
    assert sorted(map(tuple, back.collect())) == [(1, "a"), (2, "b")]
    assert [f.name.lower() for f in back.schema.fields] == ["id", "v"]


def test_jdbc_append_then_truncate_overwrite(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    url = _url("k4_modes")
    write_jdbc(df, url, "t1", properties=PROPS)
    write_jdbc(df, url, "t1", mode="append", properties=PROPS)
    assert spark.read.jdbc(url, "t1", properties=PROPS).count() == 4
    # delete-then-insert: overwrite resets to exactly the frame
    write_jdbc(df, url, "t1", mode="overwrite", properties=PROPS)
    assert spark.read.jdbc(url, "t1", properties=PROPS).count() == 2


def test_jdbc_parallel_partitioned_write(spark):
    """The scale property K4 buys: each partition opens its own
    connection and batches inserts — a 32-partition frame lands whole."""
    df = spark.range(0, 10_000, numPartitions=32).select(
        F.col("id"), (F.col("id") % 7).alias("bucket")
    )
    url = _url("k4_par")
    write_jdbc(df, url, "wide", properties=PROPS)
    back = spark.read.jdbc(url, "wide", properties=PROPS)
    assert back.count() == 10_000
    assert back.agg(F.sum("id")).first()[0] == sum(range(10_000))


def test_jdbc_bad_url_raises_through_retry(spark, monkeypatch):
    # record the back-off instead of sleeping it (the writer module's
    # own `time` only, so no other sleeper is affected)
    sleeps: list[float] = []
    monkeypatch.setattr(writers, "time", SimpleNamespace(sleep=sleeps.append))
    df = spark.createDataFrame([(1,)], ["id"])
    # match pins the CONNECTION failure (Derby can't open the db at
    # that path) — a bare Exception also passed on any unrelated crash
    # before the write was attempted (round-9 test-review find)
    with pytest.raises(Exception, match=r"(?i)database|derby|not found"):
        write_jdbc(
            df,
            "jdbc:derby:/nonexistent/dir/x;create=false",
            "t",
            properties=PROPS,
        )
    # 3 attempts, 3·2ⁿ s between them: two waits before the final raise
    assert sleeps == [3.0, 6.0]
