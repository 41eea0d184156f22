from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from open_data_pipelines_spark.functions.cleaning import null_timestamp_columns
from open_data_pipelines_spark.functions.spatial import (
    linestring_centroid_x,
    linestring_centroid_y,
    wkt_point,
    wkt_point_x,
    wkt_point_y,
    within_distance,
)
from open_data_pipelines_spark.sinks.writers import write_bucketed
from open_data_pipelines_spark.sources.geopackage import GeoEngineUnavailable, gpkg_to_parquet


def test_wkt_point_roundtrip(spark):
    df = spark.createDataFrame([(530100, 180200)], ["e", "n"]).select(
        wkt_point(F.col("e"), F.col("n")).alias("wkt")
    )
    r = df.select(
        "wkt",
        wkt_point_x("wkt").alias("x"),
        wkt_point_y("wkt").alias("y"),
    ).collect()[0]
    assert r["wkt"] == "POINT (530100 180200)"
    assert (r["x"], r["y"]) == (530100.0, 180200.0)


def test_linestring_centroid(spark):
    df = spark.createDataFrame(
        [("LINESTRING (0 0, 10 20, 20 40)",), ("POINT (5 7)",)], ["geom"]
    )
    got = df.select(
        linestring_centroid_x("geom").alias("cx"),
        linestring_centroid_y("geom").alias("cy"),
    ).collect()
    assert (got[0]["cx"], got[0]["cy"]) == (10.0, 20.0)
    assert (got[1]["cx"], got[1]["cy"]) == (5.0, 7.0)


def test_buffer_contains_equiv(spark):
    # ST_Contains(ST_Buffer(p, r), q) == dist <= r on planar coords
    df = spark.createDataFrame([(0, 0, 3, 4), (0, 0, 30, 40)], ["x1", "y1", "x2", "y2"])
    got = [
        r[0]
        for r in df.select(
            within_distance(F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2"), 5.0)
        ).collect()
    ]
    assert got == [True, False]


def test_null_timestamp_columns(spark):
    df = spark.createDataFrame([("a", "2024-01-01")], ["k", "CreationDateTime"])
    out = null_timestamp_columns(df, ["CreationDateTime"])
    assert out.schema["CreationDateTime"].dataType.simpleString() == "timestamp"
    assert out.collect()[0]["CreationDateTime"] is None


def test_geopackage_missing_file():
    # fiona absent -> dispatcher falls through to the native sqlite3
    # reader, which must fail fast on a missing path (not create an
    # empty db); GeoEngineUnavailable is now reserved for geometry
    # variants the native parser can't handle
    with pytest.raises(FileNotFoundError):
        gpkg_to_parquet("/nonexistent.gpkg", "/tmp/out.parquet")


def test_bucketed_join_has_no_exchange(spark):
    # tables land in ./spark-warehouse (gitignored), dropped in finally
    facts = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    dims = spark.range(0, 100).select(F.col("id").alias("k"), F.lit("d").alias("d"))
    write_bucketed(facts, "b_facts", ("k",), 8, ("k",))
    write_bucketed(dims, "b_dims", ("k",), 8, ("k",))
    # disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_facts").join(spark.table("b_dims"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan  # co-located: bucket join, no shuffle
        assert joined.count() == 100
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS b_facts")
        spark.sql("DROP TABLE IF EXISTS b_dims")


def test_range_join_auto_strategy_choice(spark, monkeypatch):
    """Auto range join: broadcast bbox plan for a small b-side,
    gridded equi-join when the b-side outgrows the threshold — same
    rows either way."""
    from pyspark.sql import functions as F

    from open_data_pipelines_spark.operators import joins
    from open_data_pipelines_spark.operators.joins import (
        range_join_within,
        range_join_within_auto,
        range_join_within_gridded,
    )

    a = spark.range(400).select(
        F.col("id").alias("aid"),
        ((F.col("id") * 37) % 100).cast("double").alias("ax"),
        ((F.col("id") * 91) % 100).cast("double").alias("ay"),
    )
    b = spark.range(50).select(
        F.col("id").alias("bid"),
        ((F.col("id") * 53) % 100).cast("double").alias("bx"),
        ((F.col("id") * 17) % 100).cast("double").alias("by"),
    )

    auto_small = range_join_within_auto(a, b, "ax", "ay", "bx", "by", 10.0)
    assert "BroadcastNestedLoopJoin" in auto_small._jdf.queryExecution().executedPlan().toString()

    monkeypatch.setattr(joins, "RANGE_BROADCAST_BYTES", 1)
    auto_big = range_join_within_auto(a, b, "ax", "ay", "bx", "by", 10.0)
    plan_big = auto_big._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan_big

    key = lambda df: sorted((r["aid"], r["bid"]) for r in df.select("aid", "bid").collect())
    expected = key(range_join_within(a, b, "ax", "ay", "bx", "by", 10.0))
    assert key(auto_small) == expected
    assert key(auto_big) == expected
    assert key(range_join_within_gridded(a, b, "ax", "ay", "bx", "by", 10.0)) == expected


def test_wkt_round_trip_survives_scientific_notation(spark):
    """wkt_point renders via cast-to-string, which Spark formats as
    E-notation for |x| >= 1e7 — the module's own parsers must read it
    back (round-9 review find: the round trip returned NULL for large
    planar coordinates)."""
    from open_data_pipelines_spark.functions.spatial import (
        wkt_point,
        wkt_point_x,
        wkt_point_y,
    )

    df = spark.createDataFrame(
        [(12345678.0, 0.0005), (51.5, -0.12)], ["x", "y"]
    ).withColumn("wkt", wkt_point(F.col("x"), F.col("y")))
    rows = df.select(
        "x", "y", wkt_point_x("wkt").alias("rx"), wkt_point_y("wkt").alias("ry")
    ).collect()
    for r in rows:
        assert r["rx"] == r["x"] and r["ry"] == r["y"], r
