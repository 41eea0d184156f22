"""dim_frame (functions/dimframe.py): the round-15 driver-dim
representation. Production = Arrow LocalRelation (no Python worker,
no job per broadcast build); Arrow conversion off = the opaque
parallelize LogicalRDD. Values identical either way."""

from __future__ import annotations

from contextlib import contextmanager, nullcontext

import pytest
from pyspark.sql import types as T

from open_data_pipelines_spark.functions.dimframe import dim_frame

ARROW = "spark.sql.execution.arrow.pyspark.enabled"


@contextmanager
def _arrow_off(spark):
    """Switch Arrow conversion off for the block (a runtime conf),
    restoring the session's value afterwards."""
    prev = spark.conf.get(ARROW)
    spark.conf.set(ARROW, "false")
    try:
        yield
    finally:
        spark.conf.set(ARROW, prev)


ROWS = [
    ("a", None, True, 2**40, 1.5),
    (None, "x", None, None, None),
    ("b", "y", False, -7, 0.0),
]
SCHEMA = "s string, t string, b boolean, l long, d double"


def _values(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_production_is_local_relation(spark):
    df = dim_frame(spark, ROWS, SCHEMA)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert df.schema == spark.createDataFrame([], SCHEMA).schema


def test_arrow_off_keeps_opaque_rdd(spark):
    with _arrow_off(spark):
        df = dim_frame(spark, ROWS, SCHEMA, slices=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "LocalTableScan" not in plan


def test_values_identical_across_representations(spark):
    prod = dim_frame(spark, ROWS, SCHEMA)
    with _arrow_off(spark):
        rdd = dim_frame(spark, ROWS, SCHEMA)
    assert _values(prod) == _values(rdd)
    # NULLs stay NULL (the object-dtype pandas path must not coerce
    # None to NaN) and the long survives past double's exact range
    row = {r["s"]: r for r in prod.collect()}
    assert row["a"]["l"] == 2**40 and row["a"]["b"] is True
    assert row[None]["t"] == "x" and row[None]["d"] is None


def test_empty_rows(spark):
    df = dim_frame(spark, [], SCHEMA)
    assert df.count() == 0
    assert df.schema == spark.createDataFrame([], SCHEMA).schema


def test_structtype_schema(spark):
    schema = T.StructType(
        [
            T.StructField("node", T.LongType()),
            T.StructField("component", T.LongType()),
        ]
    )
    df = dim_frame(spark, [(1, 1), (2, 1)], schema)
    assert df.schema == schema
    assert _values(df) == [(1, 1), (2, 1)]


@pytest.mark.parametrize("arrow_off", [False, True])
def test_broadcast_join_values(spark, arrow_off):
    with _arrow_off(spark) if arrow_off else nullcontext():
        dim = dim_frame(spark, [("k1", 10), ("k2", 20)], "k string, v int")
    from pyspark.sql import functions as F

    base = spark.range(2).select(
        F.concat(F.lit("k"), (F.col("id") + 1).cast("string")).alias("k")
    )
    got = sorted(
        (r["k"], r["v"]) for r in base.join(F.broadcast(dim), "k").collect()
    )
    assert got == [("k1", 10), ("k2", 20)]
