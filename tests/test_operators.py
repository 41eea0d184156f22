from __future__ import annotations

from pyspark.sql import functions as F

from open_data_pipelines_spark.operators.aggregates import (
    minmax_normalize,
    minmax_normalize_small,
)
from open_data_pipelines_spark.operators.dedup import top1_per_key
from open_data_pipelines_spark.operators.joins import (
    anti_join,
    overlap_count,
    range_join_within,
    range_join_within_gridded,
)


def test_top1_per_key_deterministic_total_order(spark):
    df = spark.createDataFrame(
        [(1, "a", 3), (1, "b", 3), (1, "c", 1), (2, "x", 9)], ["k", "v", "ord"]
    )
    out = top1_per_key(df, ["k"], [F.col("ord").desc(), F.col("v").desc()]).collect()
    got = {r["k"]: r["v"] for r in out}
    assert got == {1: "b", 2: "x"}


def test_minmax_normalize_constant_guard(spark):
    df = spark.createDataFrame([(1, 5.0), (2, 5.0)], ["k", "x"])
    out = minmax_normalize(df, "x", "score").collect()
    assert all(r["score"] == 50.0 for r in out)


def test_minmax_normalize_range(spark):
    df = spark.createDataFrame([(1, 0.0), (2, 50.0), (3, 100.0)], ["k", "x"])
    got = {r["k"]: r["score"] for r in minmax_normalize(df, "x", "score").collect()}
    assert got[1] == 1.0 and got[3] == 100.0 and got[2] == 50.5


def test_minmax_normalize_small_equals_broadcast_form(spark):
    # the window form reads its input once; same doubles, same columns
    for rows in (
        [(1, 5.0), (2, 5.0)],
        [(1, 0.0), (2, 50.0), (3, 100.0), (4, None)],
        [(1, 0.1), (2, 0.7), (3, 0.3)],
    ):
        df = spark.createDataFrame(rows, "k INT, x DOUBLE")
        small = minmax_normalize_small(df, "x", "score")
        wide = minmax_normalize(df, "x", "score")
        assert small.columns == wide.columns == ["k", "x", "score"]
        assert sorted(small.collect()) == sorted(wide.collect())


def test_anti_and_overlap(spark):
    left = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    right = spark.createDataFrame([(2,), (4,)], ["k"])
    assert {r["k"] for r in anti_join(left, right, "k").collect()} == {1, 3}
    assert overlap_count(left, right, "k").collect()[0]["overlap_count"] == 1


def test_range_join_grid_matches_naive(spark):
    import random

    rnd = random.Random(7)
    pts_a = [(i, float(rnd.randint(0, 100)), float(rnd.randint(0, 100))) for i in range(60)]
    pts_b = [(j, float(rnd.randint(0, 100)), float(rnd.randint(0, 100))) for j in range(60)]
    a = spark.createDataFrame(pts_a, ["aid", "ax", "ay"])
    b = spark.createDataFrame(pts_b, ["bid", "bx", "by"])
    naive = {
        (r["aid"], r["bid"])
        for r in range_join_within(a, b, "ax", "ay", "bx", "by", 10.0).collect()
    }
    grid = {
        (r["aid"], r["bid"])
        for r in range_join_within_gridded(a, b, "ax", "ay", "bx", "by", 10.0).collect()
    }
    assert naive == grid
    assert naive  # non-trivial
