from __future__ import annotations

from pyspark.sql import functions as F

from open_data_pipelines_spark.functions.macros import get_tables, get_value_list, union_tables
from open_data_pipelines_spark.operators.joins import salted_join
from open_data_pipelines_spark.operators.aggregates import salted_sum, approx_distinct


def test_get_tables_regex_and_union(spark):
    spark.createDataFrame([(1,)], ["v"]).createOrReplaceTempView("m_01_2025")
    spark.createDataFrame([(2,)], ["v"]).createOrReplaceTempView("m_02_2025")
    spark.createDataFrame([(3,)], ["v"]).createOrReplaceTempView("m_01_2024")
    got = get_tables(spark, r"m_\d{2}_2025")
    assert got == ["m_01_2025", "m_02_2025"]
    u = union_tables(spark, got)
    assert {r["v"] for r in u.collect()} == {1, 2}


def test_get_value_list(spark):
    df = spark.createDataFrame([("b",), ("a",), ("b",), (None,)], ["auth"])
    assert get_value_list(df, "auth") == ["a", "b"]


def test_salted_join_matches_plain(spark):
    left = spark.createDataFrame([(1, "x")] * 50 + [(2, "y")] * 3, ["k", "lv"])
    right = spark.createDataFrame([(1, "A"), (2, "B"), (3, "C")], ["rk", "rv"])
    plain = left.join(right, left["k"] == right["rk"]).groupBy("k", "rv").count()
    salted = salted_join(left, right, "k", "rk", salt_mod=4).groupBy("k", "rv").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_sum_matches_plain(spark):
    df = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold", float(i % 7) + 0.25) for i in range(200)],
        ["id", "k", "v"],
    )
    plain = {
        r["k"]: r["s"]
        for r in df.groupBy("k")
        .agg(F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("s"))
        .collect()
    }
    salted = {
        r["k"]: r["sum_v"]
        for r in salted_sum(df, ["k"], F.col("v"), F.col("id"), 8, "sum_v").collect()
    }
    assert plain == salted  # bit-identical: decimal partials


def test_approx_distinct_within_rsd(spark):
    df = spark.createDataFrame([(i % 3, i % 50) for i in range(1000)], ["g", "u"])
    out = approx_distinct(df, ["g"], "u", rsd=0.05).collect()
    for r in out:
        assert r["exact_u"] == 50
        assert abs(r["approx_u"] - 50) <= 50 * 0.15  # sketch tolerance


def test_top1_agg_matches_window_on_zipf_keys(spark):
    """Round-15 skew escape (VERDICT r14 #3): the max_by aggregation
    form of top-1-per-key equals the row_number window form on a
    zipf-hot key distribution (one key holds ~1/3 of rows), given a
    total order."""
    from open_data_pipelines_spark.operators.dedup import (
        top1_per_key,
        top1_per_key_agg,
    )

    rows = [
        (i, "hot" if i % 3 else f"k{i % 97}", i * 37 % 1009, f"p{i}")
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, ["id", "k", "t", "payload"])
    win = top1_per_key(
        df, ["k"], [F.col("t").desc(), F.col("id").desc()]
    )
    agg = top1_per_key_agg(df, ["k"], F.struct(F.col("t"), F.col("id")))
    assert sorted(map(tuple, win.collect())) == sorted(map(tuple, agg.collect()))
    assert win.columns == agg.columns


def test_running_sum_scaled_matches_window(spark):
    """Round-15: the two-pass distributed prefix sum (range partition
    -> (pid, key)-local window -> boundary-offset broadcast) equals
    the plain hot-key window form under a total order, on a zipf-hot
    key (one key ~1/3 of rows), at several partition counts including
    ones that force the hot key across many range partitions."""
    from pyspark.sql import Window

    from open_data_pipelines_spark.operators.aggregates import running_sum_scaled

    rows = [
        (i, "hot" if i % 3 else f"k{i % 53}", float((i * 29) % 97) + 0.25)
        for i in range(4000)
    ]
    df = spark.createDataFrame(rows, ["id", "k", "v"])
    w = (
        Window.partitionBy("k")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    expect = {
        (r["k"], r["id"]): r["rs"]
        for r in df.withColumn(
            "rs",
            F.sum(F.col("v").cast("decimal(18,2)")).over(w).cast("double"),
        ).collect()
    }
    for n in (3, 8, 17):
        out = running_sum_scaled(df, ["k"], ["id"], F.col("v"), "rs", num_partitions=n)
        got = {(r["k"], r["id"]): r["rs"] for r in out.collect()}
        assert got == expect, f"num_partitions={n}"
        assert set(out.columns) == {"id", "k", "v", "rs"}
