"""SCD2 semantics tests mirroring the reference's Section 58 cases
(FIXTURES.md F8: unchanged / changed / brand-new / out-of-order)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from open_data_pipelines_spark.operators.scd2 import (
    SENTINEL_TS,
    scd2_initial_load,
    scd2_merge,
    with_surrogate_keys,
)

T0 = dt.datetime(2024, 1, 1)
T1 = dt.datetime(2024, 1, 10)
T2 = dt.datetime(2024, 2, 1)


def _staging(spark, rows):
    return spark.createDataFrame(rows, ["entity", "status", "ts", "event_ref"])


def test_scd2_full_lifecycle(spark):
    batch1 = _staging(
        spark,
        [
            ("a", "open", T0, 1),
            ("a", "active", T1, 2),  # latest for a
            ("b", "open", T0, 3),
            ("c", "open", T1, 4),
        ],
    )
    dim = scd2_initial_load(batch1, "entity", "ts", ["status"], ["status"], ["event_ref"])
    assert dim.count() == 3
    assert dim.filter(F.col("entity") == "a").collect()[0]["status"] == "active"

    batch2 = _staging(
        spark,
        [
            ("a", "closed", T2, 5),  # changed, newer -> new version
            ("b", "open", T2, 6),  # newer but same hash -> untouched
            ("c", "stale", T0, 7),  # OLDER than dim (late event) -> must NOT fire
            ("d", "open", T2, 8),  # brand new entity
        ],
    )
    out = with_surrogate_keys(
        scd2_merge(dim, batch2, "entity", "ts", ["status"], ["status"], ["event_ref"]),
        ["entity", "valid_from"],
    ).cache()

    rows = {(r["entity"], r["is_current"]): r for r in out.collect()}
    assert out.count() == 5  # a(old)+a(new)+b+c+d

    closed = rows[("a", False)]
    assert closed["status"] == "active" and closed["valid_to"] == T2
    assert rows[("a", True)]["status"] == "closed"
    assert rows[("b", True)]["status"] == "open"
    # late event guard: c keeps original version + validity
    c = rows[("c", True)]
    assert c["status"] == "open" and str(c["valid_to"]) == SENTINEL_TS
    assert rows[("d", True)]["status"] == "open"
    # surrogate keys sequential + unique
    keys = sorted(r["surrogate_key"] for r in out.collect())
    assert keys == list(range(1, 6))


def test_scd2_merge_idempotent_when_no_changes(spark):
    batch = _staging(spark, [("a", "open", T0, 1)])
    dim = scd2_initial_load(batch, "entity", "ts", ["status"], ["status"], ["event_ref"])
    out = scd2_merge(dim, batch, "entity", "ts", ["status"], ["status"], ["event_ref"])
    assert out.count() == 1
    assert out.filter(F.col("is_current")).count() == 1


def test_scd2_three_batch_lifecycle_keeps_history_once(spark):
    """Batch 3 changes a key that already has a history row: the
    history row must pass through exactly once and unchanged, beside
    exactly one new closed-out row and one new current row. (A merge
    that joins the whole dimension with staging meets history x
    staging pairs only from the third batch on.)"""
    args = ("entity", "ts", ["status"], ["status"], ["event_ref"])
    dim1 = scd2_initial_load(
        _staging(spark, [("a", "open", T0, 1), ("b", "open", T0, 2)]), *args
    )
    dim2 = scd2_merge(
        dim1, _staging(spark, [("a", "active", T1, 3), ("b", "open", T1, 4)]), *args
    )
    dim3 = scd2_merge(
        dim2,
        _staging(spark, [("a", "closed", T2, 5), ("c", "open", T2, 6)]),
        *args,
    )

    def canon(df):
        return sorted(
            (r["entity"], r["status"], r["event_time"], r["valid_from"],
             r["valid_to"], r["is_current"], r["record_hash"])
            for r in df.collect()
        )

    before, after = canon(dim2), canon(dim3)
    history2 = [r for r in before if r[0] == "a" and not r[5]]
    assert len(history2) == 1
    # the pre-existing history row survives exactly once, unchanged
    assert after.count(history2[0]) == 1
    a_rows = [r for r in after if r[0] == "a"]
    assert len(a_rows) == 3
    closed = [r for r in a_rows if not r[5] and r != history2[0]]
    current = [r for r in a_rows if r[5]]
    assert len(closed) == 1 and len(current) == 1
    assert closed[0][1:5] == ("active", T1, T1, T2)
    assert current[0][1:5] == ("closed", T2, T2, dt.datetime(9999, 12, 31))
    # untouched and brand-new entities
    assert [r[1] for r in after if r[0] == "b"] == ["open"]
    assert [(r[1], r[5]) for r in after if r[0] == "c"] == [("open", True)]
    assert len(after) == 5


def test_surrogate_keys_scaled_matches_parity_no_single_partition(spark):
    """Scale-mode surrogate keys: identical 1..N numbering to the
    parity-mode global window, with no single-partition exchange in
    the physical plan."""
    import random

    from open_data_pipelines_spark.operators.scd2 import (
        with_surrogate_keys,
        with_surrogate_keys_scaled,
    )

    rnd = random.Random(7)
    rows = [(f"e{i:04d}", rnd.random()) for i in range(500)]
    rnd.shuffle(rows)
    df = spark.createDataFrame(rows, ["entity", "v"]).repartition(8)

    parity = with_surrogate_keys(df, ["entity"])
    scaled = with_surrogate_keys_scaled(df, ["entity"], num_partitions=6)
    a = {(r["entity"], r["surrogate_key"]) for r in parity.collect()}
    b = {(r["entity"], r["surrogate_key"]) for r in scaled.collect()}
    assert a == b
    # deterministic across runs
    b2 = {(r["entity"], r["surrogate_key"]) for r in with_surrogate_keys_scaled(df, ["entity"], num_partitions=6).collect()}
    assert b2 == b

    plan = scaled._jdf.queryExecution().executedPlan().toString()
    parity_plan = parity._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" in parity_plan  # the documented parity cost
    assert "SinglePartition" not in plan  # the scale path must not pay it


def test_surrogate_keys_scaled_dense_keys_at_scale(spark):
    """Regression for the round-6 advice bug: unpersisting the ranged
    frame between the counts collect and the numbering join let a
    recomputed range shuffle (nondeterministic boundary sampling) land
    rows in different partitions, yielding duplicate/gapped keys
    (117,239 distinct of 120k reproduced). 500 rows stayed under the
    reservoir sample so the old test could not catch it; this one runs
    well past it and asserts the keys are exactly the dense 1..N set."""
    from open_data_pipelines_spark.operators.scd2 import with_surrogate_keys_scaled

    n_rows = 60_000
    df = (
        spark.range(n_rows)
        .selectExpr("concat('e', lpad(cast(id as string), 7, '0')) as entity", "id as v")
        .repartition(16)
    )
    out = with_surrogate_keys_scaled(df, ["entity"], num_partitions=12)
    stats = out.agg(
        F.count("*").alias("n"),
        F.countDistinct("surrogate_key").alias("d"),
        F.min("surrogate_key").alias("lo"),
        F.max("surrogate_key").alias("hi"),
    ).collect()[0]
    assert (stats["n"], stats["d"], stats["lo"], stats["hi"]) == (
        n_rows,
        n_rows,
        1,
        n_rows,
    )


def test_surrogate_keys_scaled_empty_frame(spark):
    from open_data_pipelines_spark.operators.scd2 import with_surrogate_keys_scaled

    df = spark.createDataFrame([], "entity string, v double")
    assert with_surrogate_keys_scaled(df, ["entity"], num_partitions=4).count() == 0
