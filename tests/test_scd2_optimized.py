"""The single-shuffle SCD2 variant must be row-identical to the
generic window+join path on the same batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from open_data_pipelines_spark.operators.scd2 import (
    scd2_initial_load,
    scd2_merge,
    scd2_two_batch_single_shuffle,
)
from open_data_pipelines_spark.session import load_tables
from tests.conftest import SF_SMOKE

ATTRS = ["event_type", "props", "value"]
HASH_COLS = ["event_type", "props"]


def _canon(df):
    return sorted(
        (
            r["user_id"],
            r["event_type"],
            r["props"],
            r["value"],
            r["event_time"],
            r["valid_from"],
            r["valid_to"],
            r["is_current"],
            r["record_hash"],
        )
        for r in df.collect()
    )


def test_single_shuffle_scd2_matches_generic(spark):
    events = load_tables(spark, SF_SMOKE, register_views=False)["events"]
    batch1 = events.filter(F.col("event_id") % 2 == 0)
    batch2 = events.filter(F.col("event_id") % 2 == 1)

    dim = scd2_initial_load(batch1, "user_id", "ts", ATTRS, HASH_COLS, ["event_id"])
    generic = scd2_merge(dim, batch2, "user_id", "ts", ATTRS, HASH_COLS, ["event_id"])

    optimized = scd2_two_batch_single_shuffle(
        events,
        F.col("event_id") % 2 == 0,
        "user_id",
        "ts",
        ATTRS,
        HASH_COLS,
        ["event_id"],
    )
    assert _canon(generic) == _canon(optimized)

    # plan shape: strictly fewer shuffles than the generic path (AQE
    # may render an exchange twice in the final adaptive plan text, so
    # assert the relative claim, not an absolute count)
    def shuffles(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange") - plan.count("BroadcastExchange")

    assert shuffles(optimized) < shuffles(generic)
