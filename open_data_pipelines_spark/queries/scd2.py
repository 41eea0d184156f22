"""SCD2 merge driver query (SURVEY.md §2.10 I1/I4, W2/W6, X4).

Scenario on the harness ``events`` table: ``user_id`` is the entity,
``event_type`` + ``props`` are the tracked attributes, ``ts`` the event
time. Batch 1 = even event_ids (initial load), batch 2 = odd event_ids
(incremental). Because the split is by id, batch 2 contains genuinely
*older* events for some users — exercising the reference's
``event_time >`` late-event guard (``section_58.py:349-353``): those
must NOT open new versions.

Timestamps surface as unix micros (exact integers — no format
ambiguity between engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scd2 import scd2_two_batch_single_shuffle, with_surrogate_keys
from ..session import load_tables

ATTRS = ["event_type", "props", "value"]
HASH_COLS = ["event_type", "props"]  # strings only: double->string rendering
# differs between engines, so typed attrs ride along unhashed


def q_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, register_views=False)["events"]

    # Round-15 optimization (guide §2.4 — remove shuffles outright):
    # both batches come from ONE source split by a row-local predicate,
    # which is exactly the case scd2_two_batch_single_shuffle exists
    # for. One hash aggregation (two conditional struct-maxes, map-side
    # combined) replaces the generic path's two dedup windows + the
    # full-outer merge join. Row-identical to
    # scd2_initial_load + scd2_merge by construction — pinned by
    # tests/test_scd2_optimized.py and by this row's DuckDB oracle,
    # which still mirrors the generic window+join algebra.
    merged = scd2_two_batch_single_shuffle(
        events,
        F.col("event_id") % 2 == 0,
        "user_id",
        "ts",
        ATTRS,
        HASH_COLS,
        tiebreakers=["event_id"],
    )
    final = with_surrogate_keys(merged, ["user_id", "valid_from"])
    return final.select(
        # bigint: DuckDB row_number() is BIGINT, Spark's is INT — align
        F.col("surrogate_key").cast("long").alias("surrogate_key"),
        "user_id",
        "event_type",
        "props",
        "value",
        F.unix_micros("event_time").alias("event_time_us"),
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
        "is_current",
        "record_hash",
    )


ORACLE_SCD2_MERGE = """
WITH batch1 AS (SELECT * FROM events WHERE event_id % 2 = 0),
batch2 AS (SELECT * FROM events WHERE event_id % 2 = 1),
init AS (
  SELECT user_id, event_type, props, value, ts AS event_time,
         ts AS valid_from, TIMESTAMP '9999-12-31 00:00:00' AS valid_to,
         TRUE AS is_current,
         md5(concat_ws('|', event_type, props)) AS record_hash
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM batch1) WHERE rn = 1
),
inc AS (
  SELECT user_id AS k, event_type AS a_event_type, props AS a_props,
         value AS a_value, ts AS t,
         md5(concat_ws('|', event_type, props)) AS h
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM batch2) WHERE rn = 1
),
j AS (
  SELECT d.*, i.k, i.a_event_type, i.a_props, i.a_value, i.t, i.h,
         (i.k IS NOT NULL AND i.t > d.event_time AND i.h <> d.record_hash)
           AS is_changed
  FROM init d LEFT JOIN inc i ON d.user_id = i.k
),
untouched AS (
  SELECT user_id, event_type, props, value, event_time, valid_from,
         valid_to, is_current, record_hash
  FROM j WHERE NOT COALESCE(is_changed, FALSE)
),
closed_out AS (
  SELECT user_id, event_type, props, value, event_time, valid_from,
         t AS valid_to, FALSE AS is_current, record_hash
  FROM j WHERE is_changed
),
new_versions AS (
  SELECT k AS user_id, a_event_type AS event_type, a_props AS props,
         a_value AS value, t AS event_time, t AS valid_from,
         TIMESTAMP '9999-12-31 00:00:00' AS valid_to, TRUE AS is_current,
         h AS record_hash
  FROM j WHERE is_changed
),
brand_new AS (
  SELECT k AS user_id, a_event_type AS event_type, a_props AS props,
         a_value AS value, t AS event_time, t AS valid_from,
         TIMESTAMP '9999-12-31 00:00:00' AS valid_to, TRUE AS is_current,
         h AS record_hash
  FROM inc WHERE k NOT IN (SELECT user_id FROM init)
),
final AS (
  SELECT * FROM untouched UNION ALL SELECT * FROM closed_out
  UNION ALL SELECT * FROM new_versions UNION ALL SELECT * FROM brand_new
)
SELECT row_number() OVER (ORDER BY user_id, valid_from) AS surrogate_key,
       user_id, event_type, props, value,
       epoch_us(event_time) AS event_time_us,
       epoch_us(valid_from) AS valid_from_us,
       epoch_us(valid_to) AS valid_to_us,
       is_current, record_hash
FROM final
"""

QUERIES = {
    "scd2_merge": (q_scd2_merge, ORACLE_SCD2_MERGE),
}
