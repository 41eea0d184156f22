"""SCD Type 2 dimension maintenance (SURVEY.md §2.10 I1/I4, §2.7 W2/W6).

Re-expresses the reference's Section 58 SCD2 machinery
(``src/data_sources/section_58.py:215-357``, orchestrated by
``src/data_processors/section_58.py:298-385``):

- **initial load**: window-dedup staging to the latest event per entity
  (ROW_NUMBER ... ORDER BY event_time DESC, event_reference DESC,
  ``section_58.py:258-268``) and insert as current rows with
  ``valid_from = event_time``, ``valid_to = '9999-12-31'``,
  ``is_current = true`` and an md5 change hash over the tracked
  attributes (``:250-257``).
- **incremental merge**: for entities whose newest staged event is
  *newer* than the dimension's current row (``event_time >`` guard,
  ``:349-353`` — late/out-of-order events must NOT fire) *and* whose
  record hash changed, close out the current row
  (``valid_to = new event_time``, ``is_current = false``) and insert
  the new version; brand-new entities are plain inserts.
- **surrogate keys**: the reference uses a DB sequence
  (``src/data_processors/section_58.py:206-215``). Exact-sequential
  keys serialize in a distributed engine; parity mode assigns
  ``row_number() OVER (ORDER BY entity, valid_from)`` over the final
  snapshot (deterministic, but a global sort — documented as
  parity-only). Scale mode (``with_surrogate_keys_scaled``) produces
  the SAME deterministic 1..N numbering via range partitioning +
  per-partition row numbers + broadcast cumulative offsets — no
  single-partition stage, one tiny driver action.

The implementation is a pure join-based rewrite over immutable
storage (oracle-checkable, no Delta dependency): each merge is one
full-outer join of the dimension with the deduped staging batch plus
a row-local explode, and emits the whole new snapshot. The Delta
MERGE variant is a drop-in for environments that have it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exprmemo import memo_column
from ..functions.hashing import record_hash
from .dedup import top1_per_key

SENTINEL_TS = "9999-12-31 00:00:00"


def _latest_per_entity(
    staging: DataFrame,
    entity_key: str,
    event_time: str,
    tiebreakers: Sequence[str],
) -> DataFrame:
    """Latest staging row per entity. Measured flat under a 13%-hot
    zipf key (STRESS.md round 15 ``--relational-skew``): Spark 4's
    WindowGroupLimit pre-reduces the rn=1 window map-side."""
    order = [F.col(event_time).desc()] + [F.col(t).desc() for t in tiebreakers]
    # default spread=False: staging slices are dim-to-moderate frames;
    # the narrow-input spread's extra exchange measured +0.15 s against
    # a ~0.1 s single-task window (round-15 interleaved A/B)
    return top1_per_key(staging, [entity_key], order)


def scd2_initial_load(
    staging: DataFrame,
    entity_key: str,
    event_time: str,
    attr_cols: Sequence[str],
    hash_cols: Sequence[str],
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """W2 dedup -> typed insert with validity window + change hash."""
    latest = _latest_per_entity(staging, entity_key, event_time, tiebreakers)
    return latest.select(
        entity_key,
        *attr_cols,
        F.col(event_time).alias("event_time"),
        F.col(event_time).alias("valid_from"),
        F.lit(SENTINEL_TS).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
        record_hash(*hash_cols).alias("record_hash"),
    )


def scd2_merge(
    dim: DataFrame,
    staging: DataFrame,
    entity_key: str,
    event_time: str,
    attr_cols: Sequence[str],
    hash_cols: Sequence[str],
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Incremental merge -> new dimension snapshot (join-based rewrite).

    Plan shape: ONE full-outer join of the whole dimension (history
    and current rows alike) with the deduped staging frame on the
    entity key, then a row-local explode. Each joined row emits:

    - a current row whose staged event is strictly newer and changed
      (the I4 guard) -> [closed-out row, new version];
    - any other dimension row, every history row included -> [itself];
    - a staging-only row (brand-new entity) -> [new version].

    Null keys never match, so a null-key dimension row passes through
    and a null-key staged row is inserted, as the anti-join form did.
    The output is partitioned by the join's (AQE-coalesced) exchange,
    so a snapshot's file count is bounded by
    ``spark.sql.shuffle.partitions`` rather than growing with every
    rewrite. The cost at scale is one dimension-sized exchange per
    merge — the same order as the full-snapshot write that follows it.
    """
    inc = _latest_per_entity(staging, entity_key, event_time, tiebreakers).select(
        F.col(entity_key).alias("__k"),
        *[F.col(c).alias(f"__{c}") for c in attr_cols],
        F.col(event_time).alias("__t"),
        record_hash(*hash_cols).alias("__h"),
    )
    marked = dim.withColumn("__in_dim", F.lit(True))
    j = marked.join(inc, marked[entity_key] == inc["__k"], "full_outer")
    return j.select(F.inline(_merge_rows(entity_key, tuple(attr_cols), tuple(dim.columns))))


@memo_column
def _merge_rows(entity_key: str, attr_cols: tuple, dim_columns: tuple) -> Column:
    """The merge's per-joined-row CASE/array forest: four whole
    dimension-row structs, about half of the merge's build time
    (a warm build: 121 ms rebuilt per call, 62 ms memoized). Pure
    names/literals, memoized like :func:`_twin_rows`."""
    # I4 guard: strictly newer AND changed, against the current row only
    is_changed = (
        F.col("is_current")
        & F.col("__k").isNotNull()
        & (F.col("__t") > F.col("event_time"))
        & (F.col("__h") != F.col("record_hash"))
    )
    new_version = {
        entity_key: F.col("__k"),
        **{c: F.col(f"__{c}") for c in attr_cols},
        "event_time": F.col("__t"),
        "valid_from": F.col("__t"),
        "valid_to": F.lit(SENTINEL_TS).cast("timestamp"),
        "is_current": F.lit(True),
        "record_hash": F.col("__h"),
    }
    kept = {c: F.col(c) for c in dim_columns}
    closed_out = {**kept, "valid_to": F.col("__t"), "is_current": F.lit(False)}

    def row(fields: dict) -> Column:
        return F.struct(*[fields[c].alias(c) for c in dim_columns])

    return (
        F.when(F.col("__in_dim").isNull(), F.array(row(new_version)))
        .when(is_changed, F.array(row(closed_out), row(new_version)))
        .otherwise(F.array(row(kept)))
    )


def scd2_two_batch_single_shuffle(
    events: DataFrame,
    batch_col: Column,
    entity_key: str,
    event_time: str,
    attr_cols: Sequence[str],
    hash_cols: Sequence[str],
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Scale-optimized SCD2 for the common both-batches-from-one-source
    case: ONE hash aggregation replaces the generic path's two dedup
    windows + change-detection join + anti-join (4 shuffles -> 1).

    Both batches' latest events are computed simultaneously as
    *conditional struct-maxes* per entity (lexicographic max over
    (event_time, tiebreakers, attrs) == the total-order row_number
    pick), then the merge decision is row-local and the up-to-two dim
    rows per entity are exploded out. Result is identical to
    ``scd2_initial_load`` + :func:`scd2_merge` (asserted in tests).

    ``batch_col``: boolean column — True = initial batch, False =
    incremental batch.
    """
    payload = _twin_payload(event_time, tuple(tiebreakers), tuple(attr_cols))
    agg = events.groupBy(entity_key).agg(
        F.max(F.when(batch_col, payload)).alias("__init"),
        F.max(F.when(~batch_col, payload)).alias("__inc"),
    )
    rows = _twin_rows(event_time, tuple(attr_cols), tuple(hash_cols))
    exploded = agg.select(entity_key, F.explode(rows).alias("__d"))
    return exploded.select(entity_key, "__d.*")


@memo_column
def _twin_payload(
    event_time: str, tiebreakers: tuple, attr_cols: tuple
) -> Column:
    """The twin's per-batch struct-max payload — pure names/literals,
    memoized (round 16): rebuilt identically per query construction
    otherwise."""
    order_cols = [event_time, *tiebreakers]
    return F.struct(
        *[F.col(c) for c in order_cols], *[F.col(c) for c in attr_cols]
    )


@memo_column
def _twin_rows(event_time: str, attr_cols: tuple, hash_cols: tuple) -> Column:
    """The twin's merge-decision CASE/array forest (two full dim-row
    structs + md5 change hashes — the expensive construction piece,
    ~100 py4j round-trips). Pure names/literals, memoized."""

    def _hash(side: str) -> Column:
        return F.md5(
            F.concat_ws("|", *[F.col(f"{side}.{c}").cast("string") for c in hash_cols])
        )

    sentinel = F.lit(SENTINEL_TS).cast("timestamp")
    is_changed = (
        F.col("__inc").isNotNull()
        & F.col("__init").isNotNull()
        & (F.col(f"__inc.{event_time}") > F.col(f"__init.{event_time}"))
        & (_hash("__inc") != _hash("__init"))
    )
    is_new = F.col("__init").isNull() & F.col("__inc").isNotNull()

    def _row(side: str, valid_to: Column, current: Column) -> Column:
        t = F.col(f"{side}.{event_time}")
        return F.struct(
            *[F.col(f"{side}.{c}").alias(c) for c in attr_cols],
            t.alias("event_time"),
            t.alias("valid_from"),
            valid_to.alias("valid_to"),
            current.alias("is_current"),
            _hash(side).alias("record_hash"),
        )

    return F.when(
        is_changed,
        F.array(
            _row("__init", F.col(f"__inc.{event_time}"), F.lit(False)),
            _row("__inc", sentinel, F.lit(True)),
        ),
    ).when(is_new, F.array(_row("__inc", sentinel, F.lit(True)))).when(
        F.col("__init").isNotNull(), F.array(_row("__init", sentinel, F.lit(True)))
    )


def with_surrogate_keys(dim: DataFrame, order_by: Sequence[str]) -> DataFrame:
    """W6 parity-mode sequential surrogate keys (global sort — document
    as parity-only; see :func:`with_surrogate_keys_scaled` for the
    scale path)."""
    w = Window.orderBy(*[F.col(c) for c in order_by])
    return dim.withColumn("surrogate_key", F.row_number().over(w))


def with_surrogate_keys_scaled(
    dim: DataFrame,
    order_by: Sequence[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """W6 scale-mode sequential surrogate keys: same deterministic
    1..N numbering as :func:`with_surrogate_keys` (given ``order_by``
    is a total order) with NO single-partition stage.

    Plan shape: range-partition on the key order, materialize that
    frame ONCE (``localCheckpoint(eager=True)``), per-partition
    ``row_number`` (window partitioned by the materialized partition
    id), ONE tiny driver action collecting the per-partition counts
    (``num_partitions`` rows), then a broadcast join adding cumulative
    offsets. Every wide stage runs at full parallelism — this replaces
    the reference's DB sequence (``section_58.py:229,302``) without
    serializing the pipeline the way the parity-mode global window
    does.

    The checkpoint is load-bearing, not an optimization:
    ``repartitionByRange`` samples its boundaries with a
    non-reproducible seed, so a *recomputed* range shuffle can land
    rows in different partitions than the ones the counts collect
    observed, producing duplicate/gapped keys. Freezing the ranged
    frame guarantees the counts and the numbering read the same
    physical partitioning. The trade-off is fail-fast semantics at
    cluster scale: checkpoint blocks are not replicated, so losing an
    executor fails the job rather than silently recomputing into a
    corrupt key assignment — the correct failure mode for key
    generation. Blocks are reclaimed when the frame is GC'd.
    """
    spark = dim.sparkSession
    n = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions", "200"))
    cols = [F.col(c) for c in order_by]
    ranged = (
        dim.repartitionByRange(n, *cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    sizes = sorted(
        (r["__pid"], r["cnt"])
        for r in ranged.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
    )
    offsets, acc = [], 0
    for pid, cnt in sizes:
        offsets.append((pid, acc))
        acc += cnt
    off_df = spark.createDataFrame(offsets or [(0, 0)], ["__pid", "__off"])
    local = ranged.withColumn(
        "__rn", F.row_number().over(Window.partitionBy("__pid").orderBy(*cols))
    )
    # long, not int: the scale variant exists precisely for dims past
    # 2^31 rows, where an int key would wrap into collisions
    out = local.join(F.broadcast(off_df), "__pid").withColumn(
        "surrogate_key", (F.col("__off") + F.col("__rn")).cast("long")
    )
    return out.select(*dim.columns, "surrogate_key")
