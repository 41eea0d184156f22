"""Transactional (Delta ``MERGE INTO``) SCD2 variant (SURVEY.md §2.10 I1).

The reference maintains its dimension *in place* — an ``UPDATE`` that
closes out changed current rows plus an ``INSERT`` of new versions /
new entities (``src/data_sources/section_58.py:268-357``, executed by
``src/data_processors/section_58.py:298-385``). The join-based rewrite
in :mod:`.scd2` is the oracle-checkable equivalent over immutable
parquet; this module is the in-place equivalent for environments with
a transactional table format.

Shape is the canonical Delta SCD2 "staged updates" pattern, expressed
so everything except the final ``DeltaTable.merge`` call is plain
DataFrame logic and therefore testable in this container (delta-spark
is not installed — the executor is import-gated like the spreadsheet
engines):

- :func:`build_staged_updates` — latest staged event per entity, each
  emitted once with ``__mergekey = entity`` (drives the close-out
  UPDATE / brand-new INSERT) and, for changed entities only, a second
  copy with ``__mergekey = NULL`` (never matches, so it always fires
  the INSERT branch with the new version).
- :func:`simulate_merge` — the MERGE semantics as a pure DataFrame
  transform; asserted row-identical to :func:`..scd2.scd2_merge` in
  ``tests/test_scd2_delta.py``.
- :func:`scd2_merge_delta` — the real ``MERGE INTO`` against a Delta
  table; raises :class:`DeltaUnavailableError` when delta-spark is
  absent.

MERGE condition: ``d.<entity> = s.__mergekey AND d.is_current``;
update branch guarded by ``s.event_time > d.event_time AND
s.record_hash <> d.record_hash`` (the I4 late/duplicate-event guard,
``section_58.py:288-291``). One shuffle on the entity key at scale,
as in the rewrite path's full-outer merge join, but the join sees
only current rows and only touched files are rewritten, which is the
point of the transactional variant.

Environment blocker (round 11, VERDICT r10 task #8): exercising the
real ``MERGE INTO`` was attempted and is NOT possible in this
container — no ``delta`` Python package, no delta-spark/delta-core
jars anywhere on disk, package installs prohibited, and Spark cannot
fetch the ``io.delta`` artifacts without network access. The
import-gated :func:`scd2_merge_delta` plus the row-identical
:func:`simulate_merge` (asserted against the oracle-checked
``scd2_merge`` in ``tests/test_scd2_delta.py``) remain the verified
surface; on a cluster with delta-spark the real call is one
``configure_spark_with_delta_pip`` away.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import record_hash
from .scd2 import SENTINEL_TS, _latest_per_entity

MERGE_UPDATE_CONDITION = "s.event_time > d.event_time AND s.record_hash <> d.record_hash"


class DeltaUnavailableError(ImportError):
    """delta-spark is not importable in this environment."""


def build_staged_updates(
    dim: DataFrame,
    staging: DataFrame,
    entity_key: str,
    event_time: str,
    attr_cols: Sequence[str],
    hash_cols: Sequence[str],
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Staged-updates frame for the SCD2 MERGE.

    Every latest incremental row rides once with its entity as
    ``__mergekey``; changed rows (strictly newer than the dimension's
    current row AND different record hash) ride a second time with a
    NULL ``__mergekey`` so the MERGE's NOT MATCHED branch inserts the
    new version while the keyed copy updates the old one.
    """
    inc = _latest_per_entity(staging, entity_key, event_time, tiebreakers).select(
        entity_key,
        *attr_cols,
        F.col(event_time).alias("event_time"),
        F.col(event_time).alias("valid_from"),
        F.lit(SENTINEL_TS).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
        record_hash(*hash_cols).alias("record_hash"),
    )
    cur = dim.filter(F.col("is_current")).select(
        F.col(entity_key).alias("__ck"),
        F.col("event_time").alias("__ct"),
        F.col("record_hash").alias("__ch"),
    )
    flagged = inc.join(cur, inc[entity_key] == cur["__ck"], "left").withColumn(
        "__changed",
        F.col("__ck").isNotNull()
        & (F.col("event_time") > F.col("__ct"))
        & (F.col("record_hash") != F.col("__ch")),
    )
    keyed = flagged.withColumn("__mergekey", F.col(entity_key))
    null_key = flagged.filter(F.col("__changed")).withColumn(
        "__mergekey", F.lit(None).cast(keyed.schema[entity_key].dataType)
    )
    out_cols = [
        entity_key,
        *attr_cols,
        "event_time",
        "valid_from",
        "valid_to",
        "is_current",
        "record_hash",
        "__mergekey",
    ]
    return keyed.select(out_cols).unionByName(null_key.select(out_cols))


def simulate_merge(
    dim: DataFrame,
    staged: DataFrame,
    entity_key: str,
) -> DataFrame:
    """Pure-DataFrame execution of the MERGE semantics (for this
    container, where delta-spark is absent).

    Mirrors branch-for-branch what :func:`scd2_merge_delta` asks Delta
    to do: MATCHED + guard -> close out; NOT MATCHED -> insert staged
    row as-is; everything else unchanged.
    """
    cur = dim.filter(F.col("is_current"))
    hist = dim.filter(~F.col("is_current"))
    keyed = staged.filter(F.col("__mergekey").isNotNull()).select(
        F.col("__mergekey").alias("__mk"),
        F.col("event_time").alias("__st"),
        F.col("record_hash").alias("__sh"),
    )
    j = cur.join(keyed, cur[entity_key] == keyed["__mk"], "left")
    fires = F.col("__mk").isNotNull() & F.expr(
        MERGE_UPDATE_CONDITION.replace("s.event_time", "__st")
        .replace("s.record_hash", "__sh")
        .replace("d.event_time", "event_time")
        .replace("d.record_hash", "record_hash")
    )
    updated = (
        j.filter(fires)
        .withColumn("valid_to", F.col("__st"))
        .withColumn("is_current", F.lit(False))
        .select(dim.columns)
    )
    unchanged = j.filter(~F.coalesce(fires, F.lit(False))).select(dim.columns)

    cur_keys = cur.select(F.col(entity_key).alias("__k2")).distinct()
    inserted = (
        staged.join(
            cur_keys,
            staged["__mergekey"] == cur_keys["__k2"],
            "left_anti",
        )
        .select(dim.columns)
    )
    return hist.unionByName(unchanged).unionByName(updated).unionByName(inserted)


def scd2_merge_delta(
    spark: SparkSession,
    dim_table: str,
    staging: DataFrame,
    entity_key: str,
    event_time: str,
    attr_cols: Sequence[str],
    hash_cols: Sequence[str],
    tiebreakers: Sequence[str] = (),
) -> None:
    """In-place SCD2 merge against a Delta table (path or name).

    Import-gated: raises :class:`DeltaUnavailableError` where
    delta-spark is absent. Two MERGE branches, exactly the simulated
    semantics above — the close-out UPDATE and the version/new-entity
    INSERT run in one transaction, matching the reference's
    update+insert pair (``section_58.py:268-357``) atomically.
    """
    try:
        from delta.tables import DeltaTable
    except ImportError as ex:  # pragma: no cover - absent in container
        raise DeltaUnavailableError(
            "delta-spark is required for in-place SCD2 merge; "
            "use operators.scd2.scd2_merge (join-based rewrite) instead"
        ) from ex

    target = (
        DeltaTable.forPath(spark, dim_table)
        if "/" in dim_table
        else DeltaTable.forName(spark, dim_table)
    )
    dim = target.toDF()
    staged = build_staged_updates(
        dim, staging, entity_key, event_time, attr_cols, hash_cols, tiebreakers
    )
    insert_values = {
        c: f"s.{c}"
        for c in dim.columns
    }
    (
        target.alias("d")
        .merge(
            staged.alias("s"),
            f"d.{entity_key} = s.__mergekey AND d.is_current",
        )
        .whenMatchedUpdate(
            condition=MERGE_UPDATE_CONDITION,
            set={"valid_to": "s.event_time", "is_current": "false"},
        )
        .whenNotMatchedInsert(values=insert_values)
        .execute()
    )
