"""Streaming SCD Type 2: the reference's incremental dimension merge
(I1, ``src/data_sources/section_58.py:304-357``) driven by a stream.

Each micro-batch applies the batch merge (:mod:`..operators.scd2` —
identical semantics, asserted by parity test) against the current
dimension snapshot and publishes a NEW versioned snapshot directory:

    <root>/v00000007/part-*.parquet  + _SUCCESS

Readers take the highest version with a ``_SUCCESS`` marker
(:func:`latest_snapshot`) — commit is the atomic appearance of that
marker, so a crash mid-write leaves a dangling uncommitted directory,
never a torn table. Replay safety: a batch always merges against the
newest committed version STRICTLY BELOW its own batch_id, and if its
own version is already committed the replay is a no-op. (Merging
against ``latest_snapshot()`` unconditionally would, after a crash
between snapshot publish and checkpoint commit, read v{batch_id}
while overwriting that same path — Spark's "cannot overwrite a path
that is also being read from" — wedging the stream.) Delivery is
therefore effectively-once end-to-end — the same batch-id-keyed
idempotence as ``stream_to_month_partitions_exactly_once``, applied
to whole-snapshot publication. This is a minimal snapshot log — the
plain-parquet analog of what Delta/Iceberg provide transactionally
(the Delta MERGE variant lives in ``operators/scd2_delta.py``); old
versions double as time travel and are pruned with
:func:`prune_snapshots`.

Scale: the merge is the batch operator's one full-outer join on the
entity key per micro-batch, so each snapshot is written by that
join's exchange and holds at most ``spark.sql.shuffle.partitions``
files however many batches came before. Snapshot size is the
dimension (small relative to facts, by definition), so full-snapshot
rewrite per batch is the standard SCD2 trade until a transactional
format takes over.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from ..operators.index_commit import _hadoop_fs, _is_complete
from ..operators.scd2 import scd2_initial_load, scd2_merge
from ..session import footer_schema

# Writers format ``v{batch_id:08d}`` — zero-padded but GROWABLE past
# 1e8 batches, so the match must be 8-or-more digits, not exactly 8.
_VDIR = re.compile(r"^v(\d{8,})$")


def _versions(spark: SparkSession, root: str) -> list[tuple[int, str]]:
    # Hadoop FS of the root's own scheme, NOT os.listdir: Spark writes
    # the snapshots, so the log must be listable wherever Spark can
    # write — a driver-local listing on an HDFS root silently saw zero
    # committed snapshots and re-ran initial_load per batch (round-9
    # review find)
    fs, hpath = _hadoop_fs(spark, root)
    rpath = hpath(root)
    if not fs.exists(rpath):
        return []
    out = []
    for status in fs.listStatus(rpath):
        m = _VDIR.match(status.getPath().getName())
        if not (m and status.isDirectory()):
            continue
        path = status.getPath().toString()
        if _is_complete(fs, hpath, path):
            out.append((int(m.group(1)), path))
    return sorted(out)


def _read_snapshot(spark: SparkSession, path: str) -> DataFrame:
    # schema from one footer on the driver: a bare read.parquet would
    # launch a schema-inference job per snapshot read
    return spark.read.schema(footer_schema(spark, path)).parquet(path)


def latest_snapshot(
    spark: SparkSession, root: str
) -> tuple[DataFrame | None, int]:
    """(dimension DataFrame, version) of the newest committed
    snapshot; (None, -1) before the first commit."""
    vs = _versions(spark, root)
    if not vs:
        return None, -1
    v, path = vs[-1]
    return _read_snapshot(spark, path), v


def prune_snapshots(spark: SparkSession, root: str, keep: int = 3) -> int:
    """Drop all but the newest ``keep`` committed versions (time-travel
    retention); returns how many were removed."""
    fs, hpath = _hadoop_fs(spark, root)
    vs = _versions(spark, root)
    drop = vs[:-keep] if keep > 0 else vs
    for _, path in drop:
        fs.delete(hpath(path), True)
    return len(drop)


def stream_scd2(
    stream: DataFrame,
    root: str,
    checkpoint: str,
    entity_key: str,
    event_time: str,
    attr_cols: list[str],
    hash_cols: list[str],
    tiebreakers: tuple[str, ...] = (),
    on_log_ahead: str = "error",
):
    """availableNow drain of ``stream`` into the versioned SCD2
    snapshot log at ``root``. Returns the finished query handle.

    First-ever batch runs the initial load; every later batch the
    incremental merge — exactly the reference's backfill-then-monthly
    lifecycle, with the stream deciding batch boundaries.

    ``on_log_ahead`` governs batches whose id is BELOW the log's
    newest committed version — only reachable when the checkpoint was
    reset (batch ids restart at 0) while ``root`` kept a prior run's
    snapshots. ``"error"`` (default) refuses: by batch id alone such a
    batch is indistinguishable from NEW data that would be silently
    dropped (round-9 review find). ``"skip"`` is the opt-in recovery
    mode for the deliberate replay storm — same source, same batch
    boundaries — where every replayed batch's snapshot is already
    committed and skipping is the idempotent continue. The single
    crash-replay case (batch id == newest version: a crash between
    snapshot publish and checkpoint commit) is always skipped — no
    ambiguity there, only the newest version can be in that state.
    """
    if on_log_ahead not in ("error", "skip"):
        raise ValueError(f"unknown on_log_ahead {on_log_ahead!r}")
    spark = stream.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        vs = _versions(spark, root)
        if vs and vs[-1][0] > batch_id:
            if on_log_ahead == "error":
                raise RuntimeError(
                    f"scd2 snapshot log at {root!r} is at "
                    f"v{vs[-1][0]:08d} but this stream is delivering batch "
                    f"{batch_id} — checkpoint/log generation mismatch; pass "
                    "on_log_ahead='skip' only for a deliberate replay of the "
                    "same source through a fresh checkpoint"
                )
            # skip mode: EVERY batch strictly below the newest committed
            # version is already applied under the mode's same-source /
            # same-boundaries precondition (committed, or committed and
            # since pruned). Falling through to the merge here would
            # write an out-of-order v{batch_id} BENEATH the newest
            # snapshot — rows latest_snapshot would never surface, i.e.
            # a silent drop when a replay's batch boundaries differ
            # from the original run's (round-9 ADVICE find).
            return
        if any(v == batch_id for v, _ in vs):
            # Crash landed between snapshot publish and checkpoint
            # commit: this batch's snapshot is already committed.
            # Re-merging would read v{batch_id} while overwriting it.
            # (A fresh checkpoint against a root holding EXACTLY
            # v{batch_id} is indistinguishable from that crash replay
            # without a run identity — the guard above catches every
            # multi-version case.)
            return
        prior = [(v, p) for v, p in vs if v < batch_id]
        dim = _read_snapshot(spark, prior[-1][1]) if prior else None
        if dim is None:
            new_dim = scd2_initial_load(
                batch_df, entity_key, event_time, attr_cols, hash_cols, tiebreakers
            )
        else:
            new_dim = scd2_merge(
                dim, batch_df, entity_key, event_time, attr_cols, hash_cols, tiebreakers
            )
        new_dim.write.mode("overwrite").parquet(f"{root}/v{batch_id:08d}")

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
