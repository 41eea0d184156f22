"""Streaming SCD2: a two-micro-batch drain lands the exact dimension
the batch operators produce from the same data, snapshot commits are
_SUCCESS-gated and versioned, replay is idempotent, retention prunes."""

from __future__ import annotations

import datetime as dt
import os
import time

from pyspark.sql import functions as F

from open_data_pipelines_spark.operators.scd2 import scd2_initial_load, scd2_merge
from open_data_pipelines_spark.streaming.scd2_stream import (
    latest_snapshot,
    prune_snapshots,
    stream_scd2,
)

T0 = dt.datetime(2024, 1, 1)
T1 = dt.datetime(2024, 1, 10)
T2 = dt.datetime(2024, 2, 1)

COLS = ["entity", "status", "ts", "event_ref"]
BATCH1 = [
    ("a", "open", T0, 1),
    ("a", "active", T1, 2),
    ("b", "open", T0, 3),
    ("c", "open", T1, 4),
]
BATCH2 = [
    ("a", "closed", T2, 5),  # changed, newer -> new version
    ("b", "open", T2, 6),  # same hash -> untouched
    ("c", "stale", T0, 7),  # late event -> must not fire
    ("d", "open", T2, 8),  # brand-new entity
]

ARGS = dict(
    entity_key="entity",
    event_time="ts",
    attr_cols=["status"],
    hash_cols=["status"],
    tiebreakers=("event_ref",),
)


def _canon(df):
    return sorted(
        (r["entity"], r["status"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in df.collect()
    )


def test_streamed_dim_equals_batch_dim(spark, tmp_path):
    landing = str(tmp_path / "landing")
    b1 = spark.createDataFrame(BATCH1, COLS)
    b2 = spark.createDataFrame(BATCH2, COLS)
    b1.coalesce(1).write.parquet(landing)
    time.sleep(1.1)  # file mtime orders the micro-batches
    b2.coalesce(1).write.mode("append").parquet(landing)

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    root = str(tmp_path / "dim")
    stream_scd2(stream, root, str(tmp_path / "ckpt"), **ARGS)

    got, version = latest_snapshot(spark, root)
    assert version >= 1, "expected two micro-batches"
    want = scd2_merge(scd2_initial_load(b1, *ARGS.values()), b2, *ARGS.values())
    assert _canon(got) == _canon(want)

    # every committed version is _SUCCESS-gated and readable
    for name in sorted(os.listdir(root)):
        assert os.path.exists(os.path.join(root, name, "_SUCCESS"))


def test_replay_is_idempotent(spark, tmp_path):
    """Re-running the last batch (crash-recovery replay) must leave
    the published dimension unchanged — the I4 guard makes merging a
    batch into a snapshot that already absorbed it a no-op."""
    b1 = spark.createDataFrame(BATCH1, COLS)
    b2 = spark.createDataFrame(BATCH2, COLS)
    root = str(tmp_path / "dim")
    dim0 = scd2_initial_load(b1, *ARGS.values())
    dim0.write.parquet(f"{root}/v00000000")
    dim1 = scd2_merge(dim0, b2, *ARGS.values())
    dim1.write.parquet(f"{root}/v00000001")

    latest, v = latest_snapshot(spark, root)
    assert v == 1
    replayed = scd2_merge(latest, b2, *ARGS.values())
    assert _canon(replayed) == _canon(latest)


def test_replay_after_lost_checkpoint_is_noop(spark, tmp_path):
    """Crash between snapshot publish and checkpoint commit: on
    restart the batch replays while ITS OWN version is already the
    newest committed snapshot. The merge must skip (already-committed
    guard) — merging against latest_snapshot() unconditionally would
    overwrite v{batch_id} while reading from it and wedge the stream."""
    import shutil

    landing = str(tmp_path / "landing")
    b1 = spark.createDataFrame(BATCH1, COLS)
    b2 = spark.createDataFrame(BATCH2, COLS)
    b1.coalesce(1).write.parquet(landing)
    time.sleep(1.1)
    b2.coalesce(1).write.mode("append").parquet(landing)

    def mkstream():
        return (
            spark.readStream.schema(b1.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )

    root = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    stream_scd2(mkstream(), root, ckpt, **ARGS)
    before = _canon(latest_snapshot(spark, root)[0])

    # losing the checkpoint replays EVERY batch against already-
    # committed snapshots — the worst-case replay storm. This is the
    # operator-asserted recovery (same source, same boundaries), so it
    # opts into on_log_ahead="skip"; the default errors (next test).
    shutil.rmtree(ckpt)
    stream_scd2(
        mkstream(), root, str(tmp_path / "ckpt2"), on_log_ahead="skip", **ARGS
    )
    after, v = latest_snapshot(spark, root)
    assert v >= 1
    assert _canon(after) == before


def test_skip_mode_never_writes_out_of_order_versions(spark, tmp_path):
    """ADVICE r9: in skip mode a batch id strictly below the newest
    committed version that matches NO committed version (the replay's
    boundaries differ from the original run's, or the matching version
    was pruned) must be SKIPPED — merging it would publish an
    out-of-order v{batch_id} beneath the newest snapshot whose rows
    latest_snapshot never surfaces (a silent drop)."""
    b1 = spark.createDataFrame(BATCH1, COLS)
    b2 = spark.createDataFrame(BATCH2, COLS)
    root = str(tmp_path / "dim")
    # a prior run committed v0 and v5 (v1-v4 pruned or differently
    # bounded); the replay will deliver batches 0 and 1
    dim0 = scd2_initial_load(b1, *ARGS.values())
    dim0.write.parquet(f"{root}/v00000000")
    scd2_merge(dim0, b2, *ARGS.values()).write.parquet(f"{root}/v00000005")
    before, v_before = latest_snapshot(spark, root)
    before_rows = _canon(before)
    assert v_before == 5

    landing = str(tmp_path / "landing")
    b1.coalesce(1).write.parquet(landing)
    time.sleep(1.1)
    b2.coalesce(1).write.mode("append").parquet(landing)
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    stream_scd2(
        stream, root, str(tmp_path / "ckpt"), on_log_ahead="skip", **ARGS
    )
    # batch 0 matched committed v0 (idempotent skip); batch 1 is below
    # newest v5 with no committed v1 — it must NOT have written one
    assert not os.path.exists(os.path.join(root, "v00000001"))
    after, v_after = latest_snapshot(spark, root)
    assert v_after == 5
    assert _canon(after) == before_rows


def test_log_ahead_of_checkpoint_errors_by_default(spark, tmp_path):
    """Fresh checkpoint against a root holding a PRIOR run's versions:
    by batch id alone the stream cannot tell a deliberate replay from
    new data that the old silent-skip guard would drop (round-9 review
    find) — the default must refuse with a generation-mismatch error."""
    import pytest
    import shutil

    landing = str(tmp_path / "landing")
    b1 = spark.createDataFrame(BATCH1, COLS)
    b2 = spark.createDataFrame(BATCH2, COLS)
    b1.coalesce(1).write.parquet(landing)
    time.sleep(1.1)
    b2.coalesce(1).write.mode("append").parquet(landing)

    def mkstream():
        return (
            spark.readStream.schema(b1.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )

    root = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    stream_scd2(mkstream(), root, ckpt, **ARGS)
    assert latest_snapshot(spark, root)[1] >= 1

    shutil.rmtree(ckpt)
    with pytest.raises(Exception, match="generation mismatch"):
        stream_scd2(mkstream(), root, str(tmp_path / "ckpt2"), **ARGS)


def test_version_dirs_grow_past_eight_digits(spark, tmp_path):
    """The writer's v{batch_id:08d} format grows to 9+ digits past
    1e8 batches — latest_snapshot must not silently ignore them."""
    b1 = spark.createDataFrame(BATCH1, COLS)
    root = str(tmp_path / "dim")
    scd2_initial_load(b1, *ARGS.values()).write.parquet(f"{root}/v00000007")
    scd2_initial_load(b1, *ARGS.values()).write.parquet(f"{root}/v100000000")
    _, v = latest_snapshot(spark, root)
    assert v == 100_000_000


def test_prune_keeps_newest(spark, tmp_path):
    b1 = spark.createDataFrame(BATCH1, COLS)
    root = str(tmp_path / "dim")
    for v in range(5):
        scd2_initial_load(b1, *ARGS.values()).write.parquet(f"{root}/v{v:08d}")
    removed = prune_snapshots(spark, root, keep=2)
    assert removed == 3
    _, v = latest_snapshot(spark, root)
    assert v == 4
    assert sorted(os.listdir(root)) == ["v00000003", "v00000004"]


def test_snapshot_file_count_stays_bounded(spark, tmp_path):
    """Every merge rewrites the whole snapshot; its file count must be
    set by the merge's own exchange, not inherited from the previous
    snapshot's files plus each new branch's partitions (a union-shaped
    merge grew the snapshots 1, 4, 7, ... files)."""
    landing = str(tmp_path / "landing")
    months = [dt.datetime(2024, m, 1) for m in range(1, 6)]
    schema = None
    for i, ts in enumerate(months):
        # each batch changes every existing entity and adds one new one
        rows = [(f"e{k}", f"s{i}", ts, 10 * i + k) for k in range(i + 2)]
        df = spark.createDataFrame(rows, COLS)
        schema = df.schema
        df.coalesce(1).write.mode("append").parquet(landing)
        time.sleep(1.1)  # file mtime orders the micro-batches

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(landing)
    root = str(tmp_path / "dim")
    stream_scd2(stream, root, str(tmp_path / "ckpt"), **ARGS)

    limit = int(spark.conf.get("spark.sql.shuffle.partitions"))
    versions = sorted(os.listdir(root))
    assert len(versions) == len(months)
    for name in versions:
        parts = [f for f in os.listdir(os.path.join(root, name)) if f.startswith("part-")]
        assert 1 <= len(parts) <= limit, (name, len(parts))
    got, _ = latest_snapshot(spark, root)
    # 5+5+4+3+2+1 versions of e0..e5, one current row each
    assert got.count() == 20
    assert got.filter(F.col("is_current")).count() == 6


def test_merge_batch_reads_previous_snapshot_without_a_job(spark, tmp_path):
    """A warm batch reads the previous snapshot's schema from its
    footer: the merge batch runs the stream's own jobs and the
    snapshot write, and no schema-inference job (4 jobs with one)."""
    from open_data_pipelines_spark import metrics

    landing = str(tmp_path / "landing")
    ckpt, root = str(tmp_path / "ckpt"), str(tmp_path / "dim")
    b1 = spark.createDataFrame(BATCH1, COLS)

    def drain():
        stream = spark.readStream.schema(b1.schema).parquet(landing)
        return stream_scd2(stream, root, ckpt, **ARGS)

    b1.coalesce(1).write.parquet(landing)
    drain()  # initial load
    time.sleep(1.1)  # file mtime orders the micro-batches
    spark.createDataFrame(BATCH2, COLS).coalesce(1).write.mode("append").parquet(landing)
    q = drain()
    assert latest_snapshot(spark, root)[1] == 1
    assert len(metrics.jobs(spark, str(q.runId))) == 3
