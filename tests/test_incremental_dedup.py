"""Incremental exact dedup against the persisted seen-signature
index: admission semantics, replay idempotence, crash-invisible
appends, compaction, broadcast-only probe plan, and the streaming
wrapper's restart behavior."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from open_data_pipelines_spark.operators.incremental_dedup import (
    committed_log_dirs,
    compact_seen_index,
    content_signature,
    dedup_against_index,
    read_seen_index,
)
from open_data_pipelines_spark.streaming.dedup_stream import (
    read_admitted,
    stream_dedup_to_parquet,
)

from conftest import plan_without_auto_broadcast


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _sig():
    return content_signature("text")


def test_first_batch_admits_all_and_publishes(spark, tmp_path):
    idx = str(tmp_path / "seen")
    b1 = _docs(spark, [(1, "alpha"), (2, "bravo"), (3, "alpha")])  # 3 dups within
    fresh = dedup_against_index(spark, b1, idx, _sig(), "doc_id", batch_id=1)
    got = sorted(r["doc_id"] for r in fresh.collect())
    assert got == [1, 2]  # within-batch keeper = min doc_id
    assert len(committed_log_dirs(spark, idx)) == 1
    assert read_seen_index(spark, idx).count() == 2


def test_second_batch_sees_the_first(spark, tmp_path):
    idx = str(tmp_path / "seen")
    dedup_against_index(spark, _docs(spark, [(1, "alpha"), (2, "bravo")]), idx, _sig(), "doc_id", batch_id=1)
    # normalized match against the index, plus a within-batch pair
    b2 = _docs(spark, [(10, "ALPHA  "), (11, "charlie"), (12, "charlie")])
    fresh = dedup_against_index(spark, b2, idx, _sig(), "doc_id", batch_id=2)
    assert sorted(r["doc_id"] for r in fresh.collect()) == [11]
    assert read_seen_index(spark, idx).count() == 3


def test_replay_is_idempotent(spark, tmp_path):
    idx = str(tmp_path / "seen")
    b1 = _docs(spark, [(1, "alpha"), (2, "bravo")])
    dedup_against_index(spark, b1, idx, _sig(), "doc_id", batch_id=7)
    # replay the SAME batch id: must re-admit the same fresh set (its
    # own earlier publish is excluded from the probe) and not grow
    # the index
    fresh2 = dedup_against_index(spark, b1, idx, _sig(), "doc_id", batch_id=7)
    assert sorted(r["doc_id"] for r in fresh2.collect()) == [1, 2]
    assert read_seen_index(spark, idx).count() == 2
    assert len(committed_log_dirs(spark, idx)) == 1


def test_unmarked_directory_is_invisible(spark, tmp_path):
    """A crashed append (no _SUCCESS marker) must not count as seen."""
    idx = tmp_path / "seen"
    dedup_against_index(spark, _docs(spark, [(1, "alpha")]), str(idx), _sig(), "doc_id", batch_id=1)
    # simulate a torn append: real parquet data, marker removed
    dedup_against_index(spark, _docs(spark, [(2, "bravo")]), str(idx), _sig(), "doc_id", batch_id=2)
    (idx / "batch=2" / "_SUCCESS").unlink()
    assert len(committed_log_dirs(spark, str(idx))) == 1
    fresh = dedup_against_index(
        spark, _docs(spark, [(3, "bravo")]), str(idx), _sig(), "doc_id", batch_id=3
    )
    assert sorted(r["doc_id"] for r in fresh.collect()) == [3]  # bravo not seen


def test_compaction_preserves_membership(spark, tmp_path):
    idx = str(tmp_path / "seen")
    for i, text in enumerate(["alpha", "bravo", "charlie"], start=1):
        dedup_against_index(spark, _docs(spark, [(i, text)]), idx, _sig(), "doc_id", batch_id=i)
    n = compact_seen_index(spark, idx)
    assert n == 3
    dirs = committed_log_dirs(spark, idx)
    assert len(dirs) == 1 and dirs[0].endswith("/base-00000001")
    fresh = dedup_against_index(
        spark, _docs(spark, [(20, "bravo"), (21, "delta")]), idx, _sig(), "doc_id", batch_id=50
    )
    assert sorted(r["doc_id"] for r in fresh.collect()) == [21]
    # second compaction absorbs base + the new batch into base-2 and
    # reclaims the cross-segment duplicate-free union
    assert compact_seen_index(spark, idx) == 4
    dirs = committed_log_dirs(spark, idx)
    assert len(dirs) == 1 and dirs[0].endswith("/base-00000002")


def test_compaction_crash_windows_never_lose_membership(spark, tmp_path):
    """Publish-before-delete under a fresh name: a crash at EITHER
    window leaves the union of complete segments >= the full
    signature set (round-10 review find: the previous delete-then-
    rename order lost the whole index in its window)."""
    import shutil

    idx = tmp_path / "seen"
    for i, text in enumerate(["alpha", "bravo"], start=1):
        dedup_against_index(spark, _docs(spark, [(i, text)]), str(idx), _sig(), "doc_id", batch_id=i)

    # window A: crash BEFORE publish — a complete .tmp exists but is
    # not a segment; inputs untouched
    (idx / "base-00000001.tmp").mkdir()
    (idx / "base-00000001.tmp" / "_SUCCESS").touch()
    assert {d.rsplit("/", 1)[1] for d in committed_log_dirs(spark, str(idx))} == {
        "batch=1",
        "batch=2",
    }
    fresh = dedup_against_index(
        spark, _docs(spark, [(10, "alpha")]), str(idx), _sig(), "doc_id", batch_id=3
    )
    assert fresh.count() == 0  # membership intact
    shutil.rmtree(idx / "base-00000001.tmp")

    # window B: crash AFTER publish, BEFORE deletes — overlapping
    # segments (duplicate membership), still correct; the next
    # compaction absorbs everything
    n = compact_seen_index(spark, str(idx))  # makes base-1, removes inputs
    dedup_against_index(
        spark, _docs(spark, [(4, "delta")]), str(idx), _sig(), "doc_id", batch_id=4
    )
    # simulate the crash by recreating an absorbed-looking overlap:
    # copy base-1 to a fake not-yet-deleted input segment
    shutil.copytree(idx / "base-00000001", idx / "batch=99")
    fresh = dedup_against_index(
        spark, _docs(spark, [(11, "bravo"), (12, "echo")]), str(idx), _sig(), "doc_id", batch_id=5
    )
    assert sorted(r["doc_id"] for r in fresh.collect()) == [12]
    assert compact_seen_index(spark, str(idx)) == 4  # alpha bravo delta echo... minus none
    assert n == 2


def test_no_update_probe_only(spark, tmp_path):
    idx = str(tmp_path / "seen")
    dedup_against_index(spark, _docs(spark, [(1, "alpha")]), idx, _sig(), "doc_id", batch_id=1)
    fresh = dedup_against_index(
        spark, _docs(spark, [(2, "bravo")]), idx, _sig(), "doc_id", update=False
    )
    assert fresh.count() == 1
    assert read_seen_index(spark, idx).count() == 1  # unchanged


def test_probe_plan_broadcasts_never_shuffles_seen(spark, tmp_path):
    """The seen side must reach both joins as a scan feeding a
    BroadcastHashJoin probe — no Exchange over the seen scan. Planned
    with the size-based broadcast off: every batch-side join is
    broadcast by hint — the seen probe, the anti-join of the hits, and
    the within-batch winners join, which appears twice (under the
    admitted rows and under the probed signature set)."""
    idx = str(tmp_path / "seen")
    dedup_against_index(
        spark, _docs(spark, [(i, f"t{i}") for i in range(50)]), idx, _sig(), "doc_id", batch_id=1
    )
    fresh = dedup_against_index(
        spark,
        _docs(spark, [(100, "t1"), (101, "new")]),
        idx,
        _sig(),
        "doc_id",
        update=False,
    )
    plan = plan_without_auto_broadcast(spark, lambda: fresh)
    assert plan.count("BroadcastHashJoin") == 4, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def test_bucket_pruning_reaches_the_scan(spark, tmp_path):
    """With one touched bucket out of many, the seen scan must carry
    a pushed bucket filter."""
    idx = str(tmp_path / "seen")
    dedup_against_index(
        spark,
        _docs(spark, [(i, f"t{i}") for i in range(200)]),
        idx,
        _sig(),
        "doc_id",
        batch_id=1,
        n_buckets=64,
    )
    probe = dedup_against_index(
        spark, _docs(spark, [(500, "t3")]), idx, _sig(), "doc_id", n_buckets=64, update=False
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan and ("PushedFilters: [" in plan or "In(bucket" in plan)
    assert probe.count() == 0  # t3 was seen


def test_streaming_dedup_with_restart(spark, tmp_path):
    """Two file-source batches with overlap, drained one file per
    trigger; then a restart with a new file: previously admitted
    content is never re-admitted, and admitted output has no dups."""
    landing = str(tmp_path / "landing")
    idx = str(tmp_path / "seen")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    b1 = _docs(spark, [(1, "alpha"), (2, "bravo")])
    b2 = _docs(spark, [(3, "bravo"), (4, "charlie")])
    b1.repartition(1).write.parquet(landing)
    time.sleep(1.1)  # mod-time ordering guard (see test_ivf_stream)
    b2.repartition(1).write.mode("append").parquet(landing)

    def drain():
        stream = (
            spark.readStream.format("parquet")
            .schema(b1.schema)
            .option("maxFilesPerTrigger", 1)
            .load(landing)
        )
        q = stream_dedup_to_parquet(stream, idx, out, ckpt, "text", "doc_id")
        q.awaitTermination(120)

    drain()
    admitted = {r["doc_id"] for r in read_admitted(spark, out).collect()}
    assert admitted == {1, 2, 4}  # doc 3's text already seen in batch 1

    # restart: new landing file, same checkpoint — old batches are not
    # reprocessed, new overlap is still deduped against the index
    time.sleep(1.1)
    _docs(spark, [(5, "charlie"), (6, "delta")]).repartition(1).write.mode("append").parquet(landing)
    drain()
    admitted = {r["doc_id"] for r in read_admitted(spark, out).collect()}
    assert admitted == {1, 2, 4, 6}
    texts = [r["text"] for r in read_admitted(spark, out).collect()]
    assert len(texts) == len(set(texts))  # no duplicate content admitted


def test_streaming_replay_after_compaction_keeps_output(spark, tmp_path):
    """Compaction absorbs batch directories, which removes the
    own-directory exclusion a replayed batch id relies on. The
    committed-output skip must keep the admitted output intact when
    the checkpoint replays a committed batch after a compaction
    (round-10 review find: the probe saw its own signatures in the
    compacted base and overwrote the output with an empty frame).
    The replay is the REAL at-least-once path: the checkpoint's last
    commit marker is removed, so the restarted query re-delivers the
    final batch under its original id."""
    landing = str(tmp_path / "landing")
    idx = str(tmp_path / "seen")
    out = str(tmp_path / "out")
    ckpt = tmp_path / "ckpt"
    b1 = _docs(spark, [(1, "alpha"), (2, "bravo")])
    b1.repartition(1).write.parquet(landing)

    def drain():
        stream = (
            spark.readStream.format("parquet")
            .schema(b1.schema)
            .option("maxFilesPerTrigger", 1)
            .load(landing)
        )
        q = stream_dedup_to_parquet(stream, idx, out, str(ckpt), "text", "doc_id")
        q.awaitTermination(120)

    drain()
    assert {r["doc_id"] for r in read_admitted(spark, out).collect()} == {1, 2}
    compact_seen_index(spark, idx)
    # crash simulation: sink committed, checkpoint commit marker lost
    # (the hidden .crc checksum sibling must go too, or Spark's
    # rewrite of the marker fails on the stale checksum)
    commits = sorted(p for p in (ckpt / "commits").iterdir() if not p.name.startswith("."))
    commits[-1].unlink()
    crc = commits[-1].parent / f".{commits[-1].name}.crc"
    if crc.exists():
        crc.unlink()
    drain()  # same checkpoint -> batch 0 replays with its original id
    assert {r["doc_id"] for r in read_admitted(spark, out).collect()} == {1, 2}


def test_streaming_fresh_checkpoint_against_output_refused(spark, tmp_path):
    """A fresh checkpoint restarts batch ids at 0; against a
    non-empty output the committed-output skip would silently drop
    content whose batch boundaries differ — the wrapper must refuse
    (round-10 second-pass review find)."""
    import pytest

    landing = str(tmp_path / "landing")
    b1 = _docs(spark, [(1, "alpha")])
    b1.repartition(1).write.parquet(landing)

    def start(ckpt):
        stream = (
            spark.readStream.format("parquet")
            .schema(b1.schema)
            .load(landing)
        )
        q = stream_dedup_to_parquet(
            stream, str(tmp_path / "seen"), str(tmp_path / "out"), ckpt, "text", "doc_id"
        )
        q.awaitTermination(120)

    start(str(tmp_path / "ckpt1"))
    with pytest.raises(RuntimeError, match="fresh checkpoint"):
        start(str(tmp_path / "ckpt2"))


def test_batch_id_auto_numbering(spark, tmp_path):
    """batch_id=None publishes under max existing batch number + 1
    (re-added: the round-10 compaction-test rewrite dropped the only
    coverage of this parse)."""
    idx = tmp_path / "seen"
    dedup_against_index(spark, _docs(spark, [(1, "alpha")]), str(idx), _sig(), "doc_id", batch_id=7)
    dedup_against_index(spark, _docs(spark, [(2, "bravo")]), str(idx), _sig(), "doc_id", batch_id=None)
    names = {d.rsplit("/", 1)[1] for d in committed_log_dirs(spark, str(idx))}
    assert names == {"batch=7", "batch=8"}


def test_legacy_bare_base_segment_recognized(spark, tmp_path):
    """An index compacted by the pre-generation format (segment named
    exactly 'base') keeps its membership and is absorbed by the next
    compaction (round-10 second-pass review find)."""
    import shutil

    idx = tmp_path / "seen"
    dedup_against_index(spark, _docs(spark, [(1, "alpha")]), str(idx), _sig(), "doc_id", batch_id=1)
    compact_seen_index(spark, str(idx))
    shutil.move(str(idx / "base-00000001"), str(idx / "base"))  # legacy layout
    fresh = dedup_against_index(
        spark, _docs(spark, [(2, "alpha"), (3, "bravo")]), str(idx), _sig(), "doc_id", batch_id=2
    )
    assert sorted(r["doc_id"] for r in fresh.collect()) == [3]
    assert compact_seen_index(spark, str(idx)) == 2
    names = {d.rsplit("/", 1)[1] for d in committed_log_dirs(spark, str(idx))}
    assert names == {"base-00000001"}


def test_streaming_refuses_foreign_batch_segments(spark, tmp_path):
    """A fresh lineage's restarted batch ids would overwrite
    same-numbered index segments from the batch API or a previous
    lineage; the wrapper must refuse until compaction absorbs them
    (round-10 third-pass review find)."""
    import pytest

    landing = str(tmp_path / "landing")
    idx = str(tmp_path / "seen")
    b = _docs(spark, [(1, "alpha")])
    b.repartition(1).write.parquet(landing)
    # seed the index out-of-band (auto id -> batch=1)
    dedup_against_index(spark, _docs(spark, [(9, "zulu")]), idx, _sig(), "doc_id")

    def start(ckpt, out):
        stream = spark.readStream.format("parquet").schema(b.schema).load(landing)
        q = stream_dedup_to_parquet(stream, idx, out, ckpt, "text", "doc_id")
        q.awaitTermination(120)

    with pytest.raises(RuntimeError, match="batch segments from another lineage"):
        start(str(tmp_path / "ckpt1"), str(tmp_path / "out1"))
    compact_seen_index(spark, idx)
    start(str(tmp_path / "ckpt2"), str(tmp_path / "out2"))  # now fine
    assert {r["doc_id"] for r in read_admitted(spark, str(tmp_path / "out2")).collect()} == {1}


def test_read_admitted_skips_torn_output(spark, tmp_path):
    """Visible part files without _SUCCESS are not admitted output
    (round-10 third-pass review find)."""
    out = tmp_path / "out"
    _docs(spark, [(1, "alpha")]).write.parquet(str(out / "batch=0"))
    _docs(spark, [(2, "bravo")]).write.parquet(str(out / "batch=1"))
    (out / "batch=1" / "_SUCCESS").unlink()  # torn write
    got = {r["doc_id"] for r in read_admitted(spark, str(out)).collect()}
    assert got == {1}


def test_content_signature_null_position_significant(spark):
    """ADVICE r10: concat_ws skips NULLs, so without a per-position
    sentinel ('a', NULL), (NULL, 'a') and ('a',) all hashed alike and
    distinct multi-column rows silently deduped as identical. Each
    column is now coalesced to '<null-key>' first; non-null values
    hash exactly as before (persisted-index compatibility)."""
    df = spark.createDataFrame(
        [(1, "a", None), (2, None, "a"), (3, "a", "a"), (4, "a", None)],
        "id int, x string, y string",
    )
    sigs = df.select(
        "id", content_signature("x", "y", normalize=False).alias("sig")
    ).collect()
    by_id = {r["id"]: r["sig"] for r in sigs}
    assert by_id[1] != by_id[2]  # NULL position distinguishes
    assert by_id[1] != by_id[3]
    assert by_id[1] == by_id[4]  # same shape still matches

    # single non-null column: unchanged vs the raw concat_ws form
    one = spark.createDataFrame([("hello world",)], "text string")
    from pyspark.sql import functions as F

    from open_data_pipelines_spark.functions.hashing import fast_long_hash

    got, legacy = one.select(
        content_signature("text", normalize=False).alias("got"),
        fast_long_hash(F.concat_ws("\x1f", F.col("text"))).alias("legacy"),
    ).first()
    assert got == legacy
