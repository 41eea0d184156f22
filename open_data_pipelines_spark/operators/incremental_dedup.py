"""Incremental exact dedup against a persisted seen-signature index
(engine extension; the reference has no corpus operators — SURVEY.md
§2 extensions).

Batch re-dedup of a growing corpus is O(corpus) per arrival: to admit
one day's crawl you re-shuffle every signature ever seen. The
incremental form keeps a durable SEEN INDEX (one 8-byte signature per
admitted row, parquet, partitioned by a signature-derived bucket) and
admits each new batch with two broadcast joins — the seen side is
only ever SCANNED, never shuffled:

1. ``hits = seen ⋈_semi broadcast(batch_sigs)`` — a broadcast hash
   semi-join probes the seen scan with the batch's (distinct,
   batch-sized, broadcastable) signature set; the result is bounded
   by the batch.
2. ``fresh = batch ⋈_anti broadcast(hits)`` — removes the already-
   seen rows; both joins broadcast the SMALL side, so the 100 TB
   index never crosses the wire. Index files are written
   bucket-clustered (``repartition(bucket)`` + ``sortWithinPartitions
   (bucket)``), so each parquet row group covers a tight bucket
   range and a batch touching few buckets skips most row groups via
   the pushed ``In(bucket, ...)`` filter (row-group pruning — the
   files are NOT ``partitionBy`` directories, because the log is read
   as a list of per-batch roots where directory-partition inference
   doesn't compose); a batch touching all buckets degrades to a full
   scan of 8-byte-signature parquet — the floor cost.

Within-batch duplicates collapse first via the same
partial-combine-groupBy + unique-key-rejoin pattern as
:mod:`.paragraph_dedup` (deterministic keeper: min ``id``), so a hot
signature inside one batch never serializes on a reducer.

Durability: the index is an append-only log of per-batch parquet
directories ``batch=<id>/`` under the index root — each immutable,
published by its parquet ``_SUCCESS`` marker, never renamed over:
object-store-safe by the same argument as :mod:`.index_commit`'s
manifest generations (readers skip marker-less directories, so a
crashed append is invisible). Delivery is the engine's standard
at-least-once append: a REPLAYED batch id probes against every batch
directory EXCEPT its own, so it re-admits exactly the same fresh set
(idempotent output), and its directory overwrite replaces — not
duplicates — the earlier attempt. Signatures duplicated ACROSS log
segments (e.g. the post-crash overlap a compaction publish leaves
behind) are correctness-harmless (the probe is a semi-join) and are
reclaimed by :func:`compact_seen_index`, which rewrites the log as
one deduped ``base-<n>`` segment — published under a FRESH name
before any input is deleted, so a crash at any point leaves the
union of complete segments a membership-superset, never a loss (the
same never-rename-over posture as :mod:`.index_commit`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import lazy_checkpoint
from ..functions.hashing import fast_long_hash, stable_long_hash
from .index_commit import _hadoop_fs, _is_complete
from .text_analysis import normalize_text

_BATCH_PREFIX = "batch="
_BASE_PREFIX = "base-"

#: Parquet files per published segment: batch publishes and
#: compaction alike, for every segment-log index.
SEGMENT_FILES = 4
#: Columns of an exact-signature segment.
SIG_COLS = ("sig", "bucket")


def content_signature(
    *cols,
    normalize: bool = True,
    fast: bool = True,
):
    """64-bit content signature column: hash of the (optionally
    whitespace/case-normalized) columns joined with a unit separator.
    ``fast`` -> xxhash64 (scale path); otherwise the md5-derived
    cross-engine hash (DuckDB parity: the :func:`..functions.hashing.
    stable_long_hash` docstring's expression over the same concat).

    NULL position is signature-significant: each column is coalesced
    to the ``'<null-key>'`` sentinel (the :mod:`.sampling` unit_hash
    pattern) before the join, because ``concat_ws`` SKIPS nulls —
    without the sentinel ``('a', NULL)``, ``(NULL, 'a')`` and
    ``('a',)`` would all collapse to the same signature and distinct
    multi-column rows would silently dedup as identical. Non-null
    values hash exactly as before, so indexes persisted by earlier
    rounds stay valid FOR ALL-NON-NULL KEYS ONLY: a row whose key
    columns contain NULL now signs differently than it did before the
    sentinel, so against a pre-sentinel persisted index such a
    duplicate is re-admitted ONCE (and deduped correctly from then
    on). If an existing index's key columns can be NULL, do a
    one-time rebuild/compaction of its segments with the current
    signature before relying on it (round-11 advice).
    """
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    if normalize:
        cs = [normalize_text(c) for c in cs]
    joined = F.concat_ws(
        "\x1f", *[F.coalesce(c.cast("string"), F.lit("<null-key>")) for c in cs]
    )
    return fast_long_hash(joined) if fast else stable_long_hash(joined)


def _with_sig_bucket(df, sig_col, n_buckets: int):
    return df.withColumn("sig", sig_col).withColumn(
        "bucket", F.pmod(F.col("sig"), F.lit(n_buckets)).cast("int")
    )


def write_segment(rows: DataFrame, target: str, cols) -> None:
    """One bucket-clustered segment write of the distinct ``cols`` rows
    (``cols`` includes ``bucket``): repartition + in-file sort give each
    parquet row group a tight bucket min/max, so probes' pushed
    ``In(bucket, ...)`` filters skip row groups. Shared by every
    segment-log index (exact signatures, MinHash bands, media bands)
    for its batch publish, output-derived publish and compaction."""
    (
        rows.select(*cols)
        .distinct()
        .repartition(SEGMENT_FILES, "bucket")
        .sortWithinPartitions("bucket")
        .write.mode("overwrite")
        .parquet(target)
    )


def _is_segment_name(name: str) -> bool:
    if name.endswith(".tmp"):
        return False
    # bare "base": the pre-generation compacted-segment name (one
    # round-10 commit's format) — recognized so an index compacted by
    # that code keeps its membership; the next compaction absorbs it
    return name == "base" or name.startswith(_BASE_PREFIX) or name.startswith(_BATCH_PREFIX)


def committed_log_dirs(spark: SparkSession, path: str) -> list[str]:
    """Index log directories holding a complete (``_SUCCESS``-marked)
    signature write: compacted ``base-<n>`` segments plus every
    published batch directory (``.tmp`` strays from a crashed
    compaction are never segments). One filesystem listing — no data
    read."""
    base = path.rstrip("/")
    fs, hp = _hadoop_fs(spark, base)
    if not fs.exists(hp(base)):
        return []
    out = []
    for status in fs.listStatus(hp(base)):
        if not status.isDirectory():
            continue
        name = status.getPath().getName()
        if _is_segment_name(name) and _is_complete(fs, hp, base + "/" + name):
            out.append(base + "/" + name)
    return sorted(out)


def read_seen_index(spark: SparkSession, path: str) -> DataFrame:
    """All committed signatures: ``(sig, bucket)``. Empty frame when
    the index does not exist yet."""
    dirs = committed_log_dirs(spark, path)
    if not dirs:
        return spark.createDataFrame([], "sig long, bucket int")
    return spark.read.parquet(*dirs).select("sig", "bucket")


def dedup_within_batch(batch: DataFrame, id_col: str) -> DataFrame:
    """Deterministic within-batch collapse on ``sig`` (keeper =
    min ``id``): partial-combine groupBy + rejoin on the unique
    ``(sig, id)`` key, never a window over the signature. The winners
    side of the rejoin is broadcast (the :func:`dedup_against_index`
    broadcast-sized-batch contract)."""
    winners = batch.groupBy("sig").agg(F.min(id_col).alias(id_col))
    return batch.join(F.broadcast(winners), ["sig", id_col], "left_semi")


def dedup_against_index(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    sig_col,
    id_col: str,
    *,
    n_buckets: int = 256,
    batch_id: int | None = None,
    update: bool = True,
) -> DataFrame:
    """Admit the rows of ``batch`` not already in the seen index at
    ``path``; optionally publish their signatures as a new batch
    directory. Returns the fresh rows (original columns).

    **Contract: the batch must be broadcast-sized** (its distinct
    signatures fit in executor memory — the normal shape for one
    arrival against a huge index). The whole admission path hinges on
    it: the probe broadcasts the batch's signature set against the
    seen scan, and the anti-join broadcasts the hits, so the 100 TB
    index is only ever SCANNED, never shuffled.

    ``sig_col`` is a Column (build one with
    :func:`content_signature`). With ``batch_id``, the probe excludes
    the batch's own directory (replay-idempotent output) and the
    publish overwrites it; without, the directory name is the current
    max batch number + 1 (pure arrival order).
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    sigged = dedup_within_batch(_with_sig_bucket(batch, sig_col, n_buckets), id_col)

    base = path.rstrip("/")
    dirs = committed_log_dirs(spark, base)
    own = f"{base}/{_BATCH_PREFIX}{batch_id}" if batch_id is not None else None
    probe_dirs = [d for d in dirs if d != own]

    if probe_dirs:
        batch_sigs = sigged.select("sig", "bucket").distinct()
        seen = spark.read.parquet(*probe_dirs)
        # prune the seen scan to the batch's buckets when few are
        # touched (bounded driver collect: at most n_buckets ints)
        touched = [r["bucket"] for r in batch_sigs.select("bucket").distinct().collect()]
        if len(touched) < n_buckets:
            seen = seen.where(F.col("bucket").isin(touched))
        hits = seen.join(F.broadcast(batch_sigs), ["sig", "bucket"], "left_semi")
        fresh = sigged.join(F.broadcast(hits.select("sig")), "sig", "left_anti")
    else:
        fresh = sigged

    if update:
        if batch_id is None:
            nums = [
                int(d.rsplit(_BATCH_PREFIX, 1)[1])
                for d in dirs
                if _BATCH_PREFIX in d.rsplit("/", 1)[1]
            ]
            batch_id = (max(nums) + 1) if nums else 1
        target = f"{base}/{_BATCH_PREFIX}{batch_id}"
        # reuse cache: the publish action materializes it, the
        # caller's read reuses the blocks instead of re-probing
        fresh = lazy_checkpoint(fresh)
        write_segment(fresh, target, SIG_COLS)
    return fresh.drop("sig", "bucket")


def publish_batch_signatures(
    df: DataFrame,
    path: str,
    sig_col,
    batch_id: int,
    *,
    n_buckets: int = 256,
) -> None:
    """Publish the signatures of ``df``'s rows as the index's
    ``batch=<id>`` segment (overwrite — replay-idempotent). The
    streaming wrapper derives the index from its COMMITTED output
    with this, so the output is the source of truth and a torn index
    write is repairable; the batch API's ``update=True`` publishes
    inline instead (it already carries the signatures)."""
    write_segment(
        _with_sig_bucket(df, sig_col, n_buckets),
        f"{path.rstrip('/')}/{_BATCH_PREFIX}{batch_id}",
        SIG_COLS,
    )


def has_batch_segment(spark: SparkSession, path: str, batch_id: int) -> bool:
    """Whether the index holds a complete ``batch=<id>`` segment."""
    base = path.rstrip("/")
    fs, hp = _hadoop_fs(spark, base)
    return _is_complete(fs, hp, f"{base}/{_BATCH_PREFIX}{batch_id}")


def batch_segment_ids(spark: SparkSession, path: str) -> list[int]:
    """Ids of the index's committed ``batch=<id>`` segments (empty
    after a compaction absorbed them all). A NEW stream lineage must
    not start while any exist — its restarted batch ids would collide
    with and overwrite them (see :mod:`...streaming.dedup_stream`)."""
    out = []
    for d in committed_log_dirs(spark, path):
        name = d.rsplit("/", 1)[1]
        if name.startswith(_BATCH_PREFIX) and name[len(_BATCH_PREFIX):].lstrip("-").isdigit():
            out.append(int(name[len(_BATCH_PREFIX):]))
    return sorted(out)


def compact_seen_index(spark: SparkSession, path: str) -> int:
    """Rewrite the log as one deduped ``base-<n>`` segment, then drop
    the absorbed segments. Returns the distinct-signature count.

    Crash safety is publish-before-delete under a FRESH name (the
    :mod:`.index_commit` posture — nothing is ever renamed over):

    1. the deduped union of every currently complete segment is
       written to ``base-<n>.tmp`` (invisible: ``.tmp`` names are
       never segments);
    2. it is published by a rename to the never-pre-existing
       ``base-<n>`` — from this instant readers see the full
       membership through the new segment;
    3. only then are the absorbed input segments deleted.

    A crash before (2) leaves the inputs untouched; between (2) and
    the end of (3) readers see overlapping segments — duplicate
    MEMBERSHIP, which the semi-join probe is insensitive to — and the
    next compaction absorbs whatever survived. At no point is the
    union of complete segments ever less than the full signature set.
    This holds on OBJECT STORES too, even though a directory rename
    there is per-object copy+delete rather than atomic: the inputs
    are deleted only after the publish call RETURNS, so a torn
    publish leaves an incomplete ``base-<n>`` whose content is a
    subset of the still-present inputs (extra duplicate membership at
    worst, absorbed next compaction). A retried compaction deletes
    any partial ``base-<n>`` stray before renaming (a complete one
    would have been counted in ``gens`` and bumped the number).

    Run compaction while no admission is in flight — streaming OR
    batch:

    - a dedup STREAM mid-replay: absorbing a batch directory removes
      the own-directory exclusion a replay of that SAME batch id
      relies on, so the replay would see its own signatures as
      already-seen (the streaming wrapper's committed-output skip
      makes this harmless for completed batches — see
      :mod:`...streaming.dedup_stream`);
    - a concurrent BATCH-mode :func:`dedup_against_index`: its probe
      lists segment directories once, then reads them lazily — step
      (3)'s deletes can land between the listing and the parquet
      scan, failing the probe mid-flight with FileNotFound (a crash,
      not corruption; rerun it after compaction). And with
      ``batch_id=None`` the admission numbers itself ``max+1`` over
      the directories it listed — a compaction that just absorbed
      them resets the numbering, so the admission can REUSE a batch
      id the compacted base already contains, silently merging two
      logical batches' replay identities. Serialize compaction with
      admissions per index, the same single-writer posture as
      :mod:`.index_commit`.
    """
    return compact_segment_log(spark, path, SIG_COLS)


def compact_segment_log(spark: SparkSession, path: str, cols) -> int:
    """The generic publish-before-delete compaction every segment-log
    index shares (exact signatures, MinHash bands, media bands): the
    deduped union of all complete segments is written by
    :func:`write_segment` over the index's ``cols``; the protocol and
    crash argument are :func:`compact_seen_index`'s. Returns the
    compacted row count."""
    base = path.rstrip("/")
    dirs = committed_log_dirs(spark, base)
    if not dirs:
        return 0
    fs, hp = _hadoop_fs(spark, base)
    gens = [
        int(d.rsplit("/", 1)[1][len(_BASE_PREFIX):])
        for d in dirs
        if d.rsplit("/", 1)[1].startswith(_BASE_PREFIX)
    ]
    gen = (max(gens) + 1) if gens else 1
    final = f"{base}/{_BASE_PREFIX}{gen:08d}"
    tmp = final + ".tmp"
    fs.delete(hp(tmp), True)  # stale stray from a crashed attempt
    write_segment(spark.read.parquet(*dirs), tmp, cols)
    n = spark.read.parquet(tmp).count()
    # a partial `final` from a crashed earlier publish (object-store
    # rename is copy-per-object) would make rename nest tmp UNDER it;
    # it is incomplete by construction (complete generations are in
    # `gens` and bump the number), so clearing it is safe
    fs.delete(hp(final), True)
    if not fs.rename(hp(tmp), hp(final)):
        raise IOError(f"compact_segment_log: publishing {final!r} failed")
    for d in dirs:
        fs.delete(hp(d), True)
    return n
