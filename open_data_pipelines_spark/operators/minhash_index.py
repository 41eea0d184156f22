"""Incremental NEAR-dup admission against a persisted MinHash band
index (engine extension; VERDICT r10 task #4 — the near-dup twin of
:mod:`.incremental_dedup`'s exact-signature index).

Batch near-dup (:func:`.text_dedup.minhash_lsh_dedup`) re-bands the
whole corpus per run — O(corpus) to admit one day's crawl. The
incremental form keeps a durable BAND INDEX holding, for every
ADMITTED document, its ``bands`` LSH band rows ``(band_id, band_hash,
msig)`` — the same shingle -> k-minhash -> banded-signature family as
the batch operator, so a band collision here means exactly what it
means there: candidate near-duplicates. Admission of a new batch is
then two broadcast probes + a batch-local cluster pass; the index is
only ever SCANNED, never shuffled:

1. **Cross-batch rejection** — a batch document sharing >= 1 band key
   with the index is a near-duplicate of an admitted document and is
   rejected. The probe broadcasts the batch's band keys against the
   index scan (semi-join), then maps colliding keys back to batch ids
   (both sides batch-bounded). With ``min_agreement`` the collision
   is VERIFIED before rejecting: colliding (batch msig, seen msig)
   pairs — volume bounded by collisions, not the index — keep only
   those agreeing on >= that fraction of the k minhash positions
   (the standard unbiased Jaccard estimate), the banded analogue of
   the batch operator's exact-Jaccard verification stage.
2. **Within-batch keeper** — survivors band-self-join (batch-sized)
   into candidate pairs and
   :func:`.graph.keep_cluster_representatives` keeps the minimum-id
   document per connected cluster — the SAME endgame as every batch
   near-dup modality, so one policy governs both paths.

Documents with zero shingles (short/NULL text) carry no bands and are
always admitted — identical to the batch operator, which excludes
them from banding rather than pairing every short doc with every
other.

Incremental-vs-batch semantics: admission is GREEDY — a document is
rejected only against already-ADMITTED documents, never against other
rejected ones. Batch connected-components over the same corpus can
differ on transitive chains split across batches (A~B, B~C, A!~C with
B arriving after both: batch CC keeps only A; greedy admits A and C —
B collides with either). On any single batch, or replayed identically,
the two coincide; the kill/resume tests pin set-equality between the
stream, an uninterrupted run, and a sequential greedy oracle.

Membership-rejection invariant (``min_agreement=None``): every band
key appears AT MOST ONCE in the index — a doc sharing a band with an
admitted doc is never admitted, and within a batch two survivors
sharing a band land in one cluster. Probe collision volume is
therefore bounded by the batch's own band count. With
``min_agreement`` set, low-agreement admitted docs may share a band
key, so a pathological boilerplate band can grow hot; the verify join
bounds the damage to (batch bands) x (bucket occupancy) rows, and the
same boilerplate is what upstream exact dedup exists to remove first.

Durability is the :mod:`.incremental_dedup` log, unchanged: immutable
``batch=<id>/`` parquet segments under the index root, published by
``_SUCCESS`` markers, bucket-clustered for row-group pruning, replay
overwrites its own segment, compaction rewrites to a fresh
``base-<n>`` before deleting inputs. Reference anchor: the latest-
event incremental semantics of the reference's section-58 processor
(``src/data_sources/section_58.py:342-354``) applied to the near-dup
admission problem.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import lazy_checkpoint
from .graph import keep_cluster_representatives
from .incremental_dedup import (
    _BATCH_PREFIX,
    committed_log_dirs,
    compact_segment_log,
)
from .text_dedup import (
    base_hashes,
    lsh_bands,
    minhash_signature_from_base,
    shingle_corpus,
)

BAND_SCHEMA = "band_id int, band_hash string, msig array<bigint>, bucket int"


def band_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    fast: bool = True,
    n_buckets: int = 256,
) -> DataFrame:
    """One row per (document, band): ``(id, band_id, band_hash, msig,
    bucket)`` — the same shingle/minhash/banding family as
    :func:`.text_dedup.candidates_from_shingled` (docs with zero
    shingles are excluded; their all-empty signatures must not bucket
    together). ``bucket`` clusters segment files for row-group
    pruning, as in :mod:`.incremental_dedup`."""
    rows = k // bands
    sig = (
        shingle_corpus(df, text_col, id_col, n)
        .filter(F.size("__sh") > 0)
        .select(F.col(id_col), base_hashes("__sh", fast).alias("__bh"))
        .select(
            F.col(id_col),
            minhash_signature_from_base("__bh", k).alias("msig"),
        )
    )
    return sig.select(
        id_col,
        "msig",
        F.posexplode(F.array(*lsh_bands("msig", bands, rows))).alias(
            "band_id", "band_hash"
        ),
    ).withColumn(
        # band_hash is an md5 hex string (text_dedup.lsh_bands); hash
        # it to derive the clustering bucket
        "bucket",
        F.pmod(F.xxhash64("band_hash"), F.lit(n_buckets)).cast("int"),
    )


def _sig_agreement(a, b, k: int):
    """Fraction of the k minhash positions two signatures agree on —
    the unbiased Jaccard estimate the banding is built from."""
    matches = F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda v: v))
    return matches.cast("double") / F.lit(float(k))


def _write_band_segment(rows_df: DataFrame, target: str, write_files: int) -> None:
    """Bucket-clustered segment write (the :mod:`.incremental_dedup`
    layout applied to band rows): tight per-row-group bucket ranges so
    probes' pushed ``In(bucket, ...)`` filters skip row groups."""
    (
        rows_df.select("band_id", "band_hash", "msig", "bucket")
        .distinct()
        .repartition(write_files, "bucket")
        .sortWithinPartitions("bucket")
        .write.mode("overwrite")
        .parquet(target)
    )


def read_band_index(spark: SparkSession, path: str) -> DataFrame:
    """All committed band rows; empty frame when no index exists."""
    dirs = committed_log_dirs(spark, path)
    if not dirs:
        return spark.createDataFrame([], BAND_SCHEMA)
    return spark.read.parquet(*dirs).select("band_id", "band_hash", "msig", "bucket")


def near_dedup_against_index(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    fast: bool = True,
    min_agreement: float | None = None,
    n_buckets: int = 256,
    batch_id: int | None = None,
    update: bool = True,
    write_files: int = 4,
) -> DataFrame:
    """Admit the rows of ``batch`` that are near-duplicates of neither
    an already-admitted document (band-index probe) nor a kept
    lower-id document in the batch itself (cluster keeper); optionally
    publish the admitted documents' band rows as a new ``batch=<id>``
    segment. Returns the admitted rows (original columns).

    **Contract: the batch must be broadcast-sized** (its band rows —
    ``bands`` per document — fit in executor memory), exactly as for
    :func:`.incremental_dedup.dedup_against_index`; the index side is
    only ever scanned. ``min_agreement`` (0..1] verifies band
    collisions against the minhash-estimated Jaccard before rejecting
    — ``None`` rejects on membership alone (one band in common), the
    coarser but hot-bucket-free mode (see module docstring).

    With ``batch_id``, the probe excludes the batch's own segment
    (replay-idempotent) and the publish overwrites it; without, the
    segment is numbered max+1 in arrival order. Compaction and
    concurrency posture are :func:`compact_band_index`'s.
    """
    if not 1 <= bands <= k:
        raise ValueError(f"need 1 <= bands <= k, got bands={bands} k={k}")
    if min_agreement is not None and not 0.0 < min_agreement <= 1.0:
        raise ValueError(f"min_agreement must be in (0, 1], got {min_agreement}")
    bnd = lazy_checkpoint(
        band_rows(
            batch, text_col, id_col, n=n, k=k, bands=bands, fast=fast,
            n_buckets=n_buckets,
        )
    )

    base = path.rstrip("/")
    dirs = committed_log_dirs(spark, base)
    own = f"{base}/{_BATCH_PREFIX}{batch_id}" if batch_id is not None else None
    probe_dirs = [d for d in dirs if d != own]

    if probe_dirs:
        seen = spark.read.parquet(*probe_dirs)
        touched = [
            r["bucket"] for r in bnd.select("bucket").distinct().collect()
        ]  # bounded: at most n_buckets ints
        if len(touched) < n_buckets:
            seen = seen.where(F.col("bucket").isin(touched))
        if min_agreement is None:
            keys = bnd.select("band_id", "band_hash").distinct()
            hit_keys = (
                seen.join(F.broadcast(keys), ["band_id", "band_hash"], "left_semi")
                .select("band_id", "band_hash")
                .distinct()
            )
            rejected = (
                bnd.join(F.broadcast(hit_keys), ["band_id", "band_hash"], "inner")
                .select(id_col)
                .distinct()
            )
        else:
            cand = seen.withColumnRenamed("msig", "__seen_sig").join(
                F.broadcast(bnd), ["band_id", "band_hash"], "inner"
            )
            rejected = (
                cand.where(
                    _sig_agreement(F.col("msig"), F.col("__seen_sig"), k)
                    >= F.lit(min_agreement)
                )
                .select(id_col)
                .distinct()
            )
        survivors_bnd = bnd.join(F.broadcast(rejected), id_col, "left_anti")
        kept_rows = batch.join(F.broadcast(rejected), id_col, "left_anti")
    else:
        survivors_bnd = bnd
        kept_rows = batch

    # within-batch: band-colliding survivor pairs -> shared cluster
    # keeper (min id per component). Batch-sized self-join; CC's auto
    # gate solves it driver-side.
    a = survivors_bnd.select(
        F.col(id_col).alias("id_a"), "band_id", "band_hash",
        F.col("msig").alias("__sa"),
    )
    b = survivors_bnd.select(
        F.col(id_col).alias("id_b"), "band_id", "band_hash",
        F.col("msig").alias("__sb"),
    )
    pairs = a.join(b, ["band_id", "band_hash"]).filter(F.col("id_a") < F.col("id_b"))
    if min_agreement is not None:
        pairs = pairs.where(
            _sig_agreement(F.col("__sa"), F.col("__sb"), k) >= F.lit(min_agreement)
        )
    pairs = pairs.select("id_a", "id_b").distinct()
    fresh = keep_cluster_representatives(kept_rows, pairs, id_col)

    if update:
        if batch_id is None:
            nums = [
                int(d.rsplit(_BATCH_PREFIX, 1)[1])
                for d in dirs
                if _BATCH_PREFIX in d.rsplit("/", 1)[1]
            ]
            batch_id = (max(nums) + 1) if nums else 1
        fresh = lazy_checkpoint(fresh)
        # reuse the batch's already-computed band rows for the publish
        # (a semi-join on admitted ids) instead of re-shingling the
        # admitted text like the output-derived streaming publish must
        admitted_bands = bnd.join(
            F.broadcast(fresh.select(id_col)), id_col, "left_semi"
        )
        _write_band_segment(
            admitted_bands, f"{base}/{_BATCH_PREFIX}{batch_id}", write_files
        )
    return fresh


def publish_band_rows(
    df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    batch_id: int,
    *,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    fast: bool = True,
    n_buckets: int = 256,
    write_files: int = 4,
) -> None:
    """Publish the band rows of ``df``'s documents as the index's
    ``batch=<id>`` segment (overwrite — replay-idempotent). The
    streaming wrapper derives the index from COMMITTED OUTPUT with
    this, so a torn index write is repairable from the output."""
    _write_band_segment(
        band_rows(
            df, text_col, id_col, n=n, k=k, bands=bands, fast=fast,
            n_buckets=n_buckets,
        ),
        f"{path.rstrip('/')}/{_BATCH_PREFIX}{batch_id}",
        write_files,
    )


def compact_band_index(spark: SparkSession, path: str) -> int:
    """Rewrite the band-index log as one deduped ``base-<n>`` segment,
    then drop the absorbed segments; returns the distinct band-row
    count. Identical protocol, crash argument, and concurrency posture
    as :func:`.incremental_dedup.compact_seen_index` (publish under a
    FRESH name before deleting inputs; run only while no admission —
    streaming or batch — is in flight on this index)."""
    return compact_segment_log(
        spark, path, lambda df, target: _write_band_segment(df, target, write_files=4)
    )
