"""Incremental perceptual-media near-dup admission against a persisted
Hamming band index (engine extension; the multimodal twin of
:mod:`.minhash_index` — round 11 completes the incremental-admission
family: exact text -> near-dup text -> near-dup media).

Batch media near-dup (:mod:`..plans.media_prep`) re-bands every
accumulated signature per run. The incremental form persists, for
every ADMITTED media row, the ``n_bands`` Hamming bands of its 64-bit
perceptual signature (aHash / energy-delta / frame-majority —
whatever :func:`..streaming.media_stream.with_media_signature`
computed) keyed by ``kind``, in the same ``_SUCCESS``-published
append-only segment log as the text indexes. Admitting a batch:

1. **Cross-batch rejection** — batch band rows broadcast against the
   index scan on ``(kind, band_id, band_value)``; colliding
   candidates are VERIFIED by exact Hamming distance between the two
   64-bit signatures (``bit_count(xor)``, one expression) and
   rejected at ``<= max_hamming`` — media verification is exact and
   cheap, so there is no unverified membership mode here.
   Pigeonhole soundness is the same as
   :func:`.image_dedup.image_near_dup_pairs`: two signatures within
   distance ``d < 64/band_bits`` ALWAYS share a band, so with the
   defaults no true near-duplicate under the threshold can slip the
   probe.
2. **Within-batch keeper** — per-kind banded survivor pairs under the
   same Hamming threshold, then the shared
   :func:`.graph.keep_cluster_representatives` minimum-id keeper.

Rows with a NULL signature (undecodable media — the quarantine
policy) carry no bands and are always admitted, exactly like the
batch funnel's quarantine re-union and the text index's shingle-less
shorts.

**Contract: the batch must be broadcast-sized** (``n_bands`` rows per
media item fit in executor memory); the index side is only ever
scanned, bucket-pruned by the pushed ``In(bucket, ...)`` filter.
Durability, replay idempotence (``batch=<id>`` own-segment
exclusion + overwrite), compaction protocol and its concurrency
posture are all :mod:`.incremental_dedup`'s, shared via
:func:`.incremental_dedup.compact_segment_log`.
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
    write_segment,
)

MEDIA_BAND_SCHEMA = (
    "kind string, band_id int, band_value long, signature long, bucket int"
)
MEDIA_BAND_COLS = ("kind", "band_id", "band_value", "signature", "bucket")


def media_band_rows(
    df: DataFrame,
    sig_col: str,
    id_col: str,
    kind_col: str,
    *,
    band_bits: int = 8,
    n_buckets: int = 256,
) -> DataFrame:
    """One row per (media item, band): ``(id, kind, signature,
    band_id, band_value, bucket)`` from the 64-bit perceptual
    signature — THE SAME band layout as the batch pair generator
    (shared :func:`.image_dedup.hamming_bands`; one definition, so the
    batch and incremental paths can never band differently).
    NULL-signature rows are excluded (quarantine: no perceptual
    evidence, always admitted). A NULL ``kind`` with a real signature
    coalesces to the ``'<null-kind>'`` sentinel so such rows dedup
    within their own cohort — a raw NULL never matches itself in the
    equi-joins, so byte-identical signatures would BOTH be admitted
    while their dead band rows accumulated forever (the
    content_signature '<null-key>' rule)."""
    from .image_dedup import hamming_bands

    sig = F.col(sig_col).cast("long")
    return (
        df.filter(F.col(sig_col).isNotNull())
        .select(
            F.col(id_col),
            F.coalesce(F.col(kind_col).cast("string"), F.lit("<null-kind>")).alias(
                "kind"
            ),
            sig.alias("signature"),
            F.posexplode(hamming_bands(sig, band_bits)).alias(
                "band_id", "band_value"
            ),
        )
        .withColumn(
            "bucket",
            F.pmod(F.xxhash64("kind", "band_value"), F.lit(n_buckets)).cast("int"),
        )
    )


def read_media_band_index(spark: SparkSession, path: str) -> DataFrame:
    dirs = committed_log_dirs(spark, path)
    if not dirs:
        return spark.createDataFrame([], MEDIA_BAND_SCHEMA)
    return spark.read.parquet(*dirs).select(*MEDIA_BAND_COLS)


def near_dedup_media_against_index(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    sig_col: str,
    id_col: str,
    kind_col: str,
    *,
    band_bits: int = 8,
    max_hamming: int = 6,
    n_buckets: int = 256,
    batch_id: int | None = None,
    update: bool = True,
) -> DataFrame:
    """Admit the rows of ``batch`` whose perceptual signature is
    within ``max_hamming`` of neither an admitted item of the same
    kind (index probe, exact-Hamming-verified) nor a kept lower-id
    item in the batch (per-kind cluster keeper); optionally publish
    the admitted rows' band rows as the ``batch=<id>`` segment.
    Returns the admitted rows (original columns; NULL-signature
    quarantine rows always pass). See the module docstring for the
    broadcast-sized-batch contract and pigeonhole guarantee.

    ``max_hamming`` defaults to 6 — the SAME threshold as the batch
    media funnel (``image_near_dup_pairs``/``media_prep``), so
    migrating from batch compaction to online admission does not
    silently weaken the dedup standard."""
    from .image_dedup import require_pigeonhole

    require_pigeonhole(max_hamming, band_bits)
    bnd = lazy_checkpoint(
        media_band_rows(
            batch, sig_col, id_col, kind_col,
            band_bits=band_bits, n_buckets=n_buckets,
        )
    )

    base = path.rstrip("/")
    dirs = committed_log_dirs(spark, base)
    own = f"{base}/{_BATCH_PREFIX}{batch_id}" if batch_id is not None else None
    probe_dirs = [d for d in dirs if d != own]

    if probe_dirs:
        seen = spark.read.parquet(*probe_dirs)
        touched = [r["bucket"] for r in bnd.select("bucket").distinct().collect()]
        if len(touched) < n_buckets:
            seen = seen.where(F.col("bucket").isin(touched))
        cand = seen.withColumnRenamed("signature", "__seen_sig").join(
            F.broadcast(bnd), ["kind", "band_id", "band_value"], "inner"
        )
        rejected = (
            cand.where(
                F.bit_count(
                    F.col("signature").bitwiseXOR(F.col("__seen_sig"))
                )
                <= max_hamming
            )
            .select(id_col)
            .distinct()
        )
        survivors_bnd = bnd.join(F.broadcast(rejected), id_col, "left_anti")
        kept_rows = batch.join(F.broadcast(rejected), id_col, "left_anti")
    else:
        survivors_bnd = bnd
        kept_rows = batch

    a = survivors_bnd.select(
        F.col(id_col).alias("id_a"), "kind", "band_id", "band_value",
        F.col("signature").alias("__sa"),
    )
    b = survivors_bnd.select(
        F.col(id_col).alias("id_b"), "kind", "band_id", "band_value",
        F.col("signature").alias("__sb"),
    )
    pairs = (
        a.join(b, ["kind", "band_id", "band_value"])
        .filter(F.col("id_a") < F.col("id_b"))
        .where(F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))) <= max_hamming)
        .select("id_a", "id_b")
        .distinct()
    )
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
        admitted_bands = bnd.join(
            F.broadcast(fresh.select(id_col)), id_col, "left_semi"
        )
        write_segment(
            admitted_bands, f"{base}/{_BATCH_PREFIX}{batch_id}", MEDIA_BAND_COLS
        )
    return fresh


def publish_media_band_rows(
    df: DataFrame,
    path: str,
    sig_col: str,
    id_col: str,
    kind_col: str,
    batch_id: int,
    *,
    band_bits: int = 8,
    n_buckets: int = 256,
) -> None:
    """Publish the band rows of ``df``'s media items as the index's
    ``batch=<id>`` segment (overwrite — replay-idempotent; the
    streaming wrapper derives the index from COMMITTED output)."""
    write_segment(
        media_band_rows(
            df, sig_col, id_col, kind_col,
            band_bits=band_bits, n_buckets=n_buckets,
        ),
        f"{path.rstrip('/')}/{_BATCH_PREFIX}{batch_id}",
        MEDIA_BAND_COLS,
    )


def compact_media_band_index(spark: SparkSession, path: str) -> int:
    """Same protocol, crash argument, and concurrency posture as
    :func:`.incremental_dedup.compact_seen_index` (shared
    :func:`.incremental_dedup.compact_segment_log`)."""
    return compact_segment_log(spark, path, MEDIA_BAND_COLS)
