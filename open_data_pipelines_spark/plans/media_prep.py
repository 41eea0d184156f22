"""End-to-end multimodal corpus preparation (engine extension): the
media-side composition of the dedup/quarantine/manifest machinery —
what :mod:`.corpus_prep` is to the documents table, this is to a
media frame (``media_id``, ``content`` binary + optional metadata), or
to the streaming bronze :mod:`..streaming.media_stream` lands.

Stage order mirrors the text funnel's discipline, adapted to media:

1. **signature** — skipped when ``kind``/``signature`` columns already
   exist (the streaming bronze computed them ON ARRIVAL; this pipeline
   never re-decodes pixels it already paid for). Otherwise one
   Arrow-batched :func:`..streaming.media_stream.with_media_signature`
   pass.
2. **quarantine split** — undecodable rows (NULL signature) carry no
   duplication evidence; they are set aside and (by default) re-joined
   to the output, mirroring the per-kind dedup operators' keep policy.
3. **exact dedup FIRST** — one representative (min id) per
   (kind, signature): collapses byte-identical re-uploads and
   PCM-identical re-encodes in one hash shuffle before any banding.
4. **near-dup within kind** — Hamming-banded candidate pairs over the
   already-computed signatures, PER KIND (an image aHash and an audio
   fingerprint must never band together), then the shared
   cluster-minimum endgame. Only 8-byte signatures shuffle.
5. **manifest** (opt-in) — the same content-signature release record
   as the text funnel (:mod:`.manifest`).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..caching import lazy_checkpoint
from ..operators.dedup import top1_per_key
from ..operators.graph import keep_cluster_representatives
from ..operators.image_dedup import image_near_dup_pairs
from ..streaming.media_stream import with_media_signature


def prepare_media_corpus(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    max_hamming: int = 6,
    decoder: Callable[[bytes], dict] | None = None,
    keep_undecodable: bool = True,
    manifest_path: str | None = None,
    with_stats: bool = False,
    stats_via: str = "observe",
    checkpoint_input: bool | None = None,
) -> DataFrame | tuple[DataFrame, dict[str, int]]:
    """media frame -> perceptually deduplicated corpus (one
    representative per near-dup cluster per kind), with the funnel
    counts and release manifest the text pipeline offers.

    ``with_stats=True`` returns ``(out, stats)``. The default
    ``stats_via="observe"`` harvests every stage count from the ONE
    pipeline execution (the text funnel's observation pattern,
    ``corpus_prep``): observations ride the plan, the returned frame
    is counted once, and ``Observation.get`` reads the metrics without
    re-running the banding joins. ``stats_via="count"`` is the debug
    mode: one action per stage, each re-executing its upstream.

    Lifetime contract (uniform across every flag combination): the
    returned frame is ALWAYS persisted — lazily, so when no internal
    action runs below the cache simply fills on the caller's first
    action — and the caller owns exactly one ``.unpersist()`` when
    done. That unpersist is MANDATORY, not hygiene: a SQL ``persist``
    registers in the CacheManager, which holds a strong reference, so
    a dropped handle pins the cached output (including raw ``content``
    bytes) for the session lifetime — the ContextCleaner does NOT
    reclaim it (unlike the GC-reclaimed localCheckpoint blocks of the
    internal reuse caches). Callers that stream the result straight to
    a sink should unpersist immediately after their action.

    The signed frame and the exact-dedup survivors are lazily
    local-checkpointed (repo caching convention): both are consumed by
    several subtrees (quarantine split, the kind-keyed pair build,
    the survivors side, the manifest signature), and for
    raw-content input the checkpoint guarantees the Arrow-batched
    decode runs ONCE — blocks are reclaimed when the result frame is
    GC'd, no ``clearCache()`` obligation leaks to the caller.

    ``checkpoint_input`` controls the INPUT-frame checkpoint.
    ``None`` (default) is the auto policy: checkpoint raw-content
    input (protects the decode), skip it for bronze-signed input
    (nothing to protect; the full-frame write cost ~30% of the sf0.1
    funnel wall). **The bronze skip assumes deterministic input
    lineage**: the decodable/quarantine split evaluates the input in
    two separate jobs, and only identical re-evaluations guarantee
    ``output ∪ quarantine == input`` — a bronze frame whose lineage
    contains ``rand()``/``uuid()``/``current_timestamp`` or
    shuffle-order-dependent values must pass ``True`` to freeze one
    materialization. ``False`` force-skips even for raw content (the
    caller accepts a double decode AND takes over the determinism
    guarantee).
    """
    if stats_via not in ("count", "observe"):
        raise ValueError(f"unknown stats_via {stats_via!r}")
    stats: dict[str, int] = {}
    observations: dict[str, "Observation"] = {}

    def note(name: str, frame: DataFrame) -> DataFrame:
        if not with_stats:
            return frame
        if stats_via == "observe":
            obs = Observation(f"media_{name}")
            observations[name] = obs
            return frame.observe(obs, F.count(F.lit(1)).alias("rows"))
        stats[name] = frame.count()
        return frame

    have = {"signature", "kind"} & set(df.columns)
    if not have:
        # raw content: the checkpoint below guarantees the
        # Arrow-batched decode executes ONCE across the funnel's
        # consumers — the whole reason it exists
        df = with_media_signature(df, content_col, decoder=decoder)
        if checkpoint_input is not False:
            df = lazy_checkpoint(df)
    elif have != {"signature", "kind"}:
        # exactly one of the pair: re-signing would append a duplicate
        # column and every downstream reference would be ambiguous —
        # fail loud instead of guessing which half is authoritative
        missing = ({"signature", "kind"} - have).pop()
        raise ValueError(
            f"media frame has {have.pop()!r} but not {missing!r} — "
            "drop the partial column or provide both"
        )
    elif checkpoint_input:
        # bronze-signed input with NONDETERMINISTIC lineage: the
        # decodable/quarantine split below filters the input TWICE
        # (the exact-dedup subtree vs the quarantine branch — separate
        # evaluations even inside one job, and separate jobs in
        # observe mode); without freezing one materialization a row could
        # land in both or neither branch. Pass checkpoint_input=True to
        # restore the frozen split for such input.
        df = lazy_checkpoint(df)
    # else: bronze-signed deterministic input (the streaming-bronze
    # parquet form) — no decode to protect, and a full-frame checkpoint
    # write costs more than the two cheap pruned re-scans its consumers
    # would otherwise pay (~30% of the sf0.1 funnel wall, round-9
    # measurement). The skip REQUIRES deterministic input lineage: the
    # split invariant (output ∪ quarantine == input) is only guaranteed
    # when both filter evaluations see identical rows — see the
    # docstring and checkpoint_input above.
    # observe ABOVE any checkpoint: checkpoint materialization runs as
    # an RDD job that bypasses SQL observed-metrics (corpus_prep note)
    df = note("input", df)

    decodable = df.filter(F.col("signature").isNotNull())
    quarantine_raw = df.filter(F.col("signature").isNull())
    if with_stats and stats_via == "observe" and not keep_undecodable:
        # the quarantine branch never reaches the output plan, so an
        # observation on it would dangle (and .get would block): count
        # the NULL signatures on the input frame instead, inside the
        # same single execution
        obs = Observation("media_quarantined")
        observations["quarantined"] = obs
        decodable = df.observe(
            obs,
            F.sum(
                F.when(F.col("signature").isNull(), 1).otherwise(0)
            ).alias("rows"),
        ).filter(F.col("signature").isNotNull())
        quarantine = None  # drop policy: the branch never reaches the output
    else:
        quarantine = note("quarantined", quarantine_raw)

    exact = top1_per_key(
        decodable, ["kind", "signature"], [F.col(id_col).asc()]
    )
    # eager in observe mode (caching.lazy_checkpoint's measured rule):
    # the input/quarantined observations sit below this checkpoint and
    # are fulfilled by a LAZY one only because top1_per_key happens to
    # shuffle — an eager materialization always fulfills them
    exact = lazy_checkpoint(exact, eager=with_stats and stats_via == "observe")
    # Re-fan after the checkpoint (round-15, the corpus_prep endgame
    # pattern): the checkpoint freezes the AQE-finalized partitioning
    # of its segment, and on a small frame AQE coalesces the dedup
    # exchange to one partition — the banding join, the cluster
    # endgame and the survivors anti-join then all ran single-task
    # (~1.6 s of 1-task stages in the round-15 event log). scale_out
    # probes the frozen width and no-ops on wide (production) input.
    from ..operators.text_dedup import scale_out

    exact = scale_out(exact, id_col)
    # the observation rides ONLY the survivors side (the anti-join's
    # left input sees every exact row, so the count is identical):
    # attaching it to the frame the pair build reads would duplicate
    # the CollectMetrics node into both sides of the band self-join,
    # and a duplicated named metrics node leaves the observation
    # unfulfilled (measured on the round-15 kind-keyed join rewrite —
    # Observation.get raised on an empty row)
    noted_exact = note("exact_deduped", exact)

    # ONE kind-keyed banding join (round 15): previously a driver-side
    # kinds collect (an extra construction-time job materializing the
    # whole exact-dedup prefix) fanned into one join per kind plus a
    # union — per-group plan duplication for identical algebra. The
    # `within=("kind",)` key folds the group into the band equi-join:
    # rows only pair inside their kind, exactly as the loop produced,
    # with no group enumeration on the driver (and no assumption the
    # kind cardinality is small — the 100 TB-safe form).
    sub = exact.filter(
        F.col("kind").isNotNull() & (F.col("kind") != "")
    ).select(id_col, "kind", F.col("signature").alias("__h"))
    pairs = image_near_dup_pairs(
        sub, id_col, hash_col="__h", max_hamming=max_hamming, within=("kind",)
    ).select("id_a", "id_b")
    out = keep_cluster_representatives(noted_exact, pairs, id_col)
    out = note("near_deduped", out)

    if keep_undecodable:
        out = out.unionByName(quarantine)
    out = note("output", out)

    # the ONE persist of the lifetime contract above: internal actions
    # (observe harvest, manifest signature) and the caller's own action
    # all reuse this single execution of the banding joins + CC endgame
    out = out.persist()

    if with_stats and stats_via == "observe":
        # ONE action fills every remaining observation (the eager
        # exact checkpoint's materialization already fulfilled the
        # ones upstream of it)
        out.count()
        stats.update(
            {name: int(obs.get["rows"] or 0) for name, obs in observations.items()}
        )

    if manifest_path is not None:
        from .manifest import write_corpus_manifest

        # sign metadata + signatures, NOT the raw bytes: re-hashing
        # every blob would re-shuffle content; (id, kind, signature)
        # is already a content-derived identity per row
        write_corpus_manifest(
            manifest_path,
            out.select(id_col, "kind", "signature"),
            config={
                "max_hamming": max_hamming,
                "keep_undecodable": keep_undecodable,
            },
            stats=stats or None,
        )

    return (out, stats) if with_stats else out
