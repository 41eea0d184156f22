"""The repo's ONE internal-reuse caching primitive.

Operators and plans that consume an expensive subtree more than once
cache it with a LAZY ``localCheckpoint`` — materialized on first use,
blocks reclaimed by the ContextCleaner when the result frame is
garbage-collected — never a bare internal ``.persist()`` whose handle
the caller can't release (the unreclaimable-cache pattern review
rounds flag). Trade-off, documented once here: checkpoint blocks are
unreplicated, so losing an executor fails the job fast instead of
silently recomputing — acceptable for derived reuse caches, and the
REQUIRED failure mode for key generation (see
``operators/scd2.with_surrogate_keys_scaled``, which stays on a raw
eager checkpoint precisely because its checkpoint is load-bearing for
correctness, not a reuse cache).

Two sanctioned ``persist()`` shapes remain, neither an internal reuse
cache: (a) a persist that is released in the SAME function (``try/
finally unpersist`` — e.g. the training-pair scratch frames in
``operators/lm_score.train_ngram_lm`` and ``operators/pq.train_pq``),
and (b) a persist ON THE RETURNED FRAME under a documented caller-owned
unpersist contract (``plans/media_prep.prepare_media_corpus`` — the
handle is the caller's to release, which is exactly what an internal
persist denies them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Segment-audit collector (tools/explain_audit.py). A checkpoint
# truncates lineage to ``Scan ExistingRDD``, hiding its subtree's
# exchanges, pushed filters and scan widths from the top plan. While
# a collector is active, every lazy_checkpoint records its input's
# compiled physical plan text BEFORE truncation. Checkpoint
# boundaries partition the full plan — each segment's own inputs are
# already truncated — so sum(segment exchanges) + the top-plan
# exchanges is an upper bound on the exchanges the production run can
# plan, from the one production-shape compile. (A subtree reused
# WITHOUT a checkpoint re-embeds into several segments and counts
# once per appearance — hence upper bound.)
_segment_collector: list | None = None


class collect_checkpoint_segments:
    """Context manager audit hook (tools/explain_audit.py): yields a
    list that accumulates one compiled-plan string per
    ``lazy_checkpoint`` reached while active."""

    def __enter__(self) -> list:
        global _segment_collector
        self._prev = _segment_collector
        _segment_collector = []
        return _segment_collector

    def __exit__(self, *exc) -> None:
        global _segment_collector
        _segment_collector = self._prev


def drain_prefetch() -> None:
    """No-op, kept only because ``perfbench/workloads.py`` imports and
    calls it. No checkpoint is materialized in the background, so there
    is nothing to wait for."""


def lazy_checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """Local checkpoint per the repo convention, lazy by default.

    ``eager=True`` exists for ONE reason: ``df.observe`` metrics in
    the checkpointed subtree. Measured rule (probed on this Spark
    version, regression-pinned by
    ``tests/test_corpus_prep.py::test_observe_audit_with_perplexity_stage``):
    an observation UNDER a lazy checkpoint is fulfilled with 0 unless
    a shuffle sits between the observed node and the checkpoint; an
    EAGER checkpoint's own materialization action always fulfills it
    with the true counts. Plans that attach observations below a reuse
    checkpoint (the corpus funnel's observe-stats mode) must pass
    ``eager=True`` — relying on an intervening shuffle is correct
    today but silently breaks if the operator between them stops
    shuffling. Everything else stays lazy: building a checkpointed
    query runs no Spark job, and the checkpoint is materialized by its
    first consumer's job, on the caller's thread."""
    if _segment_collector is not None:
        _segment_collector.append(
            df._jdf.queryExecution().executedPlan().toString()
        )
    return df.localCheckpoint(eager=eager)
