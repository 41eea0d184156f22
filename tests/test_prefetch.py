"""Round-16: background prefetch of lazy reuse checkpoints.

The prefetch is an execution-ORDER change only — these tests pin that
values are identical with prefetch on and off (kill switch), and
that drain joins all in-flight materializations. Its jobs carry the
submitter's job group, and a failed prefetch is counted while the
consumer raises as it would without prefetch.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from open_data_pipelines_spark import caching
from open_data_pipelines_spark.caching import drain_prefetch, lazy_checkpoint

from conftest import SF_SMOKE


def _frame(spark):
    return spark.range(0, 2000).select(
        F.col("id"),
        (F.col("id") % 7).alias("k"),
        F.md5(F.col("id").cast("string")).alias("h"),
    )


def test_prefetch_values_identical(spark):
    base = sorted(lazy_checkpoint(_frame(spark)).collect())
    pre = lazy_checkpoint(_frame(spark), prefetch=True)
    drain_prefetch()
    assert sorted(pre.collect()) == base


def test_prefetch_kill_switch(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_NO_CKPT_PREFETCH", "1")
    before = caching._prefetch_queue.qsize() if caching._prefetch_queue else 0
    out = lazy_checkpoint(_frame(spark), prefetch=True)
    after = caching._prefetch_queue.qsize() if caching._prefetch_queue else 0
    assert after == before  # nothing enqueued
    assert out.count() == 2000


def test_drain_prefetch_joins_inflight(spark):
    # enqueue several; drain must block until the queue is fully
    # processed (task_done accounting), after which a fresh drain is
    # an immediate no-op
    for _ in range(3):
        lazy_checkpoint(_frame(spark), prefetch=True)
    drain_prefetch()
    assert caching._prefetch_queue.unfinished_tasks == 0
    drain_prefetch()  # idempotent


def test_prefetched_chain_matches_unprefetched(spark):
    # a dependent two-segment chain (the minhash shape): seg2 reads
    # seg1's checkpoint; prefetch order == construction order
    def chain(prefetch):
        s1 = lazy_checkpoint(_frame(spark), prefetch=prefetch)
        s2 = lazy_checkpoint(
            s1.groupBy("k").agg(F.count(F.lit(1)).alias("n")), prefetch=prefetch
        )
        return sorted(s2.collect())

    want = chain(False)
    got = chain(True)
    drain_prefetch()
    assert got == want


def _clear_job_group(sc) -> None:
    for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


def _jobs_of_group(spark, group: str) -> list:
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the status store fills asynchronously
    jobs = jsc.statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobGroup().isDefined() and job.jobGroup().get() == group:
            out.append(job)
    return out


def test_prefetch_job_carries_submitter_job_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("prefetch-label", "labelled query")
    try:
        lazy_checkpoint(_frame(spark), prefetch=True)
        drain_prefetch()
    finally:
        _clear_job_group(sc)
    jobs = _jobs_of_group(spark, "prefetch-label")
    assert jobs, "the prefetch job ran outside the submitter's job group"
    assert {j.description().get() for j in jobs} == {"labelled query: ckpt-prefetch"}


def _failing_frame(spark):
    return spark.range(0, 2000).select(
        F.when(F.col("id") == 1500, F.raise_error(F.lit("planted failure")))
        .otherwise(F.col("id"))
        .alias("id")
    )


def _raised(action):
    with pytest.raises(Exception, match="planted failure") as info:
        action()
    return type(info.value), info.value.getCondition()


def test_failed_prefetch_is_counted_and_consumer_raises_as_without(spark):
    want = _raised(lazy_checkpoint(_failing_frame(spark)).collect)
    before = caching.prefetch_failures()
    out = lazy_checkpoint(_failing_frame(spark), prefetch=True)
    drain_prefetch()
    assert caching.prefetch_failures() == before + 1
    assert _raised(out.collect) == want


def test_lm_train_and_filter_prefetch_without_failures(spark):
    from open_data_pipelines_spark.operators.lm_score import perplexity_filter, train_ngram_lm
    from open_data_pipelines_spark.session import load_tables

    before = caching.prefetch_failures()
    docs = load_tables(spark, SF_SMOKE, register_views=False)["documents"]
    lm = train_ngram_lm(docs.filter(F.col("doc_id") % 10 == 0), "text")
    kept = perplexity_filter(docs, "text", "doc_id", lm, max_perplexity=10_000.0)
    assert kept.count() > 0
    drain_prefetch()
    assert caching.prefetch_failures() == before
