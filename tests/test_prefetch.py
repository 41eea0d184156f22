"""Round-16: background prefetch of lazy reuse checkpoints.

The prefetch is an execution-ORDER change only — these tests pin that
values are identical with prefetch on and off (kill switch), and
that drain joins all in-flight materializations.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from open_data_pipelines_spark import caching
from open_data_pipelines_spark.caching import drain_prefetch, lazy_checkpoint


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
