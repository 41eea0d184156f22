"""Shuffle columns of the explain audit.

The audit compiles each query once in production shape and brackets
its shuffles by plan text: ``ckpt`` (top plan, checkpointed subtrees
truncated — lower bound) and ``Σ`` (top plan + every reuse
checkpoint's pre-truncation segment — upper bound). The ``executed``
reading counts shuffle-map stages that actually ran, from the status
store. For substring_dedup — a canonical checkpoint-reusing query,
where AQE does not elide exchanges — run lies inside the bracket, and
the total scope (build + run) captures the shuffles that internal
materializations execute outside any plan text. (Queries where AQE
elides a planned exchange at runtime legitimately land run BELOW
ckpt — minmax_norm/impact_score in the committed audit — which is the
measurement replacing plan-text guesses, not a bug.)

The executed counter reads the in-process status store
(``open_data_pipelines_spark.metrics``), which Spark fills with the UI
off, so the audit runs on the shared test session.
"""

from __future__ import annotations

from conftest import SF_SMOKE


def test_executed_shuffles_lie_inside_bracket(spark):
    # substring_dedup is a canonical checkpoint-reusing query: its
    # wins aggregation executes once under lazy_checkpoint while the
    # top plan hides it behind the checkpoint.
    import __spark_entry__ as e
    from tools.explain_audit import audit_query

    r = audit_query(spark, e.queries()["substring_dedup"], SF_SMOKE, "substring_dedup")
    sigma, ckpt = r["shuffles"], r["ckpt_shuffles"]
    run, total = r["executed_shuffles"], r["executed_total_shuffles"]
    # the bracket is built from real reuse-checkpoint segments
    assert r["segments"] >= 1
    # the bracket brackets: lower <= executed(run) <= upper
    assert ckpt <= run <= sigma, (ckpt, run, sigma)
    # build-phase materializations (the staging checkpoint) execute
    # real shuffles on top of the final action's
    assert total > run


def test_segment_collector_records_subtree_plans(spark):
    from pyspark.sql import functions as F

    from open_data_pipelines_spark.caching import (
        collect_checkpoint_segments,
        lazy_checkpoint,
    )

    df = spark.range(100).groupBy((F.col("id") % 5).alias("g")).count()
    with collect_checkpoint_segments() as segs:
        out = lazy_checkpoint(df)
        out.count()
    assert len(segs) == 1
    # the recorded text is the PRE-truncation subtree: its exchange
    # is visible even though the checkpointed frame hides it
    assert "Exchange" in segs[0]
    # collector deactivates on exit
    from open_data_pipelines_spark import caching

    assert caching._segment_collector is None
