"""The status-store reader and the tools built on it, on the shared
session (UI off): executed-shuffle counting by job group, skipped
stages, the stress tool's task spread and the profiler's timeline."""

from __future__ import annotations

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from open_data_pipelines_spark import metrics


def _run(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return action()
    finally:
        sc._jsc.clearJobGroup()


def test_shuffle_stages_run_by_group(spark):
    df = spark.range(1000).groupBy((F.col("id") % 7).alias("g")).count()
    _run(spark, "metrics.agg", df.collect)
    assert metrics.shuffle_stages_run(spark, "metrics.agg") == 1

    # a second action reuses the written shuffle: its map stage is
    # SKIPPED and the count does not move
    before = {j.id for j in metrics.jobs(spark, "metrics.agg")}
    _run(spark, "metrics.agg", df.collect)
    second = [j for j in metrics.jobs(spark, "metrics.agg") if j.id not in before]
    statuses = [st.status for st in metrics.stages(spark, second).values()]
    assert "SKIPPED" in statuses
    assert metrics.shuffle_stages_run(spark, "metrics.agg") == 1

    # a job outside the group is not counted
    spark.range(1000).groupBy((F.col("id") % 5).alias("g")).count().collect()
    assert metrics.shuffle_stages_run(spark, "metrics.agg") == 1


def test_missing_stage_raises(spark):
    job = metrics.Job(id=-1, description=None, submitted_ms=None, completed_ms=None, stage_ids=(10**9,))
    with pytest.raises(metrics.StoreGap):
        metrics.stages(spark, [job])


def test_task_spread_reports_worst_stages(spark):
    from tools.stress import _task_spread

    df = spark.range(4000).groupBy((F.col("id") % 3).alias("k")).agg(F.sum("id"))
    _run(spark, "metrics.spread", df.collect)
    out = _task_spread(spark, "metrics.spread")
    for key in ("worst_by_max", "worst_by_skew"):
        assert out[key]["n_tasks"] > 0
        assert out[key]["max_ms"] >= out[key]["median_ms"]


def test_profile_pass_prints_one_line_per_job(spark, capsys):
    import __spark_entry__ as e
    from tools.profile_query import profile_pass

    profile_pass(spark, e.queries()["group_sum"], SF_SMOKE, "metrics.profile")
    lines = capsys.readouterr().out.splitlines()
    assert lines[0].startswith("== metrics.profile: construct")
    job_lines = [ln for ln in lines if ln.startswith("  job ")]
    jobs = metrics.jobs(spark, "metrics.profile")
    assert len(jobs) > 0
    assert len(job_lines) == len(jobs)
    assert lines[-1].startswith("  TOTAL job")
