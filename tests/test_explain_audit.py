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

Runs the tool as a subprocess because the executed counter needs
`spark.ui.enabled=true` (a static conf the shared test session pins
off) — one JVM start on the tiny sf0.001 data.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_executed_shuffles_lie_inside_bracket():
    # substring_dedup is a canonical checkpoint-reusing query: its
    # wins aggregation executes once under lazy_checkpoint while the
    # top plan hides it behind the checkpoint.
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "explain_audit.py"),
            "/root/testdata/sf0.001",
            "--only=substring_dedup",
            "--json",
        ],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rows = [json.loads(line) for line in proc.stdout.splitlines() if line.startswith("{")]
    assert len(rows) == 1 and rows[0]["query"] == "substring_dedup"
    r = rows[0]
    assert "error" not in r, r
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
