"""Hinted joins stay broadcast whatever the planner's size estimate.

Each operator below broadcasts one small side by hint. Planned with
Spark's size-based broadcast off (``plan_without_auto_broadcast``),
the hinted join must still be a ``BroadcastHashJoin``; without the
hint it would plan as a sort-merge join. The contamination and
incremental-dedup hints are pinned in their own modules' plan tests.
"""

from __future__ import annotations

import re

import pytest

from open_data_pipelines_spark.operators import boilerplate
from open_data_pipelines_spark.operators.contamination import decontaminate_semantic
from open_data_pipelines_spark.operators.paragraph_dedup import paragraph_keep_flags
from open_data_pipelines_spark.operators.retraction import retract_documents

from conftest import plan_without_auto_broadcast


def _strategies(plan: str, join_type: str) -> list[str]:
    """The physical join operator of every ``join_type`` join in the plan."""
    return re.findall(r"(\w+Join) \[[^\]]*\], \[[^\]]*\], " + join_type + r"\b", plan)


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "Accept cookies\n\nalpha bravo"),
            (2, "Accept cookies\n\ncharlie"),
            (3, "Accept cookies\n\ndelta"),
        ],
        ["doc_id", "text"],
    )


def _semantic(spark, monkeypatch):
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    bench = spark.createDataFrame(
        [(7, [1.0, 0.001])], "bench_id long, embedding array<double>"
    )
    return decontaminate_semantic(_docs(spark), vecs, bench, threshold=0.99)


def _boilerplate_join_path(spark, monkeypatch):
    # -1: even an empty fingerprint set takes the join path
    monkeypatch.setattr(boilerplate, "MAX_INLINE_FPS", -1)
    return boilerplate.strip_boilerplate_lines(_docs(spark), "text", "doc_id", min_docs=2)


CASES = {
    "decontaminate_semantic": (_semantic, "LeftAnti"),
    "paragraph_max_docs": (
        lambda spark, mp: paragraph_keep_flags(
            _docs(spark), "text", "doc_id", policy="max_docs", max_docs=2
        ),
        "LeftOuter",
    ),
    "retract_documents": (
        lambda spark, mp: retract_documents(
            _docs(spark), spark.createDataFrame([(2,)], ["doc_id"])
        ),
        "LeftAnti",
    ),
    "strip_boilerplate_join_path": (_boilerplate_join_path, "LeftAnti"),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_hinted_join_plans_as_broadcast(spark, monkeypatch, case):
    build, join_type = CASES[case]
    plan = plan_without_auto_broadcast(spark, lambda: build(spark, monkeypatch))
    assert _strategies(plan, join_type) == ["BroadcastHashJoin"], plan
