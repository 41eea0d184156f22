"""Physical-plan regression gates for headline queries.

EXPLAIN_AUDIT.md is a human artifact; these assertions make the
load-bearing plan properties mechanical: dims broadcast (no sort-merge
fallback), filters reach the parquet scan, scans prune columns, and
the shuffle budget of each fused pipeline stays at its designed count.
A future edit that silently un-broadcasts a dim or adds an exchange
fails here, not in a 100x-scale bench.
"""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_SMOKE


def _plan(spark, name: str) -> str:
    import __spark_entry__ as e

    return (
        e.queries()[name](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def _shuffles(plan: str) -> int:
    return plan.count("Exchange") - plan.count("BroadcastExchange")


def test_impact_score_dims_broadcast_filters_pushed(spark):
    plan = _plan(spark, "impact_score")
    assert "SortMergeJoin" not in plan  # every dim join stays broadcast
    # the lineitem-stats, customer and nation joins, each planned once:
    # the min-max extremes come from a window, not a second scoring chain
    assert plan.count("BroadcastHashJoin") == 3
    assert _shuffles(plan) == 3
    assert re.search(r"PushedFilters: \[[^\]]*IsNotNull", plan)


def test_left_enrich_is_shuffle_free(spark):
    # multi-way dim enrichment: broadcasts only, zero exchanges
    plan = _plan(spark, "left_enrich")
    assert _shuffles(plan) == 0
    assert plan.count("BroadcastHashJoin") >= 3


def test_group_sum_single_shuffle_with_partial_agg(spark):
    plan = _plan(spark, "group_sum")
    assert _shuffles(plan) == 1
    # map-side combine: a partial_ aggregate must appear below the exchange
    assert "partial_" in plan


def test_filter_in_list_pushdown_and_pruning(spark):
    plan = _plan(spark, "filter_in_list")
    assert "PushedFilters: [" in plan and "In(" in plan
    width = len(re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1).split(","))
    assert width <= 4  # projection pruned into the scan


def test_lag_delta_one_window_one_shuffle(spark):
    # LAG/LEAD + rolling share one (partition, order) spec -> exactly
    # one exchange feeds every window function (the round-3 merge must
    # never regress into a second shuffle)
    plan = _plan(spark, "lag_delta")
    assert _shuffles(plan) == 1


def test_window_tumbling_two_families_two_shuffles(spark):
    # tumbling + sliding are independent groupBys: 2 shuffles, no more
    plan = _plan(spark, "window_tumbling")
    assert _shuffles(plan) == 2


# semi_join_test retired round 13 (slot freed for corpus_diff): the
# existence-join plan shape is pinned via anti_join; overlap_count
# itself stays covered in tests/test_operators.py
@pytest.mark.parametrize("name", ["anti_join"])
def test_existence_joins_broadcast(spark, name):
    plan = _plan(spark, name)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
