"""Smoke tests mirroring the driver contract (t1) plus reference-style
invariant tests (SURVEY.md §5: unique/not-null/empty-overlap)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_entry_returns_rows(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "nation",
        "total_impact_level",
        "permit_count",
        "impact_score",
        "impact_category",
    }


def test_impact_scores_invariants(spark):
    from open_data_pipelines_spark.plans.impact import impact_scores

    df = impact_scores(spark, SF_SMOKE).cache()
    try:
        # not_null dbt-style schema tests
        assert df.filter(F.col("impact_score").isNull()).count() == 0
        assert df.filter(F.col("total_impact_level").isNull()).count() == 0
        # normalized range
        bad = df.filter((F.col("impact_score") < 1.0) | (F.col("impact_score") > 100.0))
        assert bad.count() == 0
        # unique key
        assert df.count() == df.select("nation").distinct().count()
    finally:
        df.unpersist()


def test_queries_and_oracles_aligned():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 15


def test_impact_scores_scores_once(spark):
    """The scoring chain (orders scan, three broadcast joins, nation
    aggregate) is planned and run once: the extremes of the min-max
    normalization come from a window over the nation-grain aggregate,
    not from a second copy of the chain. Three exchanges run: the
    lineitem spread, the nation aggregate and the window's."""
    from open_data_pipelines_spark import metrics
    from open_data_pipelines_spark.plans.impact import impact_scores

    spark.catalog.clearCache()  # a cached copy of the mart would run no stage
    df = impact_scores(spark, SF_SMOKE)
    sc = spark.sparkContext
    sc.setJobGroup("impact-scores-once", "impact_scores")
    try:
        df.collect()
    finally:
        sc._jsc.clearJobGroup()
    assert metrics.shuffle_stages_run(spark, "impact-scores-once") == 3
    final = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert final.count("orders.parquet") == 1, final
