"""The lazy-checkpoint contract: building a query that checkpoints
reuse points runs no Spark job. Each checkpoint is materialized by its
first consumer's job, on the caller's thread — which is what lets
``tools/dump_plans.py`` and ``tools/explain_audit.py`` compile plans
without executing them."""

from __future__ import annotations

from conftest import SF_SMOKE


def _job_count(spark) -> int:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()  # the status store fills asynchronously
    return sc.statusStore().jobsList(None).size()


def test_building_checkpointing_query_runs_no_job(spark):
    import __spark_entry__ as e

    # corpus_diff holds two lazy checkpoints: the base scan and the
    # assembled new release
    build = e.queries()["corpus_diff"]
    build(spark, SF_SMOKE)  # warm: schema inference and file listing
    before = _job_count(spark)
    df = build(spark, SF_SMOKE)
    assert _job_count(spark) - before == 0
    assert df.count() > 0
