"""Driver-session robustness: the driver calls ``queries()`` with a
SparkSession the engine did NOT build, from a process whose OS zone is
not UTC. ``session.load_tables`` must inject everything the queries
need at runtime (nanos-as-long parquet conf, UTC session timezone) —
round 1's biggest failure mode, pinned here as a subprocess test with
``TZ=America/New_York`` and a plain ``SparkSession.builder``.

The session this library builds must also stay warm across re-runs:
re-running a query set compiles no generated class again
(``session.CODEGEN_CACHE_ENTRIES``), and building a query does not pay
PySpark's per-call call-site capture in py4j round trips.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from conftest import SF_SMOKE

REPO = str(Path(__file__).resolve().parent.parent)

# timestamp-heavy sample: every one of these crashes or drifts if the
# nanos conf or UTC session TZ is missing from a driver-built session
SAMPLE = ["window_tumbling", "session_agg", "date_math", "asof_join", "audit_ts"]

SCRIPT = f"""
import sys
sys.path.insert(0, {REPO!r})
import duckdb
import pandas as pd
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .appName("driver-sim")
    .getOrCreate()
)
import __spark_entry__ as e

sf = "/root/testdata/sf0.001"
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {{t}} AS SELECT * FROM '{{sf}}/{{t}}.parquet'")

def canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
    # NULL-safe: NaN != NaN would fail tuple equality on NULL doubles
    df = df.astype(object).where(pd.notna(df), None)
    return sorted(map(tuple, df.itertuples(index=False)), key=repr)

assert len(e.entry(spark).collect()) > 0, "entry() empty under driver session"
for name in {SAMPLE!r}:
    sdf = e.queries()[name](spark, sf).toPandas()
    odf = con.execute(e.oracle_sql()[name]).fetchdf()
    assert canon(sdf) == canon(odf), f"{{name}} drifted under driver session"
print("DRIVER_SIM_OK")
"""


def test_queries_survive_plain_session_and_foreign_tz():
    env = dict(os.environ, TZ="America/New_York")
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        capture_output=True,
        text=True,
        timeout=420,
        env=env,
        cwd=REPO,
    )
    assert "DRIVER_SIM_OK" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]


# the analytics queries of the benchmark: over 100 distinct generated
# classes per run, more than Spark's default codegen cache holds
RERUN_SET = ["distinct_on", "join_count", "group_sum", "anti_join", "window_tumbling"]


def test_rerun_compiles_no_new_classes(spark):
    import bench
    import __spark_entry__ as e

    from open_data_pipelines_spark.metrics import janino
    from open_data_pipelines_spark.session import CODEGEN_CACHE_ENTRIES

    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= CODEGEN_CACHE_ENTRIES
    fns = [e.queries()[n] for n in RERUN_SET] + [bench.EXTRA["perplexity_filter"]]

    def run_all() -> None:
        for fn in fns:
            fn(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

    run_all()
    before, _ = janino(spark)
    run_all()
    assert janino(spark)[0] - before == 0


def test_warm_build_py4j_round_trips(spark, monkeypatch):
    """A warm ``impact_scores`` build on a ``get_spark`` session: 1087
    py4j round trips with PySpark's call-site capture on (the Spark
    default), about 420 with it off."""
    import gc

    from pyspark.errors import utils as origin

    from open_data_pipelines_spark.plans.impact import impact_scores

    # PySpark caches the setting per process at the first wrapped call;
    # make it read this session's conf
    monkeypatch.setattr(origin, "_enable_debugging_cache", None)
    impact_scores(spark, SF_SMOKE)
    client = spark._jvm._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        sent.append(command)
        return send(command, *args, **kwargs)

    gc.collect()
    gc.disable()
    monkeypatch.setattr(client, "send_command", counting)
    try:
        impact_scores(spark, SF_SMOKE)
    finally:
        monkeypatch.undo()
        gc.enable()
    # object releases ("m\nd") free Java objects of earlier frames
    # whenever Python drops them; they are not this build's calls
    calls = [c for c in sent if not c.startswith("m\nd")]
    assert len(calls) <= 500, len(calls)
