"""The benchmark's workloads: what one pass does and how its outputs are
checked.

A workload yields the operations of a pass; the runner times each one
and records a failure when it raises or its check fails. Checks run
outside the timed region.

- ``warehouse_refresh``: the paper's ELT path, one monthly refresh per
  pass. The month's drop goes through ``pipelines.run_monthly_ingest``
  into one month-partitioned table with a run log; the month's events
  are drained by ``streaming.scd2_stream.stream_scd2`` into the SCD2
  dimension (first pass: initial load; then merges); the ``plans.impact``
  street-works mart is rebuilt and persisted with
  ``sinks.writers.overwrite_table``.
- ``analytics_queries``: read-only queries from the headline set of
  ``bench.py``, each one operation, in a seeded order per pass. Every
  result is compared with the DuckDB oracle on the same inputs, or, for
  ``perplexity_filter`` (no oracle), with a row count and checksum
  recorded from the program when the benchmark was written.
"""

from __future__ import annotations

import gc
import hashlib
import os
import random
import shutil
from dataclasses import dataclass

import pandas as pd

DUCKDB_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


class CheckFailed(AssertionError):
    pass


@dataclass
class Op:
    name: str
    run: object  # () -> result, timed
    check: object = None  # (result) -> None, untimed; raises CheckFailed


# --- result comparison (order-insensitive, exact) ---------------------------


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[ns]")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
    return df


def value_hash(df: pd.DataFrame, float_digits: int | None = None) -> str:
    """sha256 over the sorted row reprs. ``float_digits`` rounds floats to
    that many significant digits first, for results whose float sums
    depend on the order rows arrive in."""
    rows = []
    for tup in df.itertuples(index=False):
        if float_digits is not None:
            tup = tuple(
                float(f"{v:.{float_digits}g}") if isinstance(v, float) else v for v in tup
            )
        rows.append(repr(tuple(tup)))
    rows.sort()
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\x00")
    return h.hexdigest()


def expect_equal(got: pd.DataFrame, want: pd.DataFrame) -> None:
    s, o = canon(got), canon(want)
    if len(s) != len(o):
        raise CheckFailed(f"row count {len(s)} vs oracle {len(o)}")
    if list(s.columns) != list(o.columns):
        raise CheckFailed(f"columns {list(s.columns)} vs oracle {list(o.columns)}")
    if value_hash(s) != value_hash(o):
        raise CheckFailed("value hash differs from the oracle")


def duckdb_on(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in DUCKDB_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def gc_settle(spark) -> None:
    """Release the previous operation's lazily checkpointed blocks so they
    cannot weigh on the next one (the bench.py discipline)."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


# --- analytics_queries --------------------------------------------------------


def _extra_perplexity_filter(spark, sf_dir):
    """bench.py's perplexity_filter form: train the bigram LM on the
    1-in-10 slice, then score and filter every document."""
    from pyspark.sql import functions as F

    from open_data_pipelines_spark.operators import lm_score
    from open_data_pipelines_spark.session import load_tables

    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    lm = lm_score.train_ngram_lm(docs.filter(F.col("doc_id") % 10 == 0), "text")
    return lm_score.perplexity_filter(docs, "text", "doc_id", lm, max_perplexity=10_000.0)


EXTRA = {"perplexity_filter": _extra_perplexity_filter}
# (rows, value_hash(canon(result), float_digits=9)) on data/sf0.01,
# recorded from the program as it was when the benchmark was added
EXTRA_EXPECTED = {
    "perplexity_filter": (500, "590d2f35f08c566ee20153bfba65867ed23c26d9b9d0aa962ef1f3ee6c18a412"),
}
ANALYTICS_QUERIES = (
    "distinct_on",
    "join_count",
    "group_sum",
    "anti_join",
    "window_tumbling",
    "perplexity_filter",
)


def extra_digest(pdf: pd.DataFrame) -> tuple[int, str]:
    return len(pdf), value_hash(canon(pdf), float_digits=9)


class AnalyticsQueries:
    name = "analytics_queries"
    max_passes = None

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.expected: dict[str, pd.DataFrame] = {}

    def prepare(self) -> None:
        """DuckDB oracle results on the generated inputs."""
        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        con = duckdb_on(self.ctx.inputs.sf_dir)
        for name in ANALYTICS_QUERIES:
            if name not in EXTRA:
                self.expected[name] = con.execute(oracles[name]).fetchdf()
        con.close()

    def instrument(self, patcher, tracer) -> None:
        from open_data_pipelines_spark.operators import lm_score

        patcher.patch(lm_score, "train_ngram_lm", lambda f: tracer.wrap(f, "operators.train_ngram_lm"))

    def pass_ops(self, pass_no: int) -> list[Op]:
        import __spark_entry__
        from open_data_pipelines_spark.caching import drain_prefetch

        ctx = self.ctx
        registry = __spark_entry__.queries()
        names = list(ANALYTICS_QUERIES)
        random.Random(f"order/{ctx.seed}/{pass_no}").shuffle(names)
        ops = []
        for name in names:
            fn = EXTRA.get(name) or registry[name]

            def run(fn=fn):
                with ctx.tracer.span("queries.build"):
                    df = fn(ctx.spark, ctx.inputs.sf_dir)
                with ctx.tracer.span("queries.action"):
                    pdf = df.toPandas()
                with ctx.tracer.span("caching.drain_prefetch"):
                    drain_prefetch()
                return pdf

            ops.append(Op(name, run, lambda pdf, name=name: self.check(name, pdf)))
        return ops

    def check(self, name: str, pdf: pd.DataFrame) -> None:
        if name in EXTRA:
            want = EXTRA_EXPECTED[name]
            got = extra_digest(pdf)
            if got != want:
                raise CheckFailed(f"{name}: rows/checksum {got} vs recorded {want}")
        else:
            expect_equal(pdf, self.expected[name])

    def after_pass(self) -> None:
        gc_settle(self.ctx.spark)

    def finish(self, passes: int) -> dict:
        return {}


# --- warehouse_refresh ------------------------------------------------------

EVENT_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
)
EVENTS_EPOCH = 1_700_000_000  # landed files' mtimes order the micro-batches
EVENT_ATTRS = ["event_type", "props", "value"]
EVENT_HASH = ["event_type", "props"]
MART = "marts.impact_scores"


class WarehouseRefresh:
    """One pass is one monthly refresh: the month's drop is ingested, its
    events file lands in the streamed directory and is merged into the
    SCD2 dimension (pass 0: initial load), and the mart is rebuilt and
    persisted. The warehouse table, run log and dimension carry over
    from pass to pass."""

    name = "warehouse_refresh"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.root = ctx.out / "warehouse_refresh"
        self.table = str(self.root / "lineitem_monthly")
        self.logs = str(self.root / "processing_logs")
        self.events = self.root / "events_landing"
        self.dim_root = str(self.root / "scd2" / "dim")
        self.ckpt = str(self.root / "scd2" / "ckpt")
        self.expected_mart: pd.DataFrame | None = None
        self.max_passes = len(ctx.inputs.drops)
        self.input_bytes = 0

    def prepare(self) -> None:
        import __spark_entry__

        con = duckdb_on(self.ctx.inputs.sf_dir)
        self.expected_mart = con.execute(__spark_entry__.oracle_sql()["impact_score"]).fetchdf()
        con.close()

    def instrument(self, patcher, tracer) -> None:
        from open_data_pipelines_spark.operators import scd2
        from open_data_pipelines_spark.plans import impact
        from open_data_pipelines_spark.sinks import metadata, writers
        from open_data_pipelines_spark.sources import csv_source, zip_source

        for owner, attr, name in (
            (zip_source, "fetch_and_extract", "sources.fetch_and_extract"),
            (csv_source, "read_csv_bronze", "sources.read_csv_bronze"),
            (metadata.MetadataLogger, "__exit__", "sinks.metadata_log"),
            (writers, "overwrite_table", "sinks.overwrite_table"),
            (scd2, "scd2_merge", "operators.scd2_merge"),
            (scd2, "scd2_initial_load", "operators.scd2_initial_load"),
            (impact, "impact_scores", "plans.impact_scores"),
        ):
            patcher.patch(owner, attr, lambda f, name=name: tracer.wrap(f, name))

    def pass_ops(self, pass_no: int) -> list[Op]:
        from open_data_pipelines_spark import pipelines
        from open_data_pipelines_spark.plans import impact
        from open_data_pipelines_spark.sinks import writers
        from open_data_pipelines_spark.streaming.scd2_stream import stream_scd2

        from .inputs import DROP_COLUMNS, DROP_NUMERIC

        ctx, tracer = self.ctx, self.ctx.tracer
        spark, inputs = ctx.spark, ctx.inputs
        drop = inputs.drops[pass_no]
        # the month's events arrive: a new file, newer than every earlier one
        self.events.mkdir(parents=True, exist_ok=True)
        landed = self.events / f"events-{pass_no:02d}.parquet"
        shutil.copyfile(inputs.event_files[pass_no], landed)
        os.utime(landed, (EVENTS_EPOCH + 60 * pass_no,) * 2)
        self.input_bytes = drop.csv_bytes + os.path.getsize(landed)

        cfg = pipelines.MonthlyIngestConfig(
            data_source="lineitem_drops",
            url=drop.url,
            year=drop.year,
            month=drop.month,
            expected_columns=list(DROP_COLUMNS.values()),
            numeric_columns=DROP_NUMERIC,
        )
        landing = str(self.root / "landing" / f"{drop.month:02d}")

        def ingest():
            with tracer.span("pipelines.run_monthly_ingest"):
                pipelines.run_monthly_ingest(spark, cfg, landing, self.table, self.logs)

        def stream():
            src = (
                spark.readStream.schema(EVENT_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(self.events))
            )
            with tracer.span("streaming.stream_scd2"):
                stream_scd2(
                    src, self.dim_root, self.ckpt, "user_id", "ts", EVENT_ATTRS, EVENT_HASH,
                    tiebreakers=("event_id",),
                )

        def persist_mart():
            writers.ensure_database(spark, "marts")
            writers.overwrite_table(impact.impact_scores(spark, inputs.sf_dir), MART)

        return [
            Op("ingest", ingest),
            Op("stream_scd2", stream, lambda _: self.check_scd2(pass_no)),
            Op("persist_mart", persist_mart, self.check_mart),
        ]

    def check_scd2(self, pass_no: int) -> None:
        from pyspark.sql import functions as F

        from open_data_pipelines_spark.streaming.scd2_stream import latest_snapshot

        dim, version = latest_snapshot(self.ctx.spark, self.dim_root)
        if version != pass_no:
            raise CheckFailed(f"scd2 log at v{version} after pass {pass_no}")
        # as micros: the open-ended valid_to (9999-12-31) overflows pandas' ns
        pdf = dim.select(
            "user_id",
            F.unix_micros("valid_from").alias("valid_from"),
            F.unix_micros("valid_to").alias("valid_to"),
            "is_current",
        ).toPandas()
        current = pdf[pdf["is_current"]].groupby("user_id").size()
        if len(current) != pdf["user_id"].nunique() or (current != 1).any():
            raise CheckFailed("scd2: a key without exactly one current row")
        pdf = pdf.sort_values(["user_id", "valid_from"])
        if (pdf["valid_from"] >= pdf["valid_to"]).any():
            raise CheckFailed("scd2: empty or inverted validity interval")
        nxt = pdf.groupby("user_id")["valid_from"].shift(-1)
        if (pdf["valid_to"] > nxt).any():
            raise CheckFailed("scd2: overlapping validity intervals")

    def check_mart(self, _result) -> None:
        expect_equal(self.ctx.spark.table(MART).toPandas(), self.expected_mart)

    def after_pass(self) -> None:
        gc_settle(self.ctx.spark)

    def finish(self, passes: int) -> dict:
        """Every month ingested: partition rows (and non-null quantities)
        equal the drop's, with one SUCCESS log row each. Returns
        (pass, op) -> message for the ingests whose output is wrong."""
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        months = {
            r["month"]: (r["n"], r["q"])
            for r in spark.read.parquet(self.table)
            .groupBy("month")
            .agg(F.count(F.lit(1)).alias("n"), F.count("quantity").alias("q"))
            .collect()
        }
        logs = {
            r["table_name"]: r["n"]
            for r in spark.read.parquet(self.logs)
            .filter(F.col("status") == "SUCCESS")
            .groupBy("table_name")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        failed = {}
        for pass_no, drop in enumerate(self.ctx.inputs.drops[:passes]):
            want = (drop.rows, drop.rows - drop.null_quantity)
            n_logs = logs.get(f"{drop.month:02d}_{drop.year}", 0)
            if months.get(drop.month) != want:
                failed[(pass_no, "ingest")] = (
                    f"month {drop.month}: (rows, non-null quantity) {months.get(drop.month)} vs {want}"
                )
            elif n_logs != 1:
                failed[(pass_no, "ingest")] = f"month {drop.month}: {n_logs} SUCCESS log rows"
        extra = set(months) - {d.month for d in self.ctx.inputs.drops[:passes]}
        if extra:
            failed[(passes - 1, "ingest")] = f"unexpected month partitions {sorted(extra)}"
        return failed


WORKLOADS = {
    "warehouse_refresh": WarehouseRefresh,
    "analytics_queries": AnalyticsQueries,
}
