"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric", "value" (total sec), "unit", "queries", "sf"}.

Each query is materialized with the ``noop`` datasource (full
execution, zero sink cost, nothing collected to the driver) — the
number measured is the engine, not pandas conversion.

Noise control: after ``WARMUP_PASSES`` warm-up passes (timed, not in
the median), each query is timed ``$SPARK_GRAFT_BENCH_PASSES`` times
(default 3) and the MEDIAN is reported — single-pass numbers on this
container swing 2-6x under load. ``spread`` carries every timed sample
and the warm-up times next to min/max, so a reader can see whether a
row reached steady state.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# headline set: one per operator family (joins/windows/aggs/SCD2/
# spatial/text-dedup/similarity/streaming-batch/LLM-pipeline)
HEADLINE = [
    "impact_score",
    "distinct_on",
    "join_count",
    "group_sum",
    "agg_battery",
    "anti_join",
    "range_join_bbox",
    "scd2_merge",
    "window_tumbling",
    "minhash_lsh_dedup",
    "ann_cosine_topk",
    "dedup_exact",
    # round 7: the two flagship LLM-pipeline paths get perf guards —
    # the full corpus funnel (driver-row query) and the CCNet-style LM
    # perplexity filter (bench-local: the 50-row driver window is full,
    # so its guard lives here rather than in the oracle registry)
    "corpus_funnel",
    "perplexity_filter",
    # round 8: the composed media funnel (signature -> quarantine ->
    # exact dedup -> per-kind Hamming banding -> cluster reps) gets a
    # perf guard over a synthetic 100k-row bronze-signed frame derived
    # from the events table (bench-local for the same window reason)
    "media_funnel",
    # round 10: substring-level exact dedup (Lee et al. 2022 window
    # re-expression; driver-row query) — the newest dedup family gets
    # a perf guard alongside minhash/dedup_exact
    "substring_dedup",
]


def _bench_media_funnel(spark, sf_dir):
    """prepare_media_corpus over a deterministic bronze-signed frame
    (kind+signature precomputed — the streaming-bronze form, so no
    decode): one row per event, groups of 16 ids share a 64-bit base
    signature (4 exact copies of each of 4 near-variants differing in
    the low 2 bits), every 97th row undecodable. Exercises the exact
    (kind, signature) dedup shuffle, the per-kind Hamming banding
    joins, the connected-components endgame, and the quarantine
    re-union at 100k rows."""
    from pyspark.sql import functions as F

    from open_data_pipelines_spark.plans.media_prep import prepare_media_corpus
    from open_data_pipelines_spark.session import load_tables

    ev = load_tables(spark, sf_dir, register_views=False)["events"]
    grp = (F.col("event_id") / 16).cast("long")
    base = F.xxhash64(grp)
    frame = ev.select(
        F.col("event_id").alias("media_id"),
        F.lit(None).cast("binary").alias("content"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(grp, F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
        F.when(F.col("event_id") % 97 == 0, F.lit(None).cast("long"))
        .otherwise(base.bitwiseXOR(F.pmod(F.col("event_id"), F.lit(4))))
        .alias("signature"),
    )
    # exercise the documented lifetime contract: the frame streams
    # straight to the noop sink once, so release the returned persist
    # immediately — the bench measures the engine, not cache population
    return prepare_media_corpus(frame, max_hamming=2).unpersist()


def _bench_perplexity_filter(spark, sf_dir):
    """End-to-end LM filter cost: train the interpolated-bigram LM on
    the 1-in-10 reference slice (two hash aggregations + one scalar
    collect) then score+filter the whole documents table (explode +
    broadcast dim joins + per-doc agg). Threshold keeps the head of
    the measured sf0.1 distribution — the cost is threshold-invariant."""
    from pyspark.sql import functions as F

    from open_data_pipelines_spark.operators.lm_score import (
        perplexity_filter,
        train_ngram_lm,
    )
    from open_data_pipelines_spark.session import load_tables

    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    lm = train_ngram_lm(docs.filter(F.col("doc_id") % 10 == 0), "text")
    return perplexity_filter(docs, "text", "doc_id", lm, max_perplexity=10_000.0)


# bench-only callables for operators whose driver-window slot is taken
# (queries() is pinned at the 50-row driver cap)
EXTRA = {
    "perplexity_filter": _bench_perplexity_filter,
    "media_funnel": _bench_media_funnel,
}


def _calibration(spark):
    """Fixed-work CPU probe: 40M rows x 64 chained xxhash64 rounds,
    summed mod 1e6 (ANSI-safe), through the noop sink — no repo code,
    no I/O, no shuffle beyond the final scalar agg. Its ONLY purpose
    is cross-round normalization: this container's ambient load has
    repeatedly shifted untouched queries by 15-40% between rounds
    (STRESS.md round-8/9/11/12 attribution entries, each earned with
    a same-day interleaved A/B of old-round code). A future round that
    sees query X at +25% AND calibration at +25% can attribute
    ambient WITHOUT re-running the old tree. Reported as a separate
    'calibration' field — never part of the headline total, which
    stays A/B-comparable with bench_reference.json."""
    from pyspark.sql import functions as F

    df = spark.range(0, 40_000_000, 1, 32)
    h = F.col("id")
    for i in range(64):
        h = F.xxhash64(h, F.lit(i))
    return df.select(F.pmod(h, F.lit(1_000_000)).alias("h")).agg(
        F.sum("h").alias("s")
    )


def _calibration_shuffle(spark):
    """Fixed-work SHUFFLE probe (round 14, VERDICT r13 #6): 8M rows
    hash-repartitioned on a 100k-key column, then aggregated — one
    real exchange whose cost is serialization + spill-path + fetch,
    the resource the CPU probe cannot see. Round 13 showed why both
    are needed: impact_score (exchange-bound) swung +29% in a round
    whose CPU probe moved only +5.6% — CPU-only normalization
    under-corrects shuffle-heavy ambient contention. Queries listed
    in SHUFFLE_NORMALIZED normalize by this probe's ratio; the rest
    by the CPU probe's (STRESS.md round-14 entry documents the
    split)."""
    from pyspark.sql import functions as F

    df = spark.range(0, 8_000_000, 1, 32).select(
        F.pmod(F.xxhash64("id"), F.lit(100_000)).alias("k"),
        # bounded values: SUM over raw 64-bit hashes overflows ANSI
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1_000_000)).alias("v"),
    )
    return (
        df.repartition(32, "k")
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
        .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
    )


# Queries whose sf0.1 plans are exchange-dominated (sort-merge joins,
# wide aggs, windows over shuffled input) normalize by the shuffle
# probe; expression/UDF-dominated plans (regex chains, HOF aggregates,
# Arrow UDFs, broadcast-only joins) by the CPU probe. Chosen from the
# EXPLAIN_AUDIT executed-exchange counts, documented in STRESS.md r14.
SHUFFLE_NORMALIZED = {
    "impact_score",
    "distinct_on",
    "join_count",
    "group_sum",
    "agg_battery",
    "anti_join",
    "scd2_merge",
    "window_tumbling",
    "minhash_lsh_dedup",
    "dedup_exact",
    "substring_dedup",
}


# Two warm-up passes per headline row: after one, corpus_funnel's
# first timed pass was still the slowest of three in most processes at
# local[4] (codegen, JIT and broadcast builds still settling).
WARMUP_PASSES = 2


def _time_runs(run, n: int, after=None) -> list[float]:
    """Wall seconds of ``n`` calls of ``run``; ``after`` runs untimed
    after each call."""
    out = []
    for _ in range(n):
        t0 = time.perf_counter()
        run()
        out.append(round(time.perf_counter() - t0, 3))
        if after is not None:
            after()
    return out


def _summary(samples: list[float], warmup: list[float]) -> dict:
    return {
        "median": round(statistics.median(samples), 3),
        "min": min(samples),
        "max": max(samples),
        "samples": samples,
        "warmup": warmup,
    }


def _gc_settle(spark) -> None:
    """Deterministic storage reclaim between headline entries.

    The operators' internal reuse caches are LAZY localCheckpoints
    whose blocks are reclaimed only after the driver GC drops the
    frame references (ContextCleaner). Without an explicit collection,
    blocks from entry N's passes linger into entry N+1's measurement —
    storage pressure that depends on headline-set COMPOSITION, exactly
    the cross-entry contamination suspected in the round-7 driver run
    (four untouched queries drifted together; same-day A/B of r6 vs r7
    code showed no per-query code regression — STRESS.md round-8
    attribution). One py + JVM GC per entry (~100 ms) makes each
    query's number independent of what ran before it."""
    import gc

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except AttributeError:  # non-JVM session (the stubbed-bench test)
        pass


def main() -> None:
    # sampled FIRST — before get_spark starts the JVM — so the value
    # is genuinely external load, matching the witness's stated
    # purpose (round-15 review: sampling after session start folded
    # our own spin-up into the "external" baseline)
    loadavg_start = round(os.getloadavg()[0], 1)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    import __spark_entry__ as entry
    from open_data_pipelines_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")))
    timings: dict[str, float] = {}
    spreads: dict[str, dict] = {}
    # ambient-load witness (round 15): this container shares hardware
    # and its external load bursts 1->10 within minutes (STRESS.md
    # round-15 burst attribution: impact_score flagged 3.3x normalized
    # while an interleaved same-day A/B showed HEAD == r14 — the burst
    # hit the query passes harder than the end-of-run probes). The
    # 1-min loadavg BEFORE any Spark work (sampled at the top of
    # main) is mostly external; the per-query values include our own
    # executors but still localize WHICH entries a burst hit.
    # Attribution evidence, not a knob — the guard's flags are
    # unchanged.
    load_per_query: dict[str, float] = {}
    for name in HEADLINE:
        # EXTRA first: media_funnel gained a driver-registry twin in
        # round 9 (DuckDB-replicable arithmetic signatures), but the
        # bench keeps timing the original xxhash64 frame so numbers
        # stay A/B-comparable with bench_reference.json across rounds
        fn = EXTRA.get(name) or qs[name]

        def run(fn=fn):
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

        # warm-up passes (codegen compile + broadcast build), then
        # `passes` measured runs -> median steady-state engine time
        warmup = _time_runs(run, WARMUP_PASSES, spark.catalog.clearCache)
        load_per_query[name] = round(os.getloadavg()[0], 1)
        samples = _time_runs(run, passes, spark.catalog.clearCache)
        spreads[name] = _summary(samples, warmup)
        timings[name] = spreads[name]["median"]
        _gc_settle(spark)

    # fixed-work calibration probes (see _calibration): timed with the
    # same warmup+median discipline, kept OUT of the headline total;
    # the second (round 14) runs one real exchange
    probes = {}
    for key, build in (
        ("calibration", _calibration),
        ("calibration_shuffle", _calibration_shuffle),
    ):
        q = build(spark)

        def run(q=q):
            q.write.format("noop").mode("overwrite").save()

        warmup = _time_runs(run, 1)
        probes[key] = _summary(_time_runs(run, passes), warmup)
        _gc_settle(spark)
    calibration, calibration_shuffle = probes["calibration"], probes["calibration_shuffle"]

    result = {
        "metric": "headline_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        # per-query min/max, every measured sample and the warm-up
        # times: lets a reader attribute +-30% drift on ~1 s queries to
        # run noise vs a real regression without a re-run
        "spread": spreads,
        # fixed-work CPU probe for cross-round ambient normalization
        # (constant seed, no repo code path) — NOT in `value`
        "calibration": calibration,
        # fixed-work shuffle probe (round 14): the exchange-bound
        # ambient axis the CPU probe cannot see — NOT in `value`
        "calibration_shuffle": calibration_shuffle,
        "sf": sf,
        "mode": f"steady_state_median{passes}",
        # 1-min loadavg at start (pre-Spark: mostly EXTERNAL load) and
        # before each query's measured passes (includes our own
        # executors; relative differences localize bursts)
        "loadavg": {"start": loadavg_start, "per_query": load_per_query},
    }

    # regression guard: compare against the checked-in reference
    # numbers (only meaningful at the reference's scale factor).
    # Round 13: ratios are NORMALIZED by the calibration probe before
    # flagging — this container's ambient load has repeatedly shifted
    # untouched queries 15-40% between rounds (STRESS.md attribution
    # entries r8/9/11/12); the fixed-work probe measures exactly that
    # shift, so ratio/(cal_now/cal_ref) compares code against code.
    # Both raw and normalized ratios are emitted so a reader can see
    # the ambient factor at a glance.
    ref_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_reference.json")
    regressions: dict[str, dict] = {}
    if os.path.exists(ref_path):
        with open(ref_path) as fh:
            ref = json.load(fh)
        if sf == ref.get("sf"):
            limit = float(ref.get("ratio_limit", 2.0))
            ref_cal = ref.get("calibration")
            # fall back to raw ratios when either side is missing or
            # degenerate (a stubbed/no-op environment measures ~0)
            cal_ratio = (
                calibration["median"] / ref_cal
                if ref_cal and calibration["median"] > 0
                else 1.0
            )
            # exchange-bound queries normalize by the shuffle probe
            # (round 14); missing pin -> fall back to the CPU ratio
            ref_shuf = ref.get("calibration_shuffle")
            cal_ratio_shuffle = (
                calibration_shuffle["median"] / ref_shuf
                if ref_shuf and calibration_shuffle["median"] > 0
                else cal_ratio
            )
            ratios: dict[str, float] = {}
            ratios_normalized: dict[str, float] = {}
            for name, secs in timings.items():
                base = ref["queries"].get(name)
                if not base:
                    continue
                raw = secs / base
                norm = raw / (
                    cal_ratio_shuffle if name in SHUFFLE_NORMALIZED else cal_ratio
                )
                ratios[name] = round(raw, 3)
                ratios_normalized[name] = round(norm, 3)
                if norm > limit:
                    regressions[name] = {
                        "ref": base,
                        "now": secs,
                        "ratio": round(raw, 2),
                        "ratio_normalized": round(norm, 2),
                        # burst witness: compare with loadavg.start and
                        # the per-pass spread before believing the flag
                        "loadavg": load_per_query.get(name),
                    }
            result["ratios"] = ratios
            result["ratios_normalized"] = ratios_normalized
            result["calibration_ratio"] = round(cal_ratio, 3)
            result["calibration_ratio_shuffle"] = round(cal_ratio_shuffle, 3)
            result["regressions"] = regressions
            for name, r in regressions.items():
                print(
                    f"BENCH REGRESSION: {name} {r['now']}s vs reference {r['ref']}s "
                    f"(raw {r['ratio']}x, normalized {r['ratio_normalized']}x "
                    f"> {limit}x limit)",
                    file=sys.stderr,
                )

    print(json.dumps(result))
    if regressions and os.environ.get("SPARK_GRAFT_BENCH_STRICT"):
        sys.exit(3)


if __name__ == "__main__":
    main()
