"""Scale-up stress run: synthesize an N-fold larger copy of the
harness star schema (key-shifted unions of sf0.1) and run headline
queries on it through the normal ``queries()`` surface.

Evidence for the 100 TB posture: the engine's plans are size-oblivious
(same code path, partitioned scans, AQE), so throughput should scale
roughly linearly with rows on a fixed core count.

    python tools/stress.py [factor] [--keep]
    python tools/stress.py --skew [n_docs]     # LSH heavy-hitter band scenario
    python tools/stress.py --corpus            # corpus-prep funnel at $SPARK_GRAFT_SF_DIR
    python tools/stress.py --ivf-skew [n]      # IVF hot-cell cap scenario
    python tools/stress.py --range-join        # broadcast-vs-gridded crossover
    python tools/stress.py --media             # multimodal signature throughput
    python tools/stress.py --quality-model     # logistic-regression fit cost
    python tools/stress.py --cc-gate           # connected-components gate crossover
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, ".")

BASE = "/root/testdata/sf0.1"
# columns shifted per scaled copy. Keys that JOIN across tables share
# one offset family so copy i of orders still joins copy i of
# lineitem BY CONSTRUCTION (round-9 review find: independent
# max+1 offsets aligned only because the max orderkey happened to
# have lineitems). o_custkey is deliberately NOT shifted: customer is
# a dim and stays unscaled, so copies reuse the same customers (more
# orders per customer) instead of pointing past the dim and measuring
# empty joins.
FACT_KEYS = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id", "user_id"],
}
KEY_FAMILIES = {
    "o_orderkey": "orderkey",
    "l_orderkey": "orderkey",
}
QUERIES = ["impact_score", "distinct_on", "group_sum", "agg_battery", "scd2_merge", "window_tumbling"]


def build(spark, factor: int, dest: str) -> None:
    from pyspark.sql import functions as F

    from open_data_pipelines_spark.session import TESTDATA_TABLES, load_tables

    tables = load_tables(spark, BASE, register_views=False)
    os.makedirs(dest, exist_ok=True)
    # one offset per key FAMILY, maxed across every member column, so
    # cross-table joins of the scaled copies align by construction
    family_max: dict[str, int] = {}
    for name, cols in FACT_KEYS.items():
        for c in cols:
            fam = KEY_FAMILIES.get(c)
            if fam is not None:
                m = tables[name].agg(F.max(c)).first()[0] + 1
                family_max[fam] = max(family_max.get(fam, 0), m)
    for name in TESTDATA_TABLES:
        df = tables[name]
        out_path = os.path.join(dest, f"{name}.parquet")
        if name in FACT_KEYS:
            shift_cols = FACT_KEYS[name]
            maxes = {
                c: family_max.get(
                    KEY_FAMILIES.get(c, ""), 0
                ) or (df.agg(F.max(c)).first()[0] + 1)
                for c in shift_cols
            }
            copies = []
            for i in range(factor):
                c = df
                for col in shift_cols:
                    c = c.withColumn(col, F.col(col) + F.lit(i * maxes[col]))
                copies.append(c)
            scaled = copies[0]
            for c in copies[1:]:
                scaled = scaled.unionByName(c)
            scaled.write.mode("overwrite").parquet(out_path)
        else:
            df.write.mode("overwrite").parquet(out_path)


def skew_scenario(n_docs: int = 20_000, hot_fraction: float = 0.3) -> None:
    """Heavy-hitter band stress for the MinHash-LSH candidate join.

    30% of the corpus shares one boilerplate body (unique short tails),
    so their minhash signatures — and hence all their band buckets —
    collide: one bucket holds f*N docs and the candidate join's output
    is ~(f*N)^2/2 pairs. This measures (a) the uncapped join: runtime
    bounded but output quadratic — the honest cost of mass-duplicates
    reaching LSH; (b) max_bucket_size=64: the cap drops the degenerate
    buckets (reported, not silent) and the pipeline stays linear. The
    production composition is dedup_exact FIRST (collapses identical
    texts), cap as the safety net. See candidates_from_shingled docs.
    """
    import time

    from pyspark.sql import functions as F

    from open_data_pipelines_spark.operators.text_dedup import (
        band_bucket_stats,
        minhash_lsh_candidates,
        scale_out,
        shingle_corpus,
    )
    from open_data_pipelines_spark.session import get_spark

    spark = get_spark("stress-skew")
    spark.sparkContext.setLogLevel("ERROR")

    boiler = " ".join(f"boilerplate clause {i} applies to every standard permit" for i in range(12))
    docs = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.when(
                F.col("id") % F.lit(int(1 / hot_fraction)) == 0,
                F.concat(F.lit(boiler + " ref "), F.col("id").cast("string")),
            )
            .otherwise(
                # unique tails: distinct shingle sets, no hot bucket
                F.concat(
                    F.lit("unique district works notice number "),
                    F.col("id").cast("string"),
                    F.lit(" issued by authority "),
                    (F.col("id") * 7919 % 1000).cast("string"),
                    F.lit(" for street segment "),
                    (F.col("id") * 104729 % 10000).cast("string"),
                )
            )
            .alias("text"),
        )
        .transform(scale_out)
        .persist()
    )
    docs.count()

    report: dict = {"scenario": "lsh_skew", "n_docs": n_docs, "hot_fraction": hot_fraction}

    stats = (
        band_bucket_stats(shingle_corpus(docs, "text", "doc_id"), "doc_id", min_size=65)
        .agg(
            F.count(F.lit(1)).alias("hot_buckets"),
            F.max("bucket_size").alias("max_bucket"),
            F.sum(
                (F.col("bucket_size") * (F.col("bucket_size") - 1) / 2).cast("long")
            ).alias("pair_mass_above_cap"),
        )
        .collect()[0]
    )
    report["audit"] = {
        "hot_buckets": stats["hot_buckets"],
        "max_bucket": stats["max_bucket"],
        "pair_mass_above_cap": stats["pair_mass_above_cap"],
    }

    for label, cap in (("uncapped", None), ("capped_64", 64)):
        t0 = time.perf_counter()
        n_pairs = minhash_lsh_candidates(
            docs, "text", "doc_id", max_bucket_size=cap
        ).count()
        report[label] = {"pairs": n_pairs, "sec": round(time.perf_counter() - t0, 2)}

    print(json.dumps(report))
    docs.unpersist()


def ivf_skew_scenario(n_vecs: int = 20_000, hot_fraction: float = 0.3) -> None:
    """Hot-cell stress for the IVF ANN index (the LSH skew scenario's
    embedding-side twin).

    30% of the corpus is near-identical vectors (one base + tiny
    deterministic jitter) so a single IVF cell holds ~f*N rows: an
    uncapped probe that hits it scores ~f*N candidates per query. The
    scenario reports (a) `cell_stats` — the audit a capacity planner
    reads; (b) candidate volume per query uncapped vs
    `max_cell_size=256` — the cap bounds it at nprobe * cap while cold
    cells are untouched; (c) wall time both ways. Production posture:
    embedding_near_dup/exact dedup collapse true duplicates first, the
    cap bounds whatever dense region remains.
    """
    import time

    from pyspark.sql import functions as F

    from open_data_pipelines_spark.operators.ivf import (
        build_ivf_index,
        cell_stats,
        ivf_topk,
        probe_list_ids,
        train_centroids,
    )
    from open_data_pipelines_spark.session import get_spark

    spark = get_spark("stress-ivf-skew")
    spark.sparkContext.setLogLevel("ERROR")

    dim, k_cells, nprobe, top_k, cap = 16, 16, 4, 5, 256
    hot_mod = int(1 / hot_fraction)
    # deterministic synthetic embeddings: hot rows cluster tightly
    # around one point, cold rows spread via integer hash arithmetic
    comps = [
        F.when(
            F.col("id") % hot_mod == 0,
            1.0 + (F.xxhash64(F.col("id"), F.lit(j)) % 100).cast("double") / 100000.0,
        )
        .otherwise(((F.xxhash64(F.col("id"), F.lit(j)) % 2000).cast("double")) / 100.0)
        .alias(f"c{j}")
        for j in range(dim)
    ]
    vecs = (
        spark.range(n_vecs)
        .select(F.col("id").alias("vec_id"), F.array(*[c for c in comps]).alias("embedding"))
        .persist()
    )
    vecs.count()

    report: dict = {
        "scenario": "ivf_skew",
        "n_vecs": n_vecs,
        "hot_fraction": hot_fraction,
        "k_cells": k_cells,
        "nprobe": nprobe,
    }

    cents = train_centroids(vecs, "embedding", "vec_id", k=k_cells, iters=2)
    idx = build_ivf_index(vecs, "embedding", "vec_id", cents).persist()
    idx.count()

    stats = (
        cell_stats(idx)
        .agg(
            F.count(F.lit(1)).alias("cells"),
            F.max("cell_size").alias("max_cell"),
            F.sum(F.when(F.col("cell_size") > cap, F.col("cell_size") - cap).otherwise(0)).alias(
                "rows_above_cap"
            ),
        )
        .collect()[0]
    )
    report["audit"] = {
        "cells": stats["cells"],
        "max_cell": stats["max_cell"],
        "rows_above_cap": int(stats["rows_above_cap"]),
    }

    queries = vecs.filter(F.col("vec_id") < 50)
    cell_sizes = {r["list_id"]: r["cell_size"] for r in cell_stats(idx).collect()}
    probed = queries.select(
        F.explode(probe_list_ids("embedding", cents, nprobe)).alias("list_id")
    ).collect()
    uncapped_cands = sum(cell_sizes.get(r["list_id"], 0) for r in probed)
    capped_cands = sum(min(cell_sizes.get(r["list_id"], 0), cap) for r in probed)

    for label, mcs in (("uncapped", None), (f"cap{cap}", cap)):
        t0 = time.perf_counter()
        n = ivf_topk(
            idx, queries, "embedding", "vec_id", cents,
            k=top_k, nprobe=nprobe, max_cell_size=mcs,
        ).count()
        report[label] = {"rows": n, "sec": round(time.perf_counter() - t0, 2)}
    report["candidates"] = {
        "uncapped": uncapped_cands,
        "capped": capped_cands,
        "bound_nprobe_x_cap": len(probed) // max(1, queries.count()) * cap * queries.count(),
    }
    assert capped_cands <= uncapped_cands
    print(json.dumps(report))
    idx.unpersist()
    vecs.unpersist()


def corpus_scenario() -> None:
    """End-to-end corpus-prep funnel + wall time at the bench SF.

    Runs the base funnel three ways — no stats, observe-audited
    (single-pass), count-audited (one action per stage) — so the
    printed line shows what the production observe audit costs over a
    bare run (target: ~free) and what the debug count audit costs.
    The observe funnel is also appended to the run-metadata log via
    ``MetadataLogger`` extras, the production wiring.
    """
    import tempfile
    import time

    from open_data_pipelines_spark.plans.corpus_prep import prepare_corpus
    from open_data_pipelines_spark.session import get_spark
    from open_data_pipelines_spark.sinks.metadata import MetadataLogger

    spark = get_spark("stress-corpus")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # untimed warmup (codegen compile, shuffle service spin-up) so the
    # bare-vs-observe-vs-count comparison isn't skewed by first-run cost
    prepare_corpus(spark, sf_dir).count()

    t0 = time.perf_counter()
    prepare_corpus(spark, sf_dir).count()
    bare_sec = round(time.perf_counter() - t0, 2)

    log_dir = tempfile.mkdtemp(prefix="corpus_meta_")
    t0 = time.perf_counter()
    with MetadataLogger(
        spark, log_dir, data_source="stress-corpus", processor_type="corpus_prep"
    ) as m:
        chunked, stats = prepare_corpus(
            spark, sf_dir, with_stats=True, stats_via="observe"
        )
        m.rows_processed = stats["chunks"]
        m.extras.update({f"funnel_{k}": v for k, v in stats.items()})
    observe_sec = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    _, stats_eager = prepare_corpus(spark, sf_dir, with_stats=True)
    count_sec = round(time.perf_counter() - t0, 2)
    assert stats == stats_eager, f"observe/count funnel mismatch: {stats} {stats_eager}"

    print(
        json.dumps(
            {
                "scenario": "corpus_prep",
                "sf_dir": sf_dir,
                "bare_sec": bare_sec,
                "observe_sec": observe_sec,
                "count_sec": count_sec,
                "metadata_log": log_dir,
                **stats,
            }
        )
    )

    # full opt-in path: + decontaminate vs a synthetic benchmark,
    # train/val/test split, sequence packing into 512-token contexts
    from pyspark.sql import functions as F

    from open_data_pipelines_spark.operators.packing import packing_stats
    from open_data_pipelines_spark.session import load_tables

    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    bench = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    t0 = time.perf_counter()
    packed, stats2 = prepare_corpus(
        spark,
        sf_dir,
        with_stats=True,
        stats_via="observe",
        benchmark=bench,
        splits=(("train", 0.98), ("val", 0.01), ("test", 0.01)),
        pack_budget=512,
    )
    util = {
        k: (float(v) if v is not None else None)
        for k, v in packing_stats(packed, 512).collect()[0].asDict().items()
    }
    stats2["total_sec"] = round(time.perf_counter() - t0, 2)
    print(
        json.dumps(
            {"scenario": "corpus_prep_optin", "sf_dir": sf_dir, **stats2, **util}
        )
    )


def range_join_scenario() -> None:
    """Broadcast-vs-gridded crossover for the planar range join.

    Shape A (bench shape): 15k x 1k — a small dim side. Shape B: both
    sides 200k — past any broadcast threshold. Reports steady-state
    medians for each strategy plus what the auto chooser picked, so
    the crossover documented in STRESS.md stays measured, not assumed.
    """
    import statistics

    from pyspark.sql import functions as F

    from open_data_pipelines_spark.operators.joins import (
        range_join_within,
        range_join_within_auto,
        range_join_within_gridded,
    )
    from open_data_pipelines_spark.session import get_spark

    spark = get_spark("stress_range_join")
    spark.sparkContext.setLogLevel("ERROR")

    def pts(n: int, mx, my, side: str):
        return spark.range(n).select(
            F.col("id").alias(f"{side}id"),
            ((F.col("id") * mx) % 500).cast("double").alias(f"{side}x"),
            ((F.col("id") * my) % 500).cast("double").alias(f"{side}y"),
        )

    def timed(f) -> tuple[float, int]:
        rows = f().count()  # warmup
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            f().count()
            samples.append(time.perf_counter() - t0)
        return round(statistics.median(samples), 3), rows

    report: dict = {"scenario": "range_join_crossover", "radius": 25.0}
    for label, na, nb in (("small_dim_15k_x_1k", 15_000, 1_000), ("both_large_200k_x_200k", 200_000, 200_000)):
        a, b = pts(na, 37, 91, "a"), pts(nb, 53, 17, "b")
        auto_df = range_join_within_auto(a, b, "ax", "ay", "bx", "by", 25.0)
        picked = (
            "broadcast"
            if "BroadcastNestedLoopJoin" in auto_df._jdf.queryExecution().executedPlan().toString()
            else "gridded"
        )
        bc, rows = timed(lambda: range_join_within(a, F.broadcast(b), "ax", "ay", "bx", "by", 25.0))
        gr, rows2 = timed(lambda: range_join_within_gridded(a, b, "ax", "ay", "bx", "by", 25.0))
        assert rows == rows2
        report[label] = {"rows_out": rows, "broadcast_sec": bc, "gridded_sec": gr, "auto_picked": picked}
    print(json.dumps(report, indent=2))


def media_scenario(n_images: int = 2_000, n_audio: int = 500) -> None:
    """Perceptual-signature throughput for the multimodal dedup pack:
    decode + hash N real BMPs and WAVs through with_media_signature
    (one Arrow-batched pass), then the banded near-dup join over the
    signatures — evidence that pixels stay in the scan and only
    8-byte signatures cross the shuffle."""
    import math
    import statistics
    import struct as _struct

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from open_data_pipelines_spark.operators.image_dedup import image_near_dup_pairs
    from open_data_pipelines_spark.operators.media_codecs import encode_bmp, encode_wav
    from open_data_pipelines_spark.session import get_spark
    from open_data_pipelines_spark.streaming.media_stream import with_media_signature

    spark = get_spark("stress_media")
    spark.sparkContext.setLogLevel("ERROR")

    def bmp(seed: int, w=64, h=48):
        rgb = bytes(
            (x * 7 + y * 3 + seed) % 256
            for y in range(h)
            for x in range(w)
            for _ in range(3)
        )
        return encode_bmp(w, h, rgb)

    def wav(freq: int):
        rate, n = 8000, 4000
        samples = [int(12000 * math.sin(2 * math.pi * freq * i / rate)) for i in range(n)]
        return encode_wav(rate, 1, 16, _struct.pack(f"<{n}h", *samples))

    schema = T.StructType(
        [T.StructField("media_id", T.LongType()), T.StructField("content", T.BinaryType())]
    )
    rows = [(i, bmp(i % 50)) for i in range(n_images)]
    rows += [(n_images + i, wav(200 + (i % 40) * 10)) for i in range(n_audio)]
    df = spark.createDataFrame(rows, schema).repartition(32).persist()
    total = df.count()

    def timed(f):
        f()
        s = []
        for _ in range(3):
            t0 = time.perf_counter()
            f()
            s.append(time.perf_counter() - t0)
        return round(statistics.median(s), 3)

    sig_sec = timed(lambda: with_media_signature(df).write.format("noop").mode("overwrite").save())
    signed = with_media_signature(df).persist()
    signed.count()
    pair_sec = timed(
        lambda: image_near_dup_pairs(
            signed.filter(F.col("kind") == "image"), "media_id", hash_col="signature"
        ).write.format("noop").mode("overwrite").save()
    )
    print(
        json.dumps(
            {
                "scenario": "media_signatures",
                "rows": total,
                "signature_sec": sig_sec,
                "rows_per_sec": round(total / sig_sec),
                "near_dup_join_sec": pair_sec,
            }
        )
    )


def cc_gate_scenario() -> None:
    """Crossover evidence for connected_components' driver union-find
    gate: label random near-dup-shaped graphs (many small clusters) at
    increasing edge counts via both paths and report wall time. The
    driver path's cost is one bounded collect + O(E α(E)) python; the
    distributed loop pays per-round join+agg+checkpoint fixed costs —
    the gate exists because those fixed costs dominate until the edge
    set stops being dim-sized."""
    import time

    from pyspark.sql import functions as F

    from open_data_pipelines_spark.operators.graph import connected_components
    from open_data_pipelines_spark.session import get_spark

    spark = get_spark("stress-cc-gate")
    spark.sparkContext.setLogLevel("ERROR")
    report: dict = {"scenario": "cc_gate_crossover", "points": []}
    # warmup: pay JVM/codegen start once so the smallest point isn't
    # measuring session startup
    warm = spark.range(64).select(
        F.col("id").alias("id_a"), (F.col("id") - F.col("id") % 4).alias("id_b")
    ).filter(F.col("id_a") != F.col("id_b"))
    connected_components(warm, algorithm="auto").count()
    connected_components(warm, algorithm="auto", driver_max_edges=0).count()
    for n_rows in (1_000, 10_000, 100_000, 530_000):
        # near-dup shape: clusters of ~4 docs -> edges (i, i - i%4);
        # the i%4==0 self-loops are filtered, so UNIQUE edges =
        # 0.75 * n_rows — report the unique count, which is what
        # driver_max_edges gates on
        e = spark.range(n_rows).select(
            F.col("id").alias("id_a"), (F.col("id") - F.col("id") % 4).alias("id_b")
        ).filter(F.col("id_a") != F.col("id_b"))
        n_unique = e.distinct().count()
        t0 = time.perf_counter()
        n_driver = connected_components(e, algorithm="auto", driver_max_edges=10**9).count()
        t_driver = time.perf_counter() - t0
        t0 = time.perf_counter()
        n_dist = connected_components(e, algorithm="auto", driver_max_edges=0).count()
        t_dist = time.perf_counter() - t0
        assert n_driver == n_dist
        report["points"].append(
            {
                "unique_edges": n_unique,
                "nodes_labeled": n_driver,
                "driver_union_find_sec": round(t_driver, 2),
                "distributed_sec": round(t_dist, 2),
            }
        )
    print(json.dumps(report, indent=2))


def quality_model_scenario() -> None:
    """Training cost of the full-batch logistic-regression quality
    classifier at $SPARK_GRAFT_SF_DIR: every GD iteration is ONE
    map-side-combined aggregation over the persisted standardized
    feature frame, so the numbers to pin are (a) the fixed setup cost
    (featurize + stats + cache materialize, paid once) and (b) the
    cache-hit cost per iteration (the marginal knob n_iter buys).
    Labels here are synthetic (doc_id parity) — iteration cost depends
    on row count and feature width, not label quality. Scoring is the
    zero-join codegen projection over the full table."""
    import statistics

    from pyspark.sql import functions as F

    from open_data_pipelines_spark.operators.quality_model import (
        fit_quality_model,
        quality_model_filter,
    )
    from open_data_pipelines_spark.session import get_spark, load_tables

    spark = get_spark("stress-quality-model")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", BASE)
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    labeled = docs.select(
        "doc_id", "text", (F.col("doc_id") % 2).cast("int").alias("label")
    )
    n_rows = labeled.count()

    def fit_secs(n_iter: int) -> float:
        t0 = time.perf_counter()
        fit_quality_model(labeled, "text", "label", n_iter=n_iter)
        return time.perf_counter() - t0

    fit_secs(1)  # warmup: codegen + shuffle service
    t1 = statistics.median(fit_secs(1) for _ in range(3))
    t31 = statistics.median(fit_secs(31) for _ in range(3))
    per_iter = max(t31 - t1, 0.0) / 30

    model = fit_quality_model(labeled, "text", "label", n_iter=30)
    t0 = time.perf_counter()
    quality_model_filter(docs, model, "text", 0.5).write.format("noop").mode(
        "overwrite"
    ).save()
    score_sec = time.perf_counter() - t0

    print(
        json.dumps(
            {
                "scenario": "quality_model_fit",
                "sf_dir": sf_dir,
                "n_rows": n_rows,
                "fit_setup_plus_1iter_sec": round(t1, 3),
                "fit_31iter_sec": round(t31, 3),
                "cache_hit_sec_per_iter": round(per_iter, 4),
                "score_full_table_sec": round(score_sec, 3),
            },
            indent=2,
        )
    )



def media_funnel_scale_scenario(sizes=(100_000, 1_000_000)) -> None:
    """Does the composed media funnel scale linearly in rows? Same
    synthetic bronze-signed frame shape as bench.py's media_funnel
    entry (groups of 16 ids = 4 exact copies x 4 low-bit near-dup
    variants, 1/97 undecodable), generated at each size from
    spark.range — exercises exact (kind,signature) dedup, per-kind
    Hamming banding, connected components, quarantine re-union."""
    import time

    from pyspark.sql import functions as F

    from open_data_pipelines_spark.plans.media_prep import prepare_media_corpus
    from open_data_pipelines_spark.session import get_spark

    spark = get_spark("stress-media-funnel")
    spark.sparkContext.setLogLevel("ERROR")
    results = {}
    for n in sizes:
        grp = (F.col("id") / 16).cast("long")
        base = F.xxhash64(grp)
        frame = spark.range(n).select(
            F.col("id").alias("media_id"),
            F.lit(None).cast("binary").alias("content"),
            F.element_at(
                F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                (F.pmod(grp, F.lit(3)) + 1).cast("int"),
            ).alias("kind"),
            F.when(F.col("id") % 97 == 0, F.lit(None).cast("long"))
            .otherwise(base.bitwiseXOR(F.pmod(F.col("id"), F.lit(4))))
            .alias("signature"),
        )
        # .unpersist(): single pass straight to the sink — release the
        # returned persist per the documented lifetime contract so the
        # scenario measures the engine, not cache population
        prepare_media_corpus(frame, max_hamming=2).unpersist().write.format(
            "noop"
        ).mode("overwrite").save()  # warm
        t0 = time.perf_counter()
        out = prepare_media_corpus(frame, max_hamming=2).unpersist()
        out.write.format("noop").mode("overwrite").save()
        results[n] = {"wall_sec": round(time.perf_counter() - t0, 3)}
    import json as _json

    print(_json.dumps({"scenario": "media_funnel_scale", "sizes": results}))


def ivf_compact_scenario(sizes=(100_000, 1_000_000)) -> None:
    """Round 9: cost shape of the exactly-once maintenance paths.

    For each size: build a dim-16 IVF index, replay-append a 10% batch
    twice (the at-least-once posture), then measure (a)
    ``compact_ivf_index`` — one dropDuplicates shuffle + conflict scan
    + a rewrite published as a new index generation — and (b) a forced retrain with
    ``compact_on_retrain`` on vs off (the delta IS the dropDuplicates
    the retrain absorbs). Both should scale linearly in rows: the
    compaction shuffles (id, vector) rows once, never anything
    quadratic."""
    import tempfile
    import time

    from pyspark.sql import functions as F

    from open_data_pipelines_spark.operators.ivf import (
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        global_mean_dist2,
        maintain_ivf_index,
        train_centroids,
    )
    from open_data_pipelines_spark.session import get_spark

    spark = get_spark("stress-ivf-compact")
    spark.sparkContext.setLogLevel("ERROR")
    results = {}
    for n in sizes:
        dim = 16
        vecs = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.array(
                *[
                    (F.pmod(F.xxhash64(F.col("id") + F.lit(j)), F.lit(1000)) / 100.0)
                    for j in range(dim)
                ]
            ).alias("embedding"),
        )
        cents = train_centroids(vecs.limit(10_000), "embedding", "vec_id", k=16, iters=2)
        baseline = global_mean_dist2(vecs.limit(10_000), "embedding", cents)
        batch = vecs.filter(F.col("vec_id") % 10 == 0)
        with tempfile.TemporaryDirectory() as td:
            path = td + "/ivf"
            build_ivf_index(vecs, "embedding", "vec_id", cents, path=path)
            append_to_ivf_index(batch, "embedding", "vec_id", cents, path)
            append_to_ivf_index(batch, "embedding", "vec_id", cents, path)
            t0 = time.perf_counter()
            res = compact_ivf_index(spark, path, "vec_id")
            compact_sec = round(time.perf_counter() - t0, 3)
            # forced retrain (baseline scaled down so the gate trips)
            timings = {}
            for compact in (True, False):
                append_to_ivf_index(batch, "embedding", "vec_id", cents, path)
                t0 = time.perf_counter()
                maintain_ivf_index(
                    batch,
                    "embedding",
                    "vec_id",
                    cents,
                    path,
                    baseline_mean_dist2=1e-12,
                    retrain_factor=1.0,
                    iters=1,
                    compact_on_retrain=compact,
                )
                timings[compact] = round(time.perf_counter() - t0, 3)
        results[n] = {
            "compact_sec": compact_sec,
            "replay_rows_dropped": res["replay_rows"],
            "retrain_compact_on_sec": timings[True],
            "retrain_compact_off_sec": timings[False],
        }
    print(json.dumps({"scenario": "ivf_compact", "sizes": results}))


def substring_scenario(n_docs: int = 20_000) -> None:
    """Round 10: substring dedup's hot-window skew and the cap.

    Two corpora: (a) organic — docs of mostly-unique tokens with a
    10% verbatim shared passage (the operator's design case: few
    duplicated windows, each with few occurrences); (b) degenerate —
    30% of docs contain the same spam run, so ONE window hash has
    ~n_docs*run occurrences and the mark join key goes hot. Pins:
    the occurrence volume the degenerate corpus forces through the
    join without a cap, vs with ``max_occurrences`` (spam windows are
    repetition-filter territory, not substring dedup), and that wall
    time follows the marked-occurrence volume."""
    import time

    from pyspark.sql import functions as F

    from open_data_pipelines_spark.operators.substring_dedup import (
        duplicated_windows,
        duplication_stats,
    )
    from open_data_pipelines_spark.session import get_spark

    spark = get_spark("stress-substring")
    spark.sparkContext.setLogLevel("ERROR")
    k = 8
    shared = " ".join(f"s{i}" for i in range(40))
    organic = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.concat_ws(
                " ",
                *[
                    F.concat(F.lit("w"), F.conv(F.xxhash64(F.col("id") * 97 + j), 10, 16))
                    for j in range(40)
                ],
            ),
            F.when(F.col("id") % 10 == 0, F.lit(" " + shared)).otherwise(F.lit("")),
        ).alias("text"),
    )
    spam = " ".join(["buy"] * 60)
    degenerate = organic.withColumn(
        "text",
        F.when(F.col("doc_id") % 3 == 0, F.lit(spam)).otherwise(F.col("text")),
    )

    def timed(df, **kw):
        t0 = time.perf_counter()
        occ = duplicated_windows(df, "text", "doc_id", k=k, fast=True, **kw).count()
        stats = duplication_stats(df, "text", "doc_id", k=k, fast=True, **kw)
        docs_hit = stats.where("dup_tokens > 0").count()
        return {
            "marked_occurrences": occ,
            "docs_with_spans": docs_hit,
            "sec": round(time.perf_counter() - t0, 2),
        }

    out = {
        "scenario": "substring_skew",
        "n_docs": n_docs,
        "k": k,
        "organic": timed(organic),
        "degenerate_uncapped": timed(degenerate),
        # cap sits between the organic passage's ~2k occurrences and
        # the spam window's ~350k: spam expelled, real dedup kept
        "degenerate_cap_10k": timed(degenerate, max_occurrences=10_000),
    }
    print(json.dumps(out))


def dedup_scale_scenario(sizes=(50_000, 200_000, 800_000)) -> None:
    """Round 13 (VERDICT r12 task #7): the dedup family's two newest
    members — substring-span removal (Lee et al. 2022) and CCNet
    paragraph dedup — get the same 16x-growth pin their siblings
    carry (minhash/media index probes, cap_per_stratum). Synthetic
    three-paragraph docs in pure expressions: paragraph 2 is a
    verbatim shared paragraph on 10% of docs (paragraph-dedup work),
    paragraph 3 carries a shared 12-token passage on 5% (substring
    work), everything else hash-unique. The corpus is checkpointed so
    generation stays off the clock; the pin is wall microseconds per
    doc staying ~flat (or a documented slope) from 50k to 800k docs,
    with the removed-work counts scaling linearly (same per-doc
    structure at every size — a superlinear count would mean a
    corpus-size-dependent code path, not more data)."""
    import time

    from pyspark.sql import functions as F

    from open_data_pipelines_spark.operators.paragraph_dedup import dedup_paragraphs
    from open_data_pipelines_spark.operators.substring_dedup import (
        remove_duplicated_spans,
    )
    from open_data_pipelines_spark.session import get_spark

    spark = get_spark("stress-dedup-scale")
    spark.sparkContext.setLogLevel("ERROR")
    shared_para = " ".join(f"p{i}" for i in range(30))
    shared_pass = " ".join(f"s{i}" for i in range(12))
    results = {}
    for n in sizes:
        base = spark.range(0, n, 1, 32)

        def uniq(j):
            return F.concat(
                F.lit(f"w{j}x"),
                F.conv(F.xxhash64(F.col("id") * 31 + j), 10, 16),
            )

        text = F.concat(
            F.concat_ws(" ", *[uniq(j) for j in range(16)]),
            F.lit("\n\n"),
            F.when(F.col("id") % 10 == 0, F.lit(shared_para)).otherwise(
                F.concat_ws(" ", *[uniq(j) for j in range(16, 30)])
            ),
            F.lit("\n\n"),
            F.concat_ws(" ", *[uniq(j) for j in range(30, 42)]),
            F.when(F.col("id") % 20 == 5, F.lit(" " + shared_pass)).otherwise(
                F.lit("")
            ),
        )
        docs = base.select(
            F.col("id").alias("doc_id"), text.alias("text")
        ).localCheckpoint()

        t0 = time.perf_counter()
        paras = dedup_paragraphs(
            docs, "text", "doc_id", policy="keep_first", fast=True
        )
        para_cut = paras.where(F.col("n_kept") < F.col("n_paragraphs")).count()
        t_para = time.perf_counter() - t0

        # settle between operators: the paragraph stage's internal
        # lazy-checkpoint blocks otherwise linger into the substring
        # measurement (the bench.py _gc_settle rationale — measured
        # 115.7 s vs 70.2 s isolated on the 800k point, round 13)
        import gc as _gc

        del paras
        _gc.collect()
        spark.sparkContext._jvm.System.gc()

        t0 = time.perf_counter()
        spans = remove_duplicated_spans(docs, "text", "doc_id", k=8, fast=True)
        sub_cut = spans.where(F.col("dup_tokens") > 0).count()
        t_sub = time.perf_counter() - t0
        docs.unpersist()

        results[n] = {
            "paragraph_sec": round(t_para, 2),
            "paragraph_us_per_doc": round(t_para / n * 1e6, 1),
            "paragraph_docs_cut": para_cut,
            "substring_sec": round(t_sub, 2),
            "substring_us_per_doc": round(t_sub / n * 1e6, 1),
            "substring_docs_cut": sub_cut,
        }
    print(json.dumps({"scenario": "dedup_scale", "sizes": results}, indent=2))


def incremental_dedup_scenario(
    corpus_sizes=(100_000, 1_000_000, 4_000_000), batch_n: int = 20_000
) -> None:
    """Round 10: the incremental-dedup scale claim — admitting a fixed
    batch stays ~O(batch + index scan) as the seen index grows, while
    the batch-mode alternative (dropDuplicates over corpus+batch)
    re-shuffles the whole corpus every arrival. The probe never
    shuffles the seen side (broadcast semi + broadcast anti); the
    full re-dedup's shuffle grows linearly. Also pins the absolute
    probe cost per million indexed signatures."""
    import tempfile
    import time

    from pyspark.sql import functions as F

    from open_data_pipelines_spark.operators.incremental_dedup import (
        content_signature,
        dedup_against_index,
    )
    from open_data_pipelines_spark.session import get_spark

    spark = get_spark("stress-incr-dedup")
    spark.sparkContext.setLogLevel("ERROR")

    # ~600-char payload: the asymmetry under test is that the seen
    # INDEX holds only 8-byte signatures while batch-mode re-dedup
    # must shuffle whole rows (dropDuplicates returns the rows) — a
    # 16-byte synthetic row would hide exactly that cost
    def corpus(n, offset=0):
        return spark.range(n).select(
            (F.col("id") + offset).alias("doc_id"),
            F.concat(
                F.lit("doc "),
                (F.col("id") + offset).cast("string"),
                F.lit(" "),
                F.repeat(F.conv(F.xxhash64(F.col("id") + offset), 10, 16), 40),
            ).alias("text"),
        )

    # JVM/codegen warmup so size #1's probe is not start-up-inflated
    corpus(10_000).withColumn("sig", content_signature("text")).count()

    results = {}
    for n in corpus_sizes:
        seen = corpus(n)
        batch = corpus(batch_n, offset=n - batch_n // 2)  # 50% overlap
        with tempfile.TemporaryDirectory() as td:
            idx = td + "/seen"
            dedup_against_index(
                spark, seen, idx, content_signature("text"), "doc_id", batch_id=1
            ).count()
            t0 = time.perf_counter()
            fresh = dedup_against_index(
                spark, batch, idx, content_signature("text"), "doc_id", batch_id=2
            ).count()
            probe_sec = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        full = (
            seen.unionByName(batch)
            .withColumn("sig", content_signature("text"))
            .dropDuplicates(["sig"])
            .count()
        )
        full_sec = round(time.perf_counter() - t0, 2)
        results[n] = {
            "probe_and_publish_sec": probe_sec,
            "full_rededup_sec": full_sec,
            "fresh_rows": fresh,
            "full_rows": full,
        }
    print(json.dumps({"scenario": "incremental_dedup", "batch_n": batch_n, "sizes": results}))


def semdedup_scenario(n_vecs: int = 50_000, hot_fraction: float = 0.3) -> None:
    """Round 10: SemDeDup's quadratic term under a dense region.

    30% of the corpus is near-identical vectors, so one k-means cell
    holds ~hot_fraction of all rows — exactly the shape where
    cluster-blocked comparison degenerates to (f*N)²/2 pairs. The cap
    keeps each cell's centroid-nearest core: pair volume falls to its
    analytic ceiling (K * cap²/2) while sparse cells are untouched.
    The LSH analogue is `--skew`; the IVF probe analogue `--ivf-skew`.
    """
    import time

    from pyspark.sql import functions as F

    from open_data_pipelines_spark.operators.ivf import train_centroids
    from open_data_pipelines_spark.operators.semdedup import semantic_dup_pairs
    from open_data_pipelines_spark.session import get_spark

    spark = get_spark("stress-semdedup")
    spark.sparkContext.setLogLevel("ERROR")
    dim = 16
    n_hot = int(n_vecs * hot_fraction)
    hot = spark.range(n_hot).select(
        F.col("id").alias("vec_id"),
        F.array(
            # one dense direction + per-row epsilon: near-identical,
            # all land in one cell, pairwise cosine ~1
            *[
                (F.lit(10.0) + F.pmod(F.xxhash64(F.col("id") + F.lit(j)), F.lit(100)) / 1e5)
                for j in range(dim)
            ]
        ).alias("embedding"),
    )
    cold = spark.range(n_hot, n_vecs).select(
        F.col("id").alias("vec_id"),
        F.array(
            # SIGNED components: positive-orthant random vectors all
            # share cosine ~0.75 (every cell would saturate the cap
            # ceiling); centering them makes cold cells genuinely
            # diverse so the scenario isolates the hot region
            *[
                ((F.pmod(F.xxhash64(F.col("id") + F.lit(j)), F.lit(2000)) - F.lit(1000)) / 100.0)
                for j in range(dim)
            ]
        ).alias("embedding"),
    )
    vecs = hot.unionByName(cold)
    # train on the FULL union: a prefix sample is all-hot (ids 0..n_hot
    # lead), which would plant every centroid inside the dense blob and
    # partition IT 16 ways instead of isolating it
    cents = train_centroids(vecs, "embedding", "vec_id", k=16, iters=2)

    def timed(cap):
        t0 = time.perf_counter()
        n = semantic_dup_pairs(
            vecs, "embedding", "vec_id", 0.95, centroids=cents, max_cluster_size=cap
        ).count()
        return {"pairs": n, "sec": round(time.perf_counter() - t0, 2)}

    capped = timed(64)
    # the uncapped run is the quadratic baseline — bounded corpus here,
    # but (f*N)^2/2 by construction; report so the cap's cut is pinned
    uncapped = timed(None)
    print(
        json.dumps(
            {
                "scenario": "semdedup_skew",
                "n_vecs": n_vecs,
                "hot_fraction": hot_fraction,
                "uncapped": uncapped,
                "capped_64": capped,
                "cap_ceiling_pairs": 16 * 64 * 63 // 2,
            }
        )
    )


def near_dedup_scenario(
    corpus_sizes=(50_000, 200_000, 800_000), batch_n: int = 5_000
) -> None:
    """Round 11: the band-index scale claim, the near-dup twin of
    ``--incremental-dedup`` — admitting a fixed batch against the
    persisted MinHash band index stays ~O(batch + index scan) as the
    index grows, while the batch-mode alternative
    (minhash_lsh_candidates over corpus+batch) re-shingles and
    re-bands the whole corpus every arrival. The probe broadcasts
    only the batch's band keys; the index side is an 8-byte-ish
    band-row scan, never shuffled."""
    import tempfile
    import time

    from pyspark.sql import functions as F

    from open_data_pipelines_spark.operators.minhash_index import (
        near_dedup_against_index,
    )
    from open_data_pipelines_spark.operators.text_dedup import (
        minhash_lsh_candidates,
    )
    from open_data_pipelines_spark.session import get_spark

    spark = get_spark("stress-near-dedup")
    spark.sparkContext.setLogLevel("ERROR")

    # ~15-token synthetic docs, half the batch near-duplicating seen
    # docs (same token stream, one token changed), half fresh
    def corpus(n, offset=0, mutate=False):
        base = spark.range(n).select((F.col("id") + offset).alias("doc_id"))
        words = [
            F.concat(F.lit(f"w{j}_"), F.pmod(F.xxhash64(F.col("doc_id") + j), F.lit(5000)).cast("string"))
            for j in range(15)
        ]
        if mutate:
            words[7] = F.lit("mutated_token")
        return base.select("doc_id", F.concat_ws(" ", *words).alias("text"))

    corpus(5_000).count()  # warmup

    results = {}
    for n in corpus_sizes:
        seen = corpus(n)
        # batch: half near-dups of seen rows (re-keyed + one-token
        # mutation), half brand-new content past the corpus range
        near = corpus(batch_n // 2, offset=0, mutate=True).withColumn(
            "doc_id", F.col("doc_id") + 10_000_000
        )
        fresh_half = corpus(batch_n // 2, offset=n + 1_000_000)
        batch = near.unionByName(fresh_half)
        with tempfile.TemporaryDirectory() as td:
            idx = td + "/bands"
            near_dedup_against_index(
                spark, seen, idx, "text", "doc_id", batch_id=1, fast=True
            ).count()
            t0 = time.perf_counter()
            admitted = near_dedup_against_index(
                spark, batch, idx, "text", "doc_id", batch_id=2, fast=True
            ).count()
            probe_sec = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        pairs = minhash_lsh_candidates(
            seen.unionByName(batch), "text", "doc_id", fast=True
        ).count()
        full_sec = round(time.perf_counter() - t0, 2)
        results[n] = {
            "probe_and_publish_sec": probe_sec,
            "full_rebanding_sec": full_sec,
            "admitted_rows": admitted,
            "full_candidate_pairs": pairs,
        }
    print(json.dumps({"scenario": "near_dedup", "batch_n": batch_n, "sizes": results}))


def media_band_index_scenario(
    corpus_sizes=(50_000, 200_000, 800_000), batch_n: int = 5_000
) -> None:
    """Round 12: the MEDIA twin of ``--near-dedup`` (r11 verdict task
    #4) — admitting a fixed batch of perceptual signatures against the
    persisted per-kind band index as the index grows 16x, vs the
    batch-mode alternative (re-banding the whole corpus+batch into
    pairs every arrival). Signatures are web-shaped, not uniform
    random: seen items draw from a pool of ``n/5`` distinct base
    signatures (real perceptual hashes cluster heavily —
    mass-duplicated thumbnails, re-encodes), with the batch half
    near-dups (2 flipped low bits, within max_hamming=6 — must be
    REJECTED) and half genuinely fresh content (must be ADMITTED)."""
    import tempfile
    import time

    from pyspark.sql import functions as F

    from open_data_pipelines_spark.operators.image_dedup import (
        image_near_dup_pairs,
    )
    from open_data_pipelines_spark.operators.media_band_index import (
        near_dedup_media_against_index,
    )
    from open_data_pipelines_spark.session import get_spark

    spark = get_spark("stress-media-band")
    spark.sparkContext.setLogLevel("ERROR")

    def corpus(n, pool, offset=0, mutate=False, fresh=False):
        base = spark.range(n).select((F.col("id") + offset).alias("media_id"))
        src = F.col("media_id") % 10_000_000  # pre-re-key identity
        # seen/near rows draw from a pool of n/5 base signatures
        # (~5 copies each — web-shaped duplication); fresh rows get
        # their own signature (distinct salt so they can never collide
        # with a pool signature)
        sig = (
            F.xxhash64(src, F.lit("fresh"))
            if fresh
            else F.xxhash64(F.pmod(src, F.lit(pool)), F.lit("sig"))
        )
        if mutate:
            sig = sig.bitwiseXOR(F.lit(3))  # hamming 2 <= max_hamming 6
        kind = F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(src, F.lit(3)) + 1).cast("int"),
        )
        return base.select(
            "media_id", kind.alias("kind"), sig.alias("signature")
        )

    corpus(5_000, 100).count()  # warmup

    results = {}
    for n in corpus_sizes:
        pool = max(n // 5, 1)
        seen = corpus(n, pool)
        near = corpus(batch_n // 2, pool, mutate=True).withColumn(
            "media_id", F.col("media_id") + 10_000_000
        )
        fresh = corpus(batch_n - batch_n // 2, pool, offset=n + 1_000_000, fresh=True)
        batch = near.unionByName(fresh)
        with tempfile.TemporaryDirectory() as td:
            idx = td + "/media-bands"
            near_dedup_media_against_index(
                spark, seen, idx, "signature", "media_id", "kind", batch_id=1
            ).count()
            t0 = time.perf_counter()
            admitted = near_dedup_media_against_index(
                spark, batch, idx, "signature", "media_id", "kind", batch_id=2
            ).count()
            probe_sec = round(time.perf_counter() - t0, 2)
        # batch-mode alternative at the same dedup standard: per-kind
        # banded pairs over corpus+batch (what a re-compaction pays)
        allr = seen.unionByName(batch)
        t0 = time.perf_counter()
        pairs = 0
        for kind in ("image", "audio", "video"):
            pairs += image_near_dup_pairs(
                allr.filter(F.col("kind") == kind),
                "media_id",
                "signature",
                max_hamming=6,
                band_bits=8,
            ).count()
        full_sec = round(time.perf_counter() - t0, 2)
        results[n] = {
            "probe_and_publish_sec": probe_sec,
            "full_rebanding_sec": full_sec,
            "admitted_rows": admitted,
            "full_candidate_pairs": pairs,
        }
    print(json.dumps({"scenario": "media_band_index", "batch_n": batch_n, "sizes": results}))


def webdataset_scenario(sizes=(100_000, 400_000), n_shards=32) -> None:
    """Does the tar-shard sink scale linearly in samples? Synthetic
    ~1 KB text samples generated in pure expressions; each size writes
    to a fresh directory (the sink refuses published dirs) and reads
    back via the manifest-driven binaryFile path. The numbers to pin:
    write wall ~linear in rows (one hash repartition + sequential tar
    streams), read-back likewise, byte volume conserved."""
    import shutil
    import statistics
    import tempfile

    from pyspark.sql import functions as F

    from open_data_pipelines_spark.session import get_spark
    from open_data_pipelines_spark.sinks.webdataset import (
        read_webdataset,
        write_webdataset,
    )

    spark = get_spark("stress-webdataset")
    spark.sparkContext.setLogLevel("ERROR")

    results = {}
    for n in sizes:
        frame = spark.range(n).select(
            F.concat(F.lit("s"), F.col("id").cast("string")).alias("sample_key"),
            F.repeat(
                F.concat(F.lit("tok"), F.pmod(F.xxhash64("id"), F.lit(997)).cast("string"), F.lit(" ")),
                F.lit(100),
            ).alias("text"),
        ).localCheckpoint()
        try:
            def one() -> tuple:
                d = tempfile.mkdtemp(prefix="wds_stress_")
                try:
                    t0 = time.perf_counter()
                    manifest = write_webdataset(
                        frame, d, "sample_key", {"text": "txt"}, n_shards=n_shards
                    )
                    w = time.perf_counter() - t0
                    t0 = time.perf_counter()
                    n_back = read_webdataset(spark, d).count()
                    r = time.perf_counter() - t0
                    assert n_back == manifest["n_samples"] == n
                    return w, r, sum(s_["bytes"] for s_ in manifest["shards"])
                finally:
                    shutil.rmtree(d, ignore_errors=True)

            one()  # warmup
            runs = [one() for _ in range(3)]
            w = statistics.median(x[0] for x in runs)
            r = statistics.median(x[1] for x in runs)
            total_bytes = runs[0][2]
            results[n] = {
                "write_sec": round(w, 3),
                "read_sec": round(r, 3),
                "write_mb_s": round(total_bytes / w / 1e6, 1),
                "total_mb": round(total_bytes / 1e6, 1),
            }
        finally:
            frame.unpersist()
        print(json.dumps({"n": n, **results[n]}))

    print(json.dumps({"scenario": "webdataset", "n_shards": n_shards, "sizes": results}, indent=2))


def semantic_decon_scenario(sizes=(50_000, 200_000, 800_000), bench_n=2_000) -> None:
    """Does embedding decontamination stay row-linear as the CORPUS
    grows with a FIXED benchmark? Synthetic unit vectors in pure
    expressions (dim 32, xxhash64-derived, no driver data); 1%% of
    each corpus is a planted near-copy of a benchmark vector (tiny
    one-axis nudge). The numbers to pin: LSH probe cost ~linear in
    corpus rows (the bench side is a constant broadcast; banding
    explodes only ids), recall = every planted twin flagged at every
    size, and the exact cross-product alternative growing
    corpus-linearly with a |bench|x multiplier that makes it the
    wrong default long before these sizes."""
    import statistics

    from pyspark.sql import functions as F

    from open_data_pipelines_spark.operators.contamination import (
        embedding_contamination,
    )
    from open_data_pipelines_spark.session import get_spark

    spark = get_spark("stress-semantic-decon")
    spark.sparkContext.setLogLevel("ERROR")
    DIM = 32

    def unit_vec(seed_col, salt):
        comps = F.array(
            *[
                (
                    F.pmod(F.xxhash64(seed_col, F.lit(salt), F.lit(i)), F.lit(2001))
                    - F.lit(1000)
                ).cast("double")
                for i in range(DIM)
            ]
        )
        norm = F.sqrt(F.aggregate(comps, F.lit(0.0), lambda a, x: a + x * x))
        return F.transform(comps, lambda x: x / norm)

    bench = spark.range(bench_n).select(
        F.col("id").alias("bench_id"), unit_vec(F.col("id"), "bench").alias("embedding")
    ).localCheckpoint()

    results = {}
    for n in sizes:
        # 1% planted twins: same base vector as bench_id = id % bench_n,
        # nudged by renormalizing after a tiny first-axis bump
        is_twin = F.pmod(F.col("id"), F.lit(100)) == 0
        base_vec = F.when(
            is_twin, unit_vec(F.pmod(F.col("id"), F.lit(bench_n)), "bench")
        ).otherwise(unit_vec(F.col("id"), "corpus"))
        nudged = F.when(
            is_twin,
            F.transform(
                base_vec, lambda x, i: x + F.when(i == 0, F.lit(1e-3)).otherwise(F.lit(0.0))
            ),
        ).otherwise(base_vec)
        corpus = spark.range(n).select(
            F.col("id").alias("vec_id"), nudged.alias("embedding")
        ).localCheckpoint()
        try:
            def probe() -> float:
                t0 = time.perf_counter()
                embedding_contamination(
                    corpus, bench, threshold=0.999
                ).write.format("noop").mode("overwrite").save()
                return time.perf_counter() - t0

            probe()
            sec = statistics.median(probe() for _ in range(3))
            flagged = (
                embedding_contamination(corpus, bench, threshold=0.999)
                .select("vec_id").distinct().count()
            )
            planted = n // 100
            results[n] = {
                "lsh_sec": round(sec, 3),
                "us_per_row": round(sec * 1e6 / n, 2),
                "flagged": flagged,
                "planted": planted,
            }
            if n == sizes[0]:
                t0 = time.perf_counter()
                embedding_contamination(
                    corpus, bench, threshold=0.999, exact=True
                ).write.format("noop").mode("overwrite").save()
                results[n]["exact_sec"] = round(time.perf_counter() - t0, 3)
        finally:
            corpus.unpersist()
        print(json.dumps({"n": n, **results[n]}))

    print(json.dumps({"scenario": "semantic_decon", "bench_n": bench_n, "sizes": results}, indent=2))


def lang_classifier_scenario(sizes=(100_000, 400_000, 1_600_000)) -> None:
    """Does trained-langid scoring scale linearly in corpus rows with
    a FIXED broadcast model? The multilingual corpus is synthesized in
    pure expressions (per-language literal word pools indexed by
    xxhash64 — no driver data at any size); the model trains once on a
    5k-row prefix and every size scores ids_only -> noop. The numbers
    to pin: per-row cost FLAT across a 16x growth (the model side is a
    constant broadcast; the explode/agg pipeline is row-linear), and
    recovery accuracy stable at every size."""
    import statistics

    from pyspark.sql import functions as F

    from open_data_pipelines_spark.operators.lang_classifier import (
        fit_lang_classifier,
        predict_language,
    )
    from open_data_pipelines_spark.session import get_spark

    POOLS = {
        "en": "the quick brown fox jumps over a lazy dog and runs with great speed toward the old barn every morning".split(),
        "fr": "le chat est sur la table et il dort avec une grande joie pendant que nous mangeons du pain chaud".split(),
        "de": "der hund läuft schnell durch den wald und über die wiese während wir heute abend zusammen essen".split(),
        "es": "el perro corre por la casa y come con mucho gusto mientras nosotros hablamos despacio esta noche".split(),
        "zh": list("的一是在不了有和人这中大为上个国我以要他时来用们生到作地于出就分对成会可主发年动"),
    }
    langs = sorted(POOLS)

    spark = get_spark("stress-lang-classifier")
    spark.sparkContext.setLogLevel("ERROR")

    def corpus(n_rows: int):
        def gen(l):
            words = POOLS[l]
            arr = F.array(*[F.lit(w) for w in words])
            sep = "" if l == "zh" else " "
            return F.concat_ws(
                sep,
                F.transform(
                    F.sequence(F.lit(1), F.lit(20)),
                    lambda j: F.element_at(
                        arr,
                        (
                            F.pmod(F.xxhash64(F.col("id"), j, F.lit(l)), F.lit(len(words)))
                            + 1
                        ).cast("int"),
                    ),
                ),
            )

        lang = F.element_at(
            F.array(*[F.lit(l) for l in langs]),
            (F.pmod(F.col("id"), F.lit(len(langs))) + 1).cast("int"),
        )
        text = None
        for l in langs:
            branch = gen(l)
            text = F.when(lang == l, branch) if text is None else text.when(lang == l, branch)
        return spark.range(n_rows).select(
            F.col("id").alias("doc_id"), lang.alias("lang"), text.alias("text")
        )

    model = fit_lang_classifier(corpus(5_000), "text", "lang", n=3, vocab_size=2048)

    from open_data_pipelines_spark.operators.lang_classifier import (
        lang_pandas_predictor,
    )

    results = {}
    for n in sizes:
        frame = corpus(n).localCheckpoint()  # generation cost out of the timing
        try:
            def one() -> float:
                t0 = time.perf_counter()
                predict_language(frame, model, "text", "doc_id", ids_only=True).write.format(
                    "noop"
                ).mode("overwrite").save()
                return time.perf_counter() - t0

            # round 14 (VERDICT r13 #3): the STREAMING gate form — the
            # Arrow-batched pandas predictor the on-arrival gate runs —
            # timed on the identical frame; its µs/row must sit within
            # ~2x of the batch path's (it pays Arrow transfer + Python
            # numpy scoring instead of JVM explode+join+agg)
            udf = lang_pandas_predictor(model)

            def one_stream() -> float:
                t0 = time.perf_counter()
                frame.select(
                    "doc_id", udf(F.col("text")).alias("pred_lang")
                ).write.format("noop").mode("overwrite").save()
                return time.perf_counter() - t0

            one()  # warmup
            sec = statistics.median(one() for _ in range(3))
            one_stream()  # warmup
            sec_stream = statistics.median(one_stream() for _ in range(3))
            preds = predict_language(frame, model, "text", "doc_id", ids_only=True)
            hits = (
                preds.join(frame.select("doc_id", "lang"), "doc_id")
                .filter(F.col("pred_lang") == F.col("lang"))
                .count()
            )
            stream_agree = (
                frame.select(
                    "doc_id", "lang", udf(F.col("text")).alias("pred_lang")
                )
                .filter(F.col("pred_lang") == F.col("lang"))
                .count()
            )
            results[n] = {
                "score_sec": round(sec, 3),
                "us_per_row": round(sec * 1e6 / n, 2),
                "accuracy": round(hits / n, 4),
                "stream_sec": round(sec_stream, 3),
                "stream_us_per_row": round(sec_stream * 1e6 / n, 2),
                "stream_accuracy": round(stream_agree / n, 4),
            }
        finally:
            frame.unpersist()
        print(json.dumps({"n": n, **results[n]}))

    print(json.dumps({"scenario": "lang_classifier", "sizes": results}, indent=2))

    # round 14 (VERDICT r13 #4): label-cardinality scale point — a
    # CCNet-realistic 64-label model grows the pivoted aggregation to
    # 128 aggregate columns; prove µs/row stays in the same regime and
    # the grouped two-exchange shape holds (plan pinned in
    # tests/test_lang_classifier.py::test_many_label_grouped_shape)
    n_labels = 64
    big_langs = [f"l{i:02d}" for i in range(n_labels)]

    def corpus_many(n_rows: int):
        lbl_arr = F.array(*[F.lit(l) for l in big_langs])
        li = F.pmod(F.col("id"), F.lit(n_labels)).cast("int")
        word = F.concat(
            F.lit("w"),
            F.lpad(li.cast("string"), 2, "0"),
            F.lit("x"),
            F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(10)).cast("string"),
        )
        text = F.concat_ws(
            " ", F.transform(F.sequence(F.lit(1), F.lit(20)), lambda _: word)
        )
        return spark.range(n_rows).select(
            F.col("id").alias("doc_id"),
            F.element_at(lbl_arr, li + 1).alias("lang"),
            text.alias("text"),
        )

    model64 = fit_lang_classifier(
        corpus_many(6_400), "text", "lang", n=3, vocab_size=4096
    )
    assert len(model64.labels) == n_labels
    many = {}
    for n in (100_000, 400_000):
        frame = corpus_many(n).localCheckpoint()
        try:
            def one64() -> float:
                t0 = time.perf_counter()
                predict_language(
                    frame, model64, "text", "doc_id", ids_only=True
                ).write.format("noop").mode("overwrite").save()
                return time.perf_counter() - t0

            one64()
            sec = statistics.median(one64() for _ in range(3))
            preds = predict_language(frame, model64, "text", "doc_id", ids_only=True)
            hits = (
                preds.join(frame.select("doc_id", "lang"), "doc_id")
                .filter(F.col("pred_lang") == F.col("lang"))
                .count()
            )
            many[n] = {
                "score_sec": round(sec, 3),
                "us_per_row": round(sec * 1e6 / n, 2),
                "accuracy": round(hits / n, 4),
            }
        finally:
            frame.unpersist()
        print(json.dumps({"n": n, "labels": n_labels, **many[n]}))
    print(
        json.dumps(
            {"scenario": "lang_classifier_64_labels", "sizes": many}, indent=2
        )
    )


def domain_cap_scenario(n_rows: int = 4_000_000, n_domains: int = 200_000) -> None:
    """Round 10 (session 3): per-domain caps under web-shaped domain
    skew — one mega-domain holds 25% of the corpus, a long tail of
    200k domains holds the rest, far past what a driver-side fractions
    dict (stratified_sample / rebalance_to_mix) is built for.

    Measures the expected-mode cap (count agg + auto-broadcast join,
    zero corpus shuffle) against the exact-mode window (per-stratum
    row_number — the hot domain serializes on one task), so the
    docstring's "reserve exact for bounded strata" is a pinned number,
    not advice.
    """
    import time

    from pyspark.sql import functions as F

    from open_data_pipelines_spark.operators.sampling import cap_per_stratum
    from open_data_pipelines_spark.session import get_spark

    spark = get_spark("stress-domain-cap")
    spark.sparkContext.setLogLevel("ERROR")
    hot_n = n_rows // 4
    rows = spark.range(n_rows).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < hot_n, F.lit("megadomain.example"))
        .otherwise(
            F.concat(
                F.lit("d"),
                F.pmod(F.xxhash64("id"), F.lit(n_domains)).cast("string"),
            )
        )
        .alias("domain"),
        # ~200-char payload so the "zero corpus shuffle" claim is
        # about real row widths, not empty projections
        F.repeat(F.md5(F.col("id").cast("string")), 6).alias("text"),
    )
    rows = rows.localCheckpoint()  # input cost out of both timings

    def timed(exact):
        t0 = time.perf_counter()
        out = cap_per_stratum(rows, "domain", 100, "doc_id", exact=exact)
        n = out.count()
        return {"kept": n, "sec": round(time.perf_counter() - t0, 2)}

    expected = timed(False)
    exact = timed(True)
    print(
        json.dumps(
            {
                "scenario": "domain_cap",
                "n_rows": n_rows,
                "n_domains": n_domains,
                "hot_fraction": 0.25,
                "expected_mode": expected,
                "exact_mode": exact,
            }
        )
    )
    spark.stop()


def relational_scale_scenario(factors=(1, 4, 16)) -> None:
    """Round 15 (VERDICT r14 #2): growth pins for the relational
    headline cohort — `agg_battery`, `group_sum`, `scd2_merge`, and
    the `impact_score` DAG (the reference semantics:
    impact_scores_england.sql, section_58.py). The LLM families have
    16x curves; this cohort had only the sf0.1 bench point while its
    normalized ratios drifted (1.16-1.25x).

    For each growth factor the queries run through the normal
    ``queries()`` surface on a key-shifted copy of sf0.1 (the
    round-1 ``build`` machinery), and the scenario records BOTH the
    per-fact-row cost (µs/row — flat or falling means linear scaling)
    and the EXECUTED shuffle count from the status store (the
    explain_audit counter). The plan-shape assertion is that the
    executed shuffle count is CONSTANT in the growth factor: a
    partition strategy that held at 1x but re-planned into extra
    exchanges at 16x would show up here before it shows up on a
    1000-executor cluster.
    """
    import __spark_entry__ as e
    from tools.explain_audit import executed_shuffles

    from open_data_pipelines_spark.session import get_spark

    # dominant fact table per query: the per-row denominator
    fact_of = {
        "agg_battery": ("orders",),
        "group_sum": ("lineitem",),
        "scd2_merge": ("events",),
        "impact_score": ("orders", "lineitem"),
    }
    spark = get_spark("stress-relational-scale")
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    report = []
    try:
        for factor in factors:
            dest = BASE if factor == 1 else f"/tmp/stress_rel_x{factor}"
            if factor != 1:
                from open_data_pipelines_spark.session import TESTDATA_TABLES

                if not all(
                    os.path.exists(os.path.join(dest, f"{t}.parquet"))
                    for t in TESTDATA_TABLES
                ):
                    t0 = time.perf_counter()
                    build(spark, factor, dest)
                    print(
                        f"built x{factor} in {time.perf_counter()-t0:.1f}s",
                        file=sys.stderr,
                    )
            n_rows = {
                t: spark.read.parquet(os.path.join(dest, f"{t}.parquet")).count()
                for t in ("orders", "lineitem", "events")
            }
            for name in fact_of:
                fn = qs[name]
                fn(spark, dest).write.format("noop").mode("overwrite").save()  # warm
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                run, total = executed_shuffles(
                    spark, fn, dest, f"relscale_{name}_x{factor}"
                )
                sec = round(time.perf_counter() - t0, 3)
                plan = (
                    fn(spark, dest)._jdf.queryExecution().executedPlan().toString()
                )
                denom = sum(n_rows[t] for t in fact_of[name])
                report.append(
                    {
                        "query": name,
                        "factor": factor,
                        "fact_rows": denom,
                        "sec": sec,
                        "us_per_row": round(sec / denom * 1e6, 3),
                        "executed_shuffles": run,
                        "executed_total": total,
                        "broadcast_joins": plan.count("BroadcastHashJoin"),
                        "shuffle_joins": plan.count("SortMergeJoin")
                        + plan.count("ShuffledHashJoin"),
                    }
                )
                print(json.dumps(report[-1]), file=sys.stderr)
    finally:
        for factor in factors:
            if factor != 1 and "--keep" not in sys.argv:
                shutil.rmtree(f"/tmp/stress_rel_x{factor}", ignore_errors=True)
    # plan-shape assertion: the executed exchange count never grows
    # with the data EXCEPT through a broadcast->shuffle join-strategy
    # flip (a scaled side crossing autoBroadcastJoinThreshold — the
    # CORRECT adaptive behavior at growth: a fact-derived frame must
    # not stay broadcast at 100 TB; measured on impact_score at x16,
    # 4 -> 5 executed with 2 joins flipping to SortMergeJoin).
    # Unexplained growth — more exchanges with the SAME join
    # strategies — is the regression this scenario exists to catch.
    shape_ok = True
    for name in fact_of:
        pts = sorted(
            (r for r in report if r["query"] == name), key=lambda r: r["factor"]
        )
        base = pts[0]
        for p in pts[1:]:
            grew = p["executed_shuffles"] - base["executed_shuffles"]
            flipped = p["shuffle_joins"] - base["shuffle_joins"]
            if grew > 0 and flipped <= 0:
                shape_ok = False
                print(
                    f"SHAPE REGRESSION {name}: x{p['factor']} executes "
                    f"{p['executed_shuffles']} shuffles vs "
                    f"{base['executed_shuffles']} at 1x with no join-strategy "
                    "flip to explain it",
                    file=sys.stderr,
                )
    print(
        json.dumps(
            {
                "scenario": "relational_scale",
                "base": "sf0.1",
                "factors": list(factors),
                "shape_constant": shape_ok,
                "points": report,
            }
        )
    )
    spark.stop()
    if not shape_ok:
        sys.exit(1)


def _task_spread(spark, group: str) -> dict:
    """Worst-stage task-time spread for the job group: for each stage
    the group ran, the executorRunTime distribution from the status
    store, reported for the stage with the largest max task —
    (median_ms, max_ms, n_tasks, skew = max/median). A serialized hot
    key shows up as skew >> 1 on the reduce stage."""
    from open_data_pipelines_spark import metrics

    stages = [
        {
            "stage": st.id,
            "n_tasks": st.completed_tasks,
            "read_mb": st.shuffle_read_bytes // (1 << 20),
            "median_ms": round(st.median_run_ms),
            "max_ms": round(st.max_run_ms),
            "skew": round(st.max_run_ms / max(st.median_run_ms, 1.0), 1),
        }
        for st in metrics.stages(spark, metrics.jobs(spark, group)).values()
        if st.status != "SKIPPED"
    ]
    if not stages:
        return {}
    # the map-side scan can dominate max_ms while being perfectly
    # even; the SKEW signal lives on whichever stage has the worst
    # max/median ratio — report both views, plus the stage doing the
    # shuffle-read work (for joins: the join stage itself)
    out = {
        "worst_by_max": max(stages, key=lambda s: s["max_ms"]),
        "worst_by_skew": max(stages, key=lambda s: (s["skew"], s["max_ms"])),
    }
    readers = [s for s in stages if s.get("read_mb", 0) > 0]
    if readers:
        out["biggest_read"] = max(readers, key=lambda s: s["read_mb"])
    return out


def relational_skew_scenario(n_rows: int = 8_000_000) -> None:
    """Round 15 (VERDICT r14 #3): a zipf(1.2)-hot entity key through
    the merge/agg family, with measured task-time spread.

    Key draw: inverse-CDF Pareto tail — ``k = ceil(u^-5)`` capped, so
    P(K > x) = x^-0.2 (zipf exponent s = 1.2) and the hottest key
    holds ~13% of all rows. Four measurements:

    1. plain ``groupBy(key).sum`` — algebraic aggs partial-combine
       map-side, so the hot key reaches the reducer as one partial per
       map task; expected skew ~1 (salting NOT needed — the evidence
       behind salted_sum's docstring).
    2. ``salted_sum`` on the same input — same answer, one extra
       shuffle; the escape for poor combine ratios / non-algebraic
       states, priced here.
    3. ``top1_per_key`` (row_number window — the scd2 staging dedup):
       MEASURED SAFE on Spark 4 — the ``rn = 1`` filter compiles to a
       map-side WindowGroupLimit (SPARK-37099) that pre-reduces every
       input partition to one row per key before the shuffle, so the
       hot key never concentrates. The protection is FILTER-SHAPED:
       it exists only for rank/row_number group limits.
    4. ``top1_per_key_agg`` (max_by) — the algebraic twin; same flat
       spread, the form whose immunity doesn't depend on a
       pattern-matched optimizer rule.
    5. ``running_window`` — a running SUM over the hot key (no group
       limit, so no WindowGroupLimit): the REAL window hazard. AQE
       cannot split a window partition; the hot key's rows sort and
       scan inside one task (measured skew ~5x at a 13% hot share).
    6. ``running_scaled`` — the escape:
       :func:`..operators.aggregates.running_sum_scaled`, the
       two-pass distributed prefix sum (range partition ->
       (pid, key)-local window -> bounded boundary-offset broadcast).
       Expected: per-task MAX bounded by the range-partition size
       (n_rows / num_partitions, key-distribution-independent);
       residual spread is placement noise, NOT hot-key mass; wall
       2-4x the plain window at this scale — the insurance premium.

    Plus the join axis: the skewed fact sort-merge-joined to a
    non-broadcastable dim with AQE skew-join OFF vs ON
    (skewedPartitionThresholdInBytes lowered to 8m for demo bytes;
    the factor-5 test fires because hot-share x partition-count =
    0.13 x 128 ≈ 16 — on a real cluster's thousands of partitions the
    256 MB default fires without tuning). The join stage is the one
    with the largest shuffle read; AQE splits the hot partition and
    its task-time spread collapses.
    """
    from pyspark.sql import functions as F

    from open_data_pipelines_spark.operators.aggregates import salted_sum
    from open_data_pipelines_spark.operators.dedup import (
        top1_per_key,
        top1_per_key_agg,
    )
    from open_data_pipelines_spark.session import get_spark

    spark = get_spark(
        "stress-relational-skew",
        extra_conf={
            # 128 shuffle partitions: with a 13%-hot key the skewed
            # partition is ~16x the median, so AQE's DEFAULT
            # skewedPartitionFactor=5 fires exactly as it would on a
            # real cluster's thousands of partitions (at 32 the ratio
            # is 0.13*32 = 4.2 and the factor-5 test can NEVER pass —
            # hot-share x partition-count is the quantity that
            # matters, not bytes)
            "spark.sql.shuffle.partitions": "128",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    u = (F.pmod(F.xxhash64("id"), F.lit(1_000_000)) + 1) / 1_000_000.0
    key = F.least(
        F.ceil(F.pow(u, F.lit(-5.0))), F.lit(1_000_000)
    ).alias("k")
    df = spark.range(n_rows).select(
        key,
        F.col("id"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)) / 10.0).alias("v"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    df = df.localCheckpoint()
    top = (
        df.groupBy("k").count().orderBy(F.col("count").desc()).limit(3).collect()
    )
    report = {
        "scenario": "relational_skew",
        "n_rows": n_rows,
        "top_keys": {int(r["k"]): r["count"] for r in top},
        "hot_share": round(top[0]["count"] / n_rows, 3),
    }

    def timed(name, fn, omit=()):
        sc.setJobGroup(name, name)
        try:
            t0 = time.perf_counter()
            fn()
            sec = round(time.perf_counter() - t0, 2)
        finally:
            sc._jsc.clearJobGroup()
        spread = _task_spread(spark, name)
        for key in omit:
            spread.pop(key, None)
        report[name] = {"sec": sec, **spread}
        print(json.dumps({name: report[name]}), file=sys.stderr)

    noop = lambda d: d.write.format("noop").mode("overwrite").save()
    timed("plain_sum", lambda: noop(
        df.groupBy("k").agg(F.sum(F.col("v").cast("decimal(18,2)")).alias("s"))
    ))
    timed("salted_sum", lambda: noop(
        salted_sum(df, ["k"], F.col("v"), F.col("id"), 32, "s")
    ))
    w = top1_per_key(df, ["k"], [F.col("id").desc()])
    report["window_group_limit"] = (
        "WindowGroupLimit" in w._jdf.queryExecution().executedPlan().toString()
    )
    timed("top1_window", lambda: noop(w))
    timed("top1_agg", lambda: noop(
        top1_per_key_agg(df, ["k"], F.struct(F.col("id")))
    ))
    from pyspark.sql import Window

    timed("running_window", lambda: noop(
        df.withColumn(
            "rs", F.sum("id").over(Window.partitionBy("k").orderBy("id"))
        )
    ))
    from open_data_pipelines_spark.operators.aggregates import running_sum_scaled

    # the escape the hazard row points at: two-pass distributed
    # prefix sum — the hot key splits across range partitions
    timed("running_scaled", lambda: noop(
        running_sum_scaled(df, ["k"], ["id"], F.col("id"), "rs", scale=0)
    ))

    # the join axis: skewed fact x key-complete dim, SMJ forced (the
    # dim would broadcast otherwise, hiding the skew); the wide
    # payload makes per-task bytes the dominant cost so a split is
    # visible in the spread, not just the task count
    dim = df.select("k").distinct().withColumn(
        "attr", F.repeat(F.md5(F.col("k").cast("string")), 4)
    ).localCheckpoint()
    join = lambda: noop(
        df.join(dim.hint("merge"), "k").select("k", "id", "attr", "payload")
    )
    # the join stage is `biggest_read`; `worst_by_max` names a stage of
    # job 1 in some runs and of job 2 (the join) in others, so the
    # join entries leave it out
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    timed("skew_join_aqe_off", join, omit=("worst_by_max",))
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    timed("skew_join_aqe_on", join, omit=("worst_by_max",))

    print(json.dumps(report))
    spark.stop()


def main() -> None:
    if "--relational-skew" in sys.argv:
        relational_skew_scenario()
        return
    if "--relational-scale" in sys.argv:
        relational_scale_scenario()
        return
    if "--domain-cap" in sys.argv:
        domain_cap_scenario()
        return
    if "--lang-classifier" in sys.argv:
        lang_classifier_scenario()
        return
    if "--semantic-decon" in sys.argv:
        semantic_decon_scenario()
        return
    if "--webdataset" in sys.argv:
        webdataset_scenario()
        return
    if "--dedup-scale" in sys.argv:
        dedup_scale_scenario()
        return
    if "--substring" in sys.argv:
        substring_scenario()
        return
    if "--incremental-dedup" in sys.argv:
        incremental_dedup_scenario()
        return
    if "--near-dedup" in sys.argv:
        near_dedup_scenario()
        return
    if "--media-band-index" in sys.argv:
        media_band_index_scenario()
        return
    if "--semdedup" in sys.argv:
        semdedup_scenario()
        return
    if "--ivf-compact" in sys.argv:
        ivf_compact_scenario()
        return
    if "--quality-model" in sys.argv:
        quality_model_scenario()
        return
    if "--cc-gate" in sys.argv:
        cc_gate_scenario()
        return
    if "--media-funnel" in sys.argv:
        media_funnel_scale_scenario()
        return
    if "--media" in sys.argv:
        media_scenario()
        return
    if "--range-join" in sys.argv:
        range_join_scenario()
        return
    if "--corpus" in sys.argv:
        corpus_scenario()
        return
    if "--skew" in sys.argv:
        n = next((int(a) for a in sys.argv[1:] if a.isdigit()), 20_000)
        skew_scenario(n)
        return
    if "--ivf-skew" in sys.argv:
        n = next((int(a) for a in sys.argv[1:] if a.isdigit()), 20_000)
        ivf_skew_scenario(n)
        return
    # flags filtered before the positional parse: `--keep` alone is a
    # documented invocation and must not hit int("--keep")
    positionals = [a for a in sys.argv[1:] if not a.startswith("--")]
    factor = int(positionals[0]) if positionals else 10
    keep = "--keep" in sys.argv
    dest = f"/tmp/stress_x{factor}"

    import __spark_entry__ as e
    from open_data_pipelines_spark.session import get_spark

    spark = get_spark("stress")
    spark.sparkContext.setLogLevel("ERROR")

    from open_data_pipelines_spark.session import TESTDATA_TABLES

    complete = all(
        os.path.exists(os.path.join(dest, f"{t}.parquet")) for t in TESTDATA_TABLES
    )
    if not complete:  # partial builds (interrupted runs) are rebuilt
        t0 = time.perf_counter()
        build(spark, factor, dest)
        print(f"built x{factor} dataset in {time.perf_counter()-t0:.1f}s", file=sys.stderr)

    qs = e.queries()
    timings = {}
    for name in QUERIES:
        qs[name](spark, dest).write.format("noop").mode("overwrite").save()  # warm
        t0 = time.perf_counter()
        qs[name](spark, dest).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)

    print(json.dumps({"factor": factor, "base": "sf0.1", "queries": timings,
                      "total_sec": round(sum(timings.values()), 3)}))
    if not keep:
        shutil.rmtree(dest, ignore_errors=True)


if __name__ == "__main__":
    main()
