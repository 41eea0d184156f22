"""Benchmark decontamination: full-output DuckDB parity at n=3 (the
shingle macro the MinHash oracles already mirror), planted-
contamination behavior, the broadcast plan pins, and the anti-join
filter."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from open_data_pipelines_spark.operators.contamination import (
    decontaminate,
    ngram_contamination,
)
from open_data_pipelines_spark.queries.text import _SHINGLES
from open_data_pipelines_spark.session import load_tables
from tests.conftest import SF_SMOKE, plan_without_auto_broadcast


@pytest.fixture(scope="module")
def docs(spark):
    return load_tables(spark, SF_SMOKE, register_views=False)["documents"]


@pytest.fixture(scope="module")
def bench(docs):
    # eval set drawn from the corpus itself: guaranteed contamination
    return docs.filter(F.col("doc_id") % 37 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )


_SH = _SHINGLES.format(t="text")

_ORACLE = f"""
WITH doc_sh AS (
  SELECT doc_id, list_distinct({_SH}) AS sh FROM documents
),
bench_sh AS (
  SELECT DISTINCT doc_id AS bench_id, unnest(list_distinct({_SH})) AS s
  FROM documents WHERE doc_id % 37 = 0
),
doc_ex AS (SELECT doc_id, unnest(sh) AS s FROM doc_sh),
hits AS (
  SELECT d.doc_id,
         count(DISTINCT d.s) AS n_hit_shingles,
         count(DISTINCT b.bench_id) AS n_bench_docs_hit
  FROM doc_ex d JOIN bench_sh b USING (s)
  GROUP BY d.doc_id
)
SELECT ds.doc_id,
       len(ds.sh) AS n_shingles,
       coalesce(h.n_hit_shingles, 0) AS n_hit_shingles,
       coalesce(h.n_bench_docs_hit, 0) AS n_bench_docs_hit,
       CASE WHEN len(ds.sh) > 0
            THEN coalesce(h.n_hit_shingles, 0) / len(ds.sh)
            ELSE 0.0 END AS contamination_rate
FROM doc_sh ds LEFT JOIN hits h USING (doc_id)
"""


def _rows(pdf):
    pdf = pdf[sorted(pdf.columns)]
    return sorted(
        (int(a), float(b), int(c), int(d), int(e))
        for a, b, c, d, e in zip(
            pdf["doc_id"],
            pdf["contamination_rate"],
            pdf["n_bench_docs_hit"],
            pdf["n_hit_shingles"],
            pdf["n_shingles"],
        )
    )


def test_full_output_matches_duckdb(docs, bench):
    got = ngram_contamination(docs, bench, n=3).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'")
    want = con.execute(_ORACLE).fetchdf()
    assert _rows(got) == _rows(want)


def test_planted_contamination_detected(docs, bench):
    rep = ngram_contamination(docs, bench, n=3)
    planted = rep.filter(F.col("doc_id") % 37 == 0).filter(F.col("n_shingles") > 0)
    # a doc IS its own benchmark item -> every shingle hits
    assert planted.filter(F.col("contamination_rate") < 1.0).count() == 0
    assert planted.filter(F.col("n_bench_docs_hit") < 1).count() == 0


def test_decontaminate_drops_exactly_flagged(docs, bench):
    rep = ngram_contamination(docs, bench, n=3)
    flagged = {r[0] for r in rep.filter(F.col("contamination_rate") > 0).select("doc_id").collect()}
    kept = {r[0] for r in decontaminate(docs, bench, n=3).select("doc_id").collect()}
    everyone = {r[0] for r in docs.select("doc_id").collect()}
    assert kept == everyone - flagged
    # the planted bench rows themselves are contaminated and dropped
    assert not any(d % 37 == 0 for d in kept)


def test_plan_corpus_side_never_shuffles(spark, docs, bench):
    """Mechanical form of the scale claim: the corpus probe is
    broadcast joins only — every shuffle Exchange in the plan belongs
    to the (small) benchmark-distinct / hits-aggregate side. Planned
    with the size-based broadcast off, so every broadcast counted here
    is a hint the operator places."""
    plan = plan_without_auto_broadcast(
        spark, lambda: ngram_contamination(docs, bench, n=3)
    )
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert plan.count("BroadcastHashJoin") == 2  # probe + verdict join-back
    assert "SortMergeJoin" not in plan
    assert shuffles <= 3  # bench distinct + hits partial/final agg


@pytest.mark.parametrize(
    "max_rate, n_joins",
    [
        (0.0, 2),  # bench-set probe + anti-join of `bad`
        (0.5, 3),  # report path (probe + verdict join-back) + anti-join
    ],
)
def test_decontaminate_joins_broadcast_by_hint(spark, docs, bench, max_rate, n_joins):
    """The bench n-gram set and the contaminated id set ``bad`` are
    broadcast by hint, not by the planner's size estimate."""
    plan = plan_without_auto_broadcast(
        spark, lambda: decontaminate(docs, bench, n=3, max_rate=max_rate)
    )
    assert plan.count("BroadcastHashJoin") == n_joins, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def _bench_with_paraphrases(spark):
    """Benchmark = 20 harness embeddings; corpus contaminants = tiny
    perturbations of them (cosine ~0.999+); the rest of the corpus is
    unrelated (random-ish harness vectors)."""
    from open_data_pipelines_spark.session import load_tables
    from tests.conftest import SF_SMOKE

    vecs = load_tables(spark, SF_SMOKE, register_views=False)["embeddings"]
    bench = vecs.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") / 25).cast("long").alias("bench_id"), "embedding"
    )
    # contaminated twins: vec_id+50000, embedding nudged in one axis
    twins = vecs.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 50000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x + F.when(i == 0, F.lit(1e-3)).otherwise(F.lit(0.0))
        ).cast("array<float>").alias("embedding"),
        "label",
    )
    return vecs.unionByName(twins), bench


def test_embedding_contamination_exact_flags_twins(spark):
    from open_data_pipelines_spark.operators.contamination import (
        embedding_contamination,
    )

    corpus, bench = _bench_with_paraphrases(spark)
    hits = embedding_contamination(corpus, bench, threshold=0.99, exact=True)
    flagged = {r.vec_id for r in hits.select("vec_id").distinct().collect()}
    planted = {r.vec_id for r in corpus.filter(F.col("vec_id") >= 50000).collect()}
    originals = {(b * 25) for b in range(20)}
    assert planted <= flagged  # every twin caught
    assert originals <= flagged  # the sources themselves too
    # nothing unrelated at this threshold on the harness vectors
    assert flagged <= planted | originals


def test_embedding_contamination_lsh_matches_exact_at_high_sim(spark):
    """The LSH path must flag every pair the exact path flags at
    this threshold (banding is DERIVED from the threshold for
    >= 0.9999 per-pair recall at the threshold itself — the planted
    twins sit far above it, so expected misses here are ~0), and
    never flag a pair exact rejects (rescore is exact)."""
    from open_data_pipelines_spark.operators.contamination import (
        embedding_contamination,
    )

    corpus, bench = _bench_with_paraphrases(spark)
    ex = {
        (r.vec_id, r.bench_id)
        for r in embedding_contamination(corpus, bench, threshold=0.99, exact=True).collect()
    }
    lsh = {
        (r.vec_id, r.bench_id)
        for r in embedding_contamination(corpus, bench, threshold=0.99).collect()
    }
    assert lsh == ex


def test_decontaminate_semantic_drops_only_flagged(spark):
    from open_data_pipelines_spark.operators.contamination import (
        decontaminate_semantic,
        embedding_contamination,
    )
    from open_data_pipelines_spark.session import load_tables
    from tests.conftest import SF_SMOKE

    corpus, bench = _bench_with_paraphrases(spark)
    docs = load_tables(spark, SF_SMOKE, register_views=False)["documents"]
    # vec_id aligns with doc_id for the harness slice
    docs = docs.unionByName(
        docs.filter(F.col("doc_id") % 25 == 0).withColumn(
            "doc_id", F.col("doc_id") + 50000
        )
    )
    kept = decontaminate_semantic(docs, corpus, bench, threshold=0.99)
    flagged = {
        r.vec_id
        for r in embedding_contamination(corpus, bench, threshold=0.99).collect()
    }
    got = {r.doc_id for r in kept.select("doc_id").collect()}
    want = {r.doc_id for r in docs.collect()} - flagged
    assert got == want


def test_embedding_contamination_plan_broadcasts_bench(spark):
    from open_data_pipelines_spark.operators.contamination import (
        embedding_contamination,
    )

    corpus, bench = _bench_with_paraphrases(spark)
    plan = (
        embedding_contamination(corpus, bench, threshold=0.99)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan  # LSH path: no cross product


def test_funnel_semantic_decon_stage(spark):
    """prepare_corpus(benchmark_embeddings=...): planted paraphrase
    twins drop, the control run keeps them; missing corpus embeddings
    fail loud."""
    import pytest as _pytest

    from open_data_pipelines_spark.plans.corpus_prep import prepare_corpus
    from open_data_pipelines_spark.session import load_tables
    from tests.conftest import SF_SMOKE

    corpus_vecs, bench = _bench_with_paraphrases(spark)
    docs = load_tables(spark, SF_SMOKE, register_views=False)["documents"]
    planted = docs.unionByName(
        docs.filter(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + 50000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" paraphrased rendering zz")).alias("text"),
            "lang", "source", "n_chars",
        )
    )
    kw = dict(chunk_size=16, overlap=0, near_dup="none", docs=planted)
    gated = prepare_corpus(
        spark, SF_SMOKE, embeddings=corpus_vecs,
        benchmark_embeddings=bench, benchmark_embedding_threshold=0.99, **kw
    )
    control = prepare_corpus(spark, SF_SMOKE, **kw)
    assert gated.filter(F.col("doc_id") >= 50000).count() == 0
    assert control.filter(F.col("doc_id") >= 50000).count() > 0

    with _pytest.raises(ValueError, match="needs embeddings"):
        prepare_corpus(spark, SF_SMOKE, benchmark_embeddings=bench, **kw)


def test_embedding_near_dup_composes_with_semantic_decon(spark):
    """Round-12 advice (medium): near_dup='embedding' required a
    (doc_id, embedding) frame while semantic decon defaulted to
    vec_id, so ONE caller-supplied embeddings frame could not feed
    both — the combination raised UNRESOLVED_COLUMN. The frame is now
    normalized to doc_id on entry: the same vec_id-keyed frame must
    drive the near-dup backend AND the decon stage in one call, and a
    doc_id-keyed frame must keep working."""
    from open_data_pipelines_spark.plans.corpus_prep import prepare_corpus
    from open_data_pipelines_spark.session import load_tables
    from tests.conftest import SF_SMOKE

    corpus_vecs, bench = _bench_with_paraphrases(spark)
    docs = load_tables(spark, SF_SMOKE, register_views=False)["documents"]
    planted = docs.unionByName(
        docs.filter(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + 50000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" paraphrased rendering zz")).alias("text"),
            "lang", "source", "n_chars",
        )
    )
    kw = dict(chunk_size=16, overlap=0, docs=planted)
    out = prepare_corpus(
        spark, SF_SMOKE, near_dup="embedding", embeddings=corpus_vecs,
        benchmark_embeddings=bench, benchmark_embedding_threshold=0.99, **kw
    )
    # decon drops every planted twin; the pipeline itself completes
    # (the old contract conflict died in analysis before any action)
    assert out.filter(F.col("doc_id") >= 50000).count() == 0

    # doc_id-keyed frames stay first-class
    dockeyed = corpus_vecs.withColumnRenamed("vec_id", "doc_id")
    out2 = prepare_corpus(
        spark, SF_SMOKE, near_dup="embedding", embeddings=dockeyed,
        benchmark_embeddings=bench, benchmark_embedding_threshold=0.99, **kw
    )
    assert out2.filter(F.col("doc_id") >= 50000).count() == 0

    import pytest as _pytest
    with _pytest.raises(ValueError, match="doc_id .or vec_id."):
        prepare_corpus(
            spark, SF_SMOKE, near_dup="embedding",
            embeddings=corpus_vecs.withColumnRenamed("vec_id", "other_id"),
            **kw,
        )


def test_derived_banding_recall_at_marginal_cosine(spark):
    """Round-12 review regression: a hand-tuned planes/tables pair
    silently dropped recall to ~0.80 for twins AT the default 0.95
    threshold. With threshold-derived banding, twins planted at
    cosine ~0.955 (barely above threshold — the worst case) must be
    recovered at >= 99%."""
    import math
    import random

    import numpy as np

    from open_data_pipelines_spark.operators.contamination import (
        embedding_contamination,
        lsh_banding_for,
    )

    b, L = lsh_banding_for(0.95)
    p = 1 - math.acos(0.955) / math.pi
    assert 1 - (1 - p**b) ** L >= 0.9999  # the curve itself

    rng = np.random.default_rng(7)
    dim, n = 32, 400
    bench_vecs = rng.normal(size=(n, dim))
    bench_vecs /= np.linalg.norm(bench_vecs, axis=1, keepdims=True)
    a = 0.955
    twins = []
    for i, v in enumerate(bench_vecs):
        u = rng.normal(size=dim)
        u -= u @ v * v
        u /= np.linalg.norm(u)
        twins.append(a * v + math.sqrt(1 - a * a) * u)
    bench = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(bench_vecs)],
        "bench_id long, embedding array<double>",
    )
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(twins)],
        "vec_id long, embedding array<double>",
    )
    flagged = {
        r.vec_id
        for r in embedding_contamination(corpus, bench, threshold=0.95).collect()
    }
    assert len(flagged) >= 0.99 * n, len(flagged)


def test_decontaminate_fast_path_equals_report_path(spark):
    """Round-15: max_rate=0.0 takes the semi-join fast route (no
    counting agg, no n_shingles base join). Must equal the
    report-path form at an epsilon rate threshold that drops on any
    shared shingle, on a corpus containing: clean docs, single- and
    multi-shingle overlaps, a doc repeating the contaminated shingle
    (distinct-collapse), and sub-n-token docs (no shingles — kept by
    both routes)."""
    from open_data_pipelines_spark.operators.contamination import decontaminate

    leak = "q0 q1 q2 q3"
    docs = spark.createDataFrame(
        [
            (1, "clean words only here nothing shared at all"),
            (2, f"prefix {leak} suffix words"),
            (3, f"{leak} and again {leak} repeated twice over"),
            (4, "too short"),
            (5, f"unrelated body then q1 q2 q3 near miss only three"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(1, f"ctx0 {leak} ctx1")], ["bench_id", "text"]
    )
    fast = decontaminate(docs, bench, n=4, max_rate=0.0)
    # report path: any rate > 0 drops — tiny positive threshold is
    # the same predicate evaluated through the counting route
    report = decontaminate(docs, bench, n=4, max_rate=1e-12)
    assert sorted(r["doc_id"] for r in fast.collect()) == sorted(
        r["doc_id"] for r in report.collect()
    )
    kept = {r["doc_id"] for r in fast.collect()}
    assert kept == {1, 4, 5}
