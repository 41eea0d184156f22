"""N-gram LM perplexity scoring: separation of in-domain vs junk
text, determinism, empty/single-token edges, the model always
broadcast."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from open_data_pipelines_spark.operators.lm_score import (
    perplexity_filter,
    perplexity_score,
    train_ngram_lm,
)

WORDS = (
    "the quick brown fox jumps over a lazy dog and then walks to the old "
    "market where people buy fresh bread with their friends in the morning"
).split()


def _sentence(rnd, n):
    return " ".join(rnd.choice(WORDS) for _ in range(n))


@pytest.fixture(scope="module")
def lm(spark):
    rnd = random.Random(3)
    ref = spark.createDataFrame(
        [(i, _sentence(rnd, rnd.randint(20, 60))) for i in range(300)],
        ["doc_id", "text"],
    )
    return train_ngram_lm(ref, "text")


def test_in_domain_beats_junk(spark, lm):
    rnd = random.Random(9)
    rows = [(1, _sentence(rnd, 40), "good"), (2, _sentence(rnd, 25), "good")]
    rows += [(3, "zxqj vvkw pflm qqrs ttxz " * 8, "junk")]
    rows += [(4, "the the the the the the the the", "degenerate")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "kind"])
    scores = {r["doc_id"]: r["perplexity"] for r in perplexity_score(df, "text", "doc_id", lm).collect()}
    assert scores[3] > scores[1] * 10 and scores[3] > scores[2] * 10
    # degenerate repetition is in-vocab, so the LM alone scores it low —
    # that is exactly why the repetition signals exist alongside it
    assert scores[4] < scores[3]


def test_score_edges_and_determinism(spark, lm):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "the"), (4, "the quick brown fox")],
        ["doc_id", "text"],
    )
    a = perplexity_score(df, "text", "doc_id", lm).collect()
    b = perplexity_score(df, "text", "doc_id", lm).collect()
    rows = {r["doc_id"]: r for r in a}
    assert rows[1]["n_tokens"] == 0 and rows[1]["perplexity"] is None
    assert rows[2]["n_tokens"] == 0
    assert rows[3]["n_tokens"] == 1 and rows[3]["perplexity"] > 0
    assert {tuple(r) for r in a} == {tuple(r) for r in b}


def test_training_counts_match_direct_token_counts(spark):
    docs = ["", "   ", "fox", "the the the", "the fox  the\tdog"]
    lm = train_ngram_lm(
        spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"]), "text"
    )
    toks = [t for d in docs for t in d.split()]
    want = {t: toks.count(t) for t in set(toks)}
    assert {r["tok"]: r["uni_n"] for r in lm.unigrams.collect()} == want
    assert (lm.n_tokens, lm.vocab_size) == (len(toks), len(want))


def test_model_joins_broadcast_whatever_the_size_estimate(spark, lm):
    """The model tables are always broadcast, so each document's pairs
    stay in one task and its score never depends on shuffle fetch
    order, even when the planner would not broadcast them itself."""
    rnd = random.Random(5)
    df = spark.createDataFrame(
        [(i, _sentence(rnd, 15)) for i in range(30)], ["doc_id", "text"]
    )
    want = {tuple(r) for r in perplexity_score(df, "text", "doc_id", lm).collect()}
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "-1")  # the planner broadcasts only hinted sides
    try:
        scored = perplexity_score(df, "text", "doc_id", lm)
        plan = scored._jdf.queryExecution().executedPlan().toString()
        got = {tuple(r) for r in scored.collect()}
    finally:
        spark.conf.set(key, before)
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert got == want


def test_perplexity_filter_keeps_head(spark, lm):
    rnd = random.Random(7)
    good = [(i, _sentence(rnd, 30)) for i in range(10)]
    junk = [(100 + i, "qzx wvv kjj " * 10) for i in range(10)]
    df = spark.createDataFrame(good + junk, ["doc_id", "text"])
    # threshold from the scored distribution (CCNet head practice)
    scores = perplexity_score(df, "text", "doc_id", lm)
    thr = scores.agg(F.expr("percentile(perplexity, 0.5)")).first()[0]
    kept = perplexity_filter(df, "text", "doc_id", lm, max_perplexity=thr)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert ids == {i for i, _ in good}


def test_funnel_composition_perplexity_stage(spark, lm):
    from open_data_pipelines_spark.plans.corpus_prep import prepare_corpus
    from open_data_pipelines_spark.session import load_tables
    from tests.conftest import SF_SMOKE

    docs = load_tables(spark, SF_SMOKE, register_views=False)["documents"]
    rnd = random.Random(11)
    junk = spark.createDataFrame(
        [(90000 + i, "qzx wvv kjj " * 30, "en", "web", 360) for i in range(20)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    # junk must pass the rule-based filter to prove the LM stage did it
    planted = docs.unionByName(junk)
    with pytest.raises(ValueError, match="perplexity_max"):
        prepare_corpus(spark, SF_SMOKE, docs=planted, perplexity_lm=lm)
    out, stats = prepare_corpus(
        spark,
        SF_SMOKE,
        docs=planted,
        near_dup="none",
        quality_min=0.0,
        keep_langs=("en", "fr", "de", "und"),
        perplexity_lm=lm,
        perplexity_max=5000.0,
        with_stats=True,
    )
    assert stats["perplexity_kept"] < stats["quality_kept"]
    assert out.filter(F.col("doc_id") >= 90000).count() == 0


def test_perplexity_buckets_split_and_monotone(spark, lm):
    """Head/middle/tail proportions follow the bounds (within the
    approx-quantile sliver) and bucket perplexities are monotone:
    max(head) <= min(middle-above-head) etc. by construction of the
    cutoffs."""
    from open_data_pipelines_spark.operators.lm_score import perplexity_buckets

    rnd = random.Random(11)
    docs = spark.createDataFrame(
        [(i, _sentence(rnd, rnd.randint(15, 40))) for i in range(300)]
        + [(1000 + i, " ".join(f"zz{j}q{i}" for j in range(20))) for i in range(60)],
        ["doc_id", "text"],
    )
    out = perplexity_buckets(docs, "text", "doc_id", lm).collect()
    by_bucket: dict[str, list[float]] = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r["perplexity"])
    n = len(out)
    assert set(by_bucket) == {"head", "middle", "tail"}
    assert abs(len(by_bucket["head"]) / n - 1 / 3) < 0.05
    assert abs(len(by_bucket["tail"]) / n - 1 / 3) < 0.05
    assert max(by_bucket["head"]) <= min(by_bucket["tail"])
    assert max(by_bucket["head"]) <= min(by_bucket["middle"])
    assert max(by_bucket["middle"]) <= min(by_bucket["tail"])
    # the junk docs are overwhelmingly in the tail
    junk_buckets = [r["bucket"] for r in out if r["doc_id"] >= 1000]
    assert junk_buckets.count("tail") >= 0.9 * len(junk_buckets)


def test_perplexity_buckets_per_language_cutoffs(spark, lm):
    """CCNet computes cutoffs PER LANGUAGE: a language whose docs are
    uniformly junk still splits ~evenly within itself instead of
    landing wholly in the global tail."""
    from open_data_pipelines_spark.operators.lm_score import perplexity_buckets

    rnd = random.Random(12)
    good = [(i, _sentence(rnd, rnd.randint(15, 40)), "en") for i in range(150)]
    # vary the in-domain fraction so per-doc perplexities DIFFER (an
    # all-OOV corpus ties on one perplexity and collapses into one
    # bucket — quantile cutoffs need an actual distribution)
    junk = [
        (
            1000 + i,
            " ".join(
                [_sentence(rnd, 3 + i % 10)]
                + [f"xx{j}p{i}" for j in range(10, 30)]
            ),
            "xx",
        )
        for i in range(150)
    ]
    docs = spark.createDataFrame(good + junk, ["doc_id", "text", "lang"])
    out = perplexity_buckets(docs, "text", "doc_id", lm, by_lang="lang").collect()
    xx = [r for r in out if r["lang"] == "xx"]
    heads = sum(1 for r in xx if r["bucket"] == "head")
    assert abs(heads / len(xx) - 1 / 3) < 0.07  # junk splits within itself
    # and boundaries stay per-language: every en head <= every en tail
    en = [r for r in out if r["lang"] == "en"]
    assert max(r["perplexity"] for r in en if r["bucket"] == "head") <= min(
        r["perplexity"] for r in en if r["bucket"] == "tail"
    )


def test_bucket_cutoff_join_not_trivially_true(spark, lm, capfd):
    """Round-12 verdict: `cuts` derives from `scored`, so joining on
    `scored[lang] <=> cuts[lang]` resolved both sides to one attribute
    — Spark logged 'Constructing trivially true equals predicate' and
    any refactor dropping the self-join disambiguation would silently
    cross-join languages. The cuts side is now aliased: the analyzed
    plan must carry a real two-attribute condition and the warning
    must not fire."""
    from open_data_pipelines_spark.operators.lm_score import perplexity_buckets

    rnd = random.Random(13)
    docs = spark.createDataFrame(
        [(i, _sentence(rnd, rnd.randint(15, 40)), ["en", "fr"][i % 2])
         for i in range(80)],
        ["doc_id", "text", "lang"],
    )
    out = perplexity_buckets(docs, "text", "doc_id", lm, by_lang="lang")
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "__cut_lang" in plan  # the aliased cutoff key joins the scores
    out.collect()
    captured = capfd.readouterr()
    assert "trivially true" not in captured.err
    assert "trivially true" not in captured.out


def test_funnel_perplexity_bucket_stage(spark, lm):
    """The CCNet bucket form of the funnel's perplexity stage: keeping
    ("head", "middle") drops roughly the worst third per language —
    and junk planted INSIDE the en cohort (stopword-laced so lang-id
    says en, OOV-heavy so the LM hates it) lands in that dropped
    tail. The cutoffs are per predicted language, so junk must share
    the cohort to be droppable — its own cohort would split within
    itself (that semantic is pinned by the per-language test)."""
    from open_data_pipelines_spark.plans.corpus_prep import prepare_corpus
    from tests.conftest import SF_SMOKE

    rnd = random.Random(13)
    good = [
        (i, _sentence(rnd, rnd.randint(20, 40)), "en", "web", 200)
        for i in range(300)
    ]
    junk = [
        (
            90000 + i,
            " ".join(f"the qz{i}x{j} and wv{j}v of kj{i}j" for j in range(6)),
            "en",
            "web",
            200,
        )
        for i in range(30)
    ]
    planted = spark.createDataFrame(
        good + junk, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    with pytest.raises(ValueError, match="not both"):
        prepare_corpus(
            spark, SF_SMOKE, docs=planted, perplexity_lm=lm,
            perplexity_max=10.0, perplexity_keep_buckets=("head",),
        )
    out, stats = prepare_corpus(
        spark,
        SF_SMOKE,
        docs=planted,
        near_dup="none",
        quality_min=0.0,
        keep_langs=("en", "fr", "de", "und"),
        perplexity_lm=lm,
        perplexity_keep_buckets=("head", "middle"),
        with_stats=True,
    )
    kept_frac = stats["perplexity_kept"] / stats["quality_kept"]
    assert 0.55 < kept_frac < 0.8  # ~2/3, quantile sliver + per-lang wiggle
    assert out.filter(F.col("doc_id") >= 90000).count() == 0


def test_funnel_url_gate_runs_first(spark, lm):
    """URL gating: blocked domains and junk-shaped URLs drop before
    any text stage; the input audit counts gate survivors."""
    from open_data_pipelines_spark.plans.corpus_prep import prepare_corpus
    from tests.conftest import SF_SMOKE

    rnd = random.Random(14)
    rows = [
        (1, _sentence(rnd, 30), "en", "web", 200, "https://good.org/a"),
        (2, _sentence(rnd, 30), "en", "web", 200, "https://spam.example.com/b"),
        (3, _sentence(rnd, 30), "en", "web", 200, "https://203.0.113.7/c"),
        (4, _sentence(rnd, 30), "en", "web", 200, "https://fine.net/d"),
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars", "url"]
    )
    with pytest.raises(ValueError, match="url_col"):
        prepare_corpus(spark, SF_SMOKE, docs=docs, url_blocklist=["example.com"])
    out, stats = prepare_corpus(
        spark,
        SF_SMOKE,
        docs=docs,
        near_dup="none",
        quality_min=0.0,
        keep_langs=("en", "und"),
        url_col="url",
        url_blocklist=["example.com"],
        url_quality=True,
        with_stats=True,
    )
    assert stats["url_kept"] == stats["input"] == 2
    assert {r["doc_id"] for r in out.select("doc_id").distinct().collect()} == {1, 4}
