"""Content word-blocklist filter (C4 bad-words page cut)."""

from __future__ import annotations

from pyspark.sql import functions as F

from open_data_pipelines_spark.operators.text_analysis import (
    blockword_hits,
    filter_content_blockwords,
)

WORDS = ("casino", "jackpot", "xxx")


def test_hits_boundary_match(spark):
    rows = [
        (1, "visit the Casino tonight jackpot JACKPOT"),  # 3 hits (lowered)
        (2, "essex sussex middlesex"),  # substring must NOT hit
        (3, "clean text entirely"),
        (4, ""),
        (5, None),
        # the round-12 review cases: punctuation-adjacent occurrences
        # are the DOMINANT prose position and must count
        (6, "win at the casino."),
        (7, "(casino), jackpot! casino?"),
        (8, "casino7 casinoroyale"),  # letter/digit-run interior: no hit
    ]
    df = spark.createDataFrame(rows, "i int, t string")
    got = {r.i: r.h for r in df.select("i", blockword_hits("t", WORDS).alias("h")).collect()}
    assert got == {1: 3, 2: 0, 3: 0, 4: 0, 5: 0, 6: 1, 7: 3, 8: 0}


def test_multiword_phrases(spark):
    df = spark.createDataFrame(
        [(1, "some hard core content"), (2, "hard  core, spaced."),
         (3, "hardcore fused"), (4, "hard corely suffixed")],
        "i int, t string",
    )
    got = {
        r.i: r.h
        for r in df.select("i", blockword_hits("t", ("hard core",)).alias("h")).collect()
    }
    assert got == {1: 1, 2: 1, 3: 0, 4: 0}


def test_filter_modes_agree(spark):
    """The regex filter keeps exactly the rows a plain-Python ``re``
    count of boundary-delimited hits keeps, at every ``max_hits``."""
    import random
    import re

    rng = random.Random(4)
    vocab = ["alpha", "beta", "casino", "gamma", "xxx", "delta",
             "casino.", "(xxx)", "jackpot!"]  # punctuation-adjacent forms
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 12))))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "i int, t string")
    word = re.compile(
        r"(?<![^\W_])(?:" + "|".join(map(re.escape, WORDS)) + r")(?![^\W_])", re.I
    )
    hits = {i: len(word.findall(t)) for i, t in rows}
    assert max(hits.values()) > 3  # every max_hits below cuts something
    for max_hits in (0, 1, 3):
        got = {r.i for r in filter_content_blockwords(df, "t", WORDS, max_hits).collect()}
        assert got == {i for i, n in hits.items() if n <= max_hits}, max_hits


def test_funnel_blockword_stage(spark):
    from open_data_pipelines_spark.plans.corpus_prep import prepare_corpus
    from open_data_pipelines_spark.session import load_tables
    from tests.conftest import SF_SMOKE

    docs = load_tables(spark, SF_SMOKE, register_views=False)["documents"]
    base = docs.filter(F.col("doc_id") == 1).collect()[0]
    spam = (900001, "casino " + base.text, base.lang, base.source, base.n_chars)
    planted = docs.unionByName(spark.createDataFrame([spam], schema=docs.schema))
    kw = dict(chunk_size=16, overlap=0, near_dup="none", docs=planted)
    gated = prepare_corpus(
        spark, SF_SMOKE, content_blocklist=("casino",), **kw
    )
    control = prepare_corpus(spark, SF_SMOKE, **kw)
    assert gated.filter(F.col("doc_id") == 900001).count() == 0
    assert control.filter(F.col("doc_id") == 900001).count() > 0


def test_streaming_blockword_gate(spark, tmp_path):
    """The stateless gate on the stream keeps exactly the docs the
    batch expr filter keeps on the drained corpus."""
    from open_data_pipelines_spark.session import load_tables
    from open_data_pipelines_spark.streaming.corpus_stream import (
        read_document_stream,
        stream_corpus_to_bronze,
    )
    from tests.conftest import SF_SMOKE

    docs = load_tables(spark, SF_SMOKE, register_views=False)["documents"]
    base = docs.limit(40)
    spam = base.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 7000).alias("doc_id"),
        F.concat(F.lit("casino jackpot "), F.col("text")).alias("text"),
        "lang", "source", "n_chars",
    )
    landing = str(tmp_path / "drop")
    base.unionByName(spam).write.parquet(landing)
    q = stream_corpus_to_bronze(
        read_document_stream(spark, landing),
        str(tmp_path / "bronze"), str(tmp_path / "ckpt"),
        content_blocklist=("casino",), quality_min=0.0,
        keep_langs=("en", "fr", "de", "es", "zh", "und"),
    )
    q.awaitTermination()
    got = {r.doc_id for r in spark.read.parquet(str(tmp_path / "bronze")).select("doc_id").collect()}
    assert got and all(d < 7000 for d in got)
