"""C4/RefinedWeb line-level boilerplate removal: hand-computed
fixtures, DuckDB parity on the harness corpus, funnel composition."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from open_data_pipelines_spark.operators import boilerplate
from open_data_pipelines_spark.operators.boilerplate import (
    boilerplate_lines,
    strip_boilerplate_lines,
)
from open_data_pipelines_spark.session import load_tables

from conftest import SF_SMOKE

BANNER = "Accept cookies to continue"
FOOTER = "(c) 2024 Example Corp - All Rights Reserved"


@pytest.fixture()
def docs(spark):
    rows = [
        (1, f"{BANNER}\nUnique first article body line.\n{FOOTER}", "web"),
        (2, f"{BANNER}\nAnother body, nothing shared.\n{FOOTER}", "web"),
        (3, f"  {BANNER}  \nThird body text here.\n{FOOTER}", "web"),  # ws variant
        (4, "A doc with no boilerplate at all.", "books"),
        (5, f"{BANNER}\n{FOOTER}", "web"),  # all-boilerplate doc
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


def test_boilerplate_lines_audit(spark, docs):
    audit = {r["sample_line"]: r["n_docs"] for r in boilerplate_lines(docs, "text", "doc_id").collect()}
    # normalization lowercases + collapses whitespace, so the indented
    # variant of the banner counts into the same fingerprint
    assert audit == {BANNER.lower(): 4, FOOTER.lower(): 4}


def test_strip_reassembles_in_order_and_preserves_schema(spark, docs):
    out = strip_boilerplate_lines(docs, "text", "doc_id")
    assert out.columns == docs.columns
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert got[1] == "Unique first article body line."
    assert got[2] == "Another body, nothing shared."
    assert got[3] == "Third body text here."
    assert got[4] == "A doc with no boilerplate at all."
    assert got[5] == ""  # every line was boilerplate


def test_strip_multiline_order_preserved(spark):
    body = [f"body line {i} of the long article" for i in range(6)]
    shared = "SHARED NAV"
    rows = [
        (1, "\n".join([shared, body[0], body[1], shared, body[2]])),
        (2, "\n".join([shared, body[3]])),
        (3, "\n".join([body[4], shared, body[5]])),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["text"] for r in strip_boilerplate_lines(df, "text", "doc_id").collect()}
    assert got[1] == "\n".join([body[0], body[1], body[2]])
    assert got[3] == "\n".join([body[4], body[5]])


def test_duckdb_parity_on_harness_corpus(spark):
    """Same semantics in SQL over the harness documents table (plus a
    planted shared banner) — explode lines, count distinct docs per
    normalized fingerprint, rebuild surviving lines in order."""
    docs = load_tables(spark, SF_SMOKE, register_views=False)["documents"]
    planted = docs.select(
        "doc_id",
        F.concat(F.lit(BANNER + "\n"), F.col("text"), F.lit("\n" + FOOTER)).alias("text"),
    )
    out = strip_boilerplate_lines(planted, "text", "doc_id", min_docs=3)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'")
    con.execute(f"""
        CREATE VIEW planted AS
        SELECT doc_id, '{BANNER}' || chr(10) || text || chr(10) || '{FOOTER}' AS text
        FROM documents
    """)
    oracle = con.execute("""
        WITH lines AS (
          SELECT doc_id, idx, line,
                 md5(trim(regexp_replace(lower(line), '\\s+', ' ', 'g'))) AS fp
          FROM (
            SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
                   generate_subscripts(string_split(text, chr(10)), 1) AS idx
            FROM planted
          )
          WHERE trim(regexp_replace(lower(line), '\\s+', ' ', 'g')) <> ''
        ), bad AS (
          SELECT fp FROM lines GROUP BY fp HAVING count(DISTINCT doc_id) >= 3
        )
        SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text
        FROM lines WHERE fp NOT IN (SELECT fp FROM bad)
        GROUP BY doc_id
    """).df()
    expected = dict(zip(oracle["doc_id"], oracle["text"]))
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    # oracle omits all-boilerplate docs; engine returns them with ''
    assert {k: v for k, v in got.items() if v != ""} == expected


def test_funnel_composition_boilerplate_stage(spark):
    """prepare_corpus(boilerplate_min_docs=...) strips the planted
    banner before cleaning; the surviving chunks never contain it."""
    from open_data_pipelines_spark.plans.corpus_prep import prepare_corpus

    docs = load_tables(spark, SF_SMOKE, register_views=False)["documents"]
    planted = docs.select(
        "doc_id",
        F.concat(F.lit(BANNER + "\n"), F.col("text")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    out, stats = prepare_corpus(
        spark,
        SF_SMOKE,
        docs=planted,
        near_dup="none",
        boilerplate_min_docs=3,
        with_stats=True,
    )
    assert stats["boilerplate_stripped"] == stats["input"]
    assert out.filter(F.col("chunk").contains(BANNER.lower().split()[0] + " " + BANNER.lower().split()[1])).count() == 0
    assert out.count() > 0


def test_strip_identity_when_nothing_shared(spark):
    """Property: with min_docs above the corpus size nothing is
    boilerplate, so stripping is the IDENTITY — every line (blank
    ones included: they are the paragraph boundaries the CCNet stage
    splits on, round 12) preserved byte-for-byte in order."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    line = st.text(
        alphabet=st.characters(codec="utf-8", categories=("L", "N", "P", "Zs")),
        max_size=20,
    )
    docs_strategy = st.lists(
        st.lists(line, min_size=1, max_size=6), min_size=1, max_size=4
    )

    @settings(max_examples=15, deadline=None)
    @given(docs_strategy)
    def run(doc_lines):
        rows = [(i, "\n".join(ls)) for i, ls in enumerate(doc_lines)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {
            r["doc_id"]: r["text"]
            for r in strip_boilerplate_lines(df, "text", "doc_id", min_docs=99).collect()
        }
        for i, ls in enumerate(doc_lines):
            expected = "\n".join(ls)
            assert out[i] == expected, (i, out[i], expected)

    run()


def test_filter_and_join_methods_agree(spark, monkeypatch):
    """Round 14: the row-local HOF strip must produce IDENTICAL text
    to the anti-join + reassembly shape for every document, including
    blank-line preservation, all-boilerplate docs, NULL text, and the
    no-boilerplate corpus. The join path is forced by lowering
    ``MAX_INLINE_FPS`` to -1, under which even an empty fingerprint
    set is too big to inline."""
    rows = [
        (1, "Accept Cookies\nreal body one\n\nmore text"),
        (2, "Accept Cookies\nreal body two"),
        (3, "Accept Cookies\nreal body three\nAccept Cookies"),
        (4, "Accept Cookies"),          # all-boilerplate -> ''
        (5, None),                       # NULL -> ''
        (6, "unique only\n\ntrailer"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    clean = spark.createDataFrame(
        [(1, "a\nb"), (2, None)], "doc_id int, text string"
    )

    def strip(frame):
        return {r.doc_id: r.text for r in strip_boilerplate_lines(frame, "text", "doc_id").collect()}

    a, fa = strip(df), strip(clean)
    monkeypatch.setattr(boilerplate, "MAX_INLINE_FPS", -1)
    b, ja = strip(df), strip(clean)
    assert a == b
    assert a[4] == "" and a[5] == ""
    assert a[1] == "real body one\n\nmore text"  # blank line kept
    # no boilerplate at all: both paths are the identity (mod NULL->'')
    assert fa == ja == {1: "a\nb", 2: ""}
