"""Paragraph-level dedup (CCNet-style): hand-computed fixtures, both
policies, reassembly invariants, DuckDB parity on the keep_first
keeper set, plan shape (no window over the paragraph hash)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from open_data_pipelines_spark.operators.paragraph_dedup import (
    dedup_paragraphs,
    paragraph_keep_flags,
    split_paragraphs,
)


@pytest.fixture()
def docs(spark):
    banner = "ACCEPT COOKIES TO CONTINUE"
    rows = [
        # banner + unique content; banner repeats in docs 1,2,3
        (1, f"{banner}\n\nalpha bravo\n\ncharlie delta"),
        (2, f"{banner}\n\nechoes foxtrot"),
        # banner again, plus a paragraph duplicating doc 1's first
        # content paragraph modulo case/whitespace (normalize=True
        # must collapse it)
        (3, f"Alpha   Bravo\n\n{banner}\n\ngolf hotel"),
        # blank-only and empty docs survive with no paragraphs
        (4, "\n\n  \n\n"),
        (5, ""),
        # windows line endings + tab-blank separator line
        (6, "india juliet\r\n\t\r\nkilo lima"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_split_positions_dense_and_blankless(spark, docs):
    got = split_paragraphs(docs, "text", "doc_id").collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append((r["pos"], r["paragraph"]))
    assert by_doc[1] == [(0, "ACCEPT COOKIES TO CONTINUE"), (1, "alpha bravo"), (2, "charlie delta")]
    assert by_doc[6] == [(0, "india juliet"), (1, "kilo lima")]
    assert 4 not in by_doc and 5 not in by_doc


def test_keep_first_hand_computed(spark, docs):
    out = {r["doc_id"]: r for r in dedup_paragraphs(docs, "text", "doc_id").collect()}
    # doc 1 is globally first: everything kept
    assert out[1]["text"] == "ACCEPT COOKIES TO CONTINUE\n\nalpha bravo\n\ncharlie delta"
    assert (out[1]["n_paragraphs"], out[1]["n_kept"]) == (3, 3)
    # doc 2 loses the banner, keeps its content
    assert out[2]["text"] == "echoes foxtrot"
    assert (out[2]["n_paragraphs"], out[2]["n_kept"]) == (2, 1)
    # doc 3 loses the banner AND the normalized copy of "alpha bravo";
    # kept content preserves ORIGINAL casing? no — doc 3's copy is
    # dropped entirely (doc 1 holds the representative)
    assert out[3]["text"] == "golf hotel"
    assert (out[3]["n_paragraphs"], out[3]["n_kept"]) == (3, 1)
    # every input doc survives
    assert set(out) == {1, 2, 3, 4, 5, 6}
    assert out[4]["text"] == "" and out[4]["n_paragraphs"] == 0
    assert out[5]["text"] == "" and out[5]["n_kept"] == 0
    assert out[6]["n_kept"] == 2


def test_max_docs_drops_all_copies(spark, docs):
    out = {
        r["doc_id"]: r
        for r in dedup_paragraphs(
            docs, "text", "doc_id", policy="max_docs", max_docs=2
        ).collect()
    }
    # banner is in 3 docs > 2: dropped EVERYWHERE (no representative);
    # "alpha bravo" is in only 2 docs: kept in both
    assert out[1]["text"] == "alpha bravo\n\ncharlie delta"
    assert out[2]["text"] == "echoes foxtrot"
    assert out[3]["text"] == "Alpha   Bravo\n\ngolf hotel"
    assert out[3]["n_kept"] == 2


def test_normalize_off_is_exact_match(spark, docs):
    out = {
        r["doc_id"]: r
        for r in dedup_paragraphs(docs, "text", "doc_id", normalize=False).collect()
    }
    # without normalization doc 3's "Alpha   Bravo" is distinct
    assert out[3]["text"] == "Alpha   Bravo\n\ngolf hotel"


def test_char_conservation_keep_first(spark, docs):
    """Kept chars + dropped chars == split chars, per doc (the flags
    surface is a partition of the exploded paragraphs)."""
    flags = paragraph_keep_flags(docs, "text", "doc_id")
    agg = flags.groupBy("doc_id").agg(
        F.sum(F.length("paragraph")).alias("total"),
        F.sum(F.when(F.col("keep"), F.length("paragraph")).otherwise(0)).alias("kept"),
        F.sum(F.when(~F.col("keep"), F.length("paragraph")).otherwise(0)).alias("dropped"),
    )
    for r in agg.collect():
        assert r["kept"] + r["dropped"] == r["total"]


def test_fast_and_stable_hash_agree_on_keeper_set(spark, docs):
    slow = paragraph_keep_flags(docs, "text", "doc_id", fast=False)
    fast = paragraph_keep_flags(docs, "text", "doc_id", fast=True)
    k = lambda df: {(r["doc_id"], r["pos"]) for r in df.where("keep").collect()}
    assert k(slow) == k(fast)


def test_duckdb_parity_keep_first(spark, docs):
    """The keeper set (doc, pos) from the cross-engine hash matches a
    DuckDB replication of split -> normalize -> md5-hash -> global
    argmin occurrence."""
    pdf = docs.toPandas()
    con = duckdb.connect()
    con.register("docs", pdf)
    oracle = con.sql(
        r"""
        WITH paras AS (
          -- DuckDB zips sibling unnests positionally: para + 0-based pos
          SELECT doc_id, unnest(arr) AS para, unnest(range(len(arr))) AS pos
          FROM (
            SELECT doc_id,
                   list_filter(
                     list_transform(
                       regexp_split_to_array(text, '(\r?\n)([ \t]*\r?\n)+'),
                       x -> trim(x)),
                     x -> x <> '') AS arr
            FROM docs
          )
        ),
        hashed AS (
          SELECT doc_id, pos,
                 ('0x' || substr(md5(lower(trim(regexp_replace(para, '\s+', ' ', 'g')))), 1, 15))::BIGINT AS h
          FROM paras
        ),
        winners AS (
          SELECT h, min(struct_pack(doc_id := doc_id, pos := pos)) AS w
          FROM hashed GROUP BY h
        )
        SELECT w.doc_id AS doc_id, w.pos AS pos FROM winners
        ORDER BY 1, 2
        """
    ).fetchall()
    got = sorted(
        (r["doc_id"], r["pos"])
        for r in paragraph_keep_flags(docs, "text", "doc_id").where("keep").collect()
    )
    assert got == [tuple(r) for r in oracle]


def test_plan_has_no_window(spark, docs):
    """keep_first is agg+join by design (a window over para_hash would
    serialize every copy of a hot paragraph on one reducer)."""
    plan = dedup_paragraphs(docs, "text", "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
