"""Paragraph-level deduplication (engine extension; the reference has
no corpus operators — SURVEY.md §2 extensions).

CCNet-style (Wenzek et al. 2020, "CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data") dedup at PARAGRAPH
granularity: split each document on blank lines, normalize + hash each
paragraph, drop duplicate paragraphs corpus-wide, and reassemble the
surviving paragraphs into the cleaned document. Web boilerplate
(navigation, cookie banners, footers) repeats across pages that are
otherwise unique, so document-level dedup (:mod:`.text_dedup`) misses
it entirely — the two operate at different granularities and compose.

Two published policies, both provided:

- ``policy="keep_first"`` — every distinct paragraph survives exactly
  once, at its globally first occurrence (ordered by ``(doc, pos)``);
  later copies are dropped. CCNet's dedup proper.
- ``policy="max_docs"`` — a paragraph appearing in MORE than
  ``max_docs`` distinct documents is dropped from ALL of them
  (no representative kept): the boilerplate-removal variant, where
  ubiquity itself is the evidence the text is template, not content.

Scale shape (100 TB):

- The split is ``posexplode(split(...))`` — a pure codegen projection
  that pipelines with the scan, no Python.
- ``keep_first`` needs the global argmin occurrence per paragraph
  hash. A window over the hash would sort every copy of a hot
  paragraph on one reducer, so instead it is a ``groupBy(hash).agg(
  min(struct(doc, pos)))`` — map-side partial combine collapses hot
  hashes before the shuffle — followed by an equi-join back on the
  FULL ``(hash, doc, pos)`` key, which is unique per row, so the join
  shuffle is perfectly spread even when one paragraph is 1% of the
  corpus.
- ``max_docs`` reduces to a join against the over-shared hash set,
  which is bounded by the corpus's boilerplate vocabulary (small by
  construction) and broadcast.
- Reassembly is one ``groupBy(doc)`` — the same doc-keyed shuffle any
  per-document aggregate pays; paragraph text crosses the wire once.

Hashing: ``fast=False`` uses :func:`..functions.hashing.
stable_long_hash` (md5-derived, DuckDB-computable — parity-testable);
``fast=True`` uses xxhash64 (JVM codegen, the scale path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import fast_long_hash, stable_long_hash
from .text_analysis import normalize_text

#: Blank-line paragraph boundary (CCNet's unit). ``\r`` tolerated.
PARAGRAPH_SEP = r"(?:\r?\n)(?:[ \t]*\r?\n)+"


def split_paragraphs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    sep: str = PARAGRAPH_SEP,
) -> DataFrame:
    """One row per non-blank paragraph: ``(id, pos, paragraph)``.

    ``pos`` is the paragraph's 0-based position among the document's
    non-blank paragraphs (blank fragments produced by the split are
    dropped before numbering, so positions are dense). Pure
    projection + generate — pipelines with the scan.
    """
    # plain posexplode: empty and NULL arrays (blank-only or NULL
    # docs) produce no rows by themselves — no outer+filter needed
    parts = F.filter(
        F.transform(F.split(F.col(text_col), sep), lambda p: F.trim(p)),
        lambda p: p != "",
    )
    return df.select(
        F.col(id_col),
        F.posexplode(parts).alias("pos", "paragraph"),
    )


def _para_hash(col, normalize: bool, fast: bool):
    c = normalize_text(col) if normalize else F.col(col) if isinstance(col, str) else col
    return fast_long_hash(c) if fast else stable_long_hash(c)


def paragraph_keep_flags(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    sep: str = PARAGRAPH_SEP,
    policy: str = "keep_first",
    max_docs: int = 1,
    normalize: bool = True,
    fast: bool = False,
) -> DataFrame:
    """Exploded paragraphs with a ``keep`` flag: ``(id, pos, paragraph,
    keep)``. The analysis surface — :func:`dedup_paragraphs` reassembles
    it; audits can aggregate it directly (e.g. dropped-char fraction).
    """
    if policy not in ("keep_first", "max_docs"):
        raise ValueError(f"unknown policy {policy!r} (keep_first|max_docs)")
    paras = split_paragraphs(df, text_col, id_col, sep=sep).withColumn(
        "para_hash", _para_hash(F.col("paragraph"), normalize, fast)
    )
    if policy == "keep_first":
        # Global argmin occurrence per hash: partial-combine-friendly
        # agg (hot hashes collapse map-side), then rejoin on the full
        # unique (hash, id, pos) key so no reducer sees a hot hash's
        # whole copy set.
        winners = paras.groupBy("para_hash").agg(
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("w")
        )
        winners = winners.select(
            "para_hash",
            F.col(f"w.{id_col}").alias(id_col),
            F.col("w.pos").alias("pos"),
            F.lit(True).alias("keep"),
        )
        out = paras.join(winners, ["para_hash", id_col, "pos"], "left").withColumn(
            "keep", F.coalesce("keep", F.lit(False))
        )
    else:
        if max_docs < 1:
            raise ValueError(f"max_docs must be >= 1, got {max_docs}")
        over = (
            paras.groupBy("para_hash")
            .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
            .where(F.col("n_docs") > max_docs)
            .select("para_hash", F.lit(True).alias("is_over"))
        )
        out = (
            paras.join(F.broadcast(over), "para_hash", "left")
            .withColumn("keep", F.col("is_over").isNull())
            .drop("is_over")
        )
    return out.select(id_col, "pos", "paragraph", "keep")


def dedup_paragraphs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    sep: str = PARAGRAPH_SEP,
    join_sep: str = "\n\n",
    policy: str = "keep_first",
    max_docs: int = 1,
    normalize: bool = True,
    fast: bool = False,
) -> DataFrame:
    """Corpus-wide paragraph dedup with reassembly: ``(id, text,
    n_paragraphs, n_kept)``.

    Every input document survives (quality gates downstream decide
    drops, per this engine's funnel convention): a document whose
    paragraphs were all removed — or that had none — comes back with
    ``text = ''`` and ``n_kept = 0``. Kept paragraphs are rejoined in
    original order with ``join_sep``; the dedup KEY is the normalized
    paragraph, the kept CONTENT is the original text.
    """
    flags = paragraph_keep_flags(
        df,
        text_col,
        id_col,
        sep=sep,
        policy=policy,
        max_docs=max_docs,
        normalize=normalize,
        fast=fast,
    )
    rebuilt = flags.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_paragraphs"),
        F.sum(F.col("keep").cast("int")).alias("n_kept"),
        F.concat_ws(
            join_sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct(F.col("pos"), F.col("paragraph")))
                    )
                ),
                lambda s: s.paragraph,
            ),
        ).alias(text_col),
    )
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            F.coalesce("n_paragraphs", F.lit(0)).alias("n_paragraphs"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )
