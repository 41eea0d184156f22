"""Corpus-level boilerplate line removal (engine extension; the
C4 / RefinedWeb preprocessing move the per-doc repetition signals
cannot express: drop LINES that repeat across many DOCUMENTS —
navigation chrome, cookie banners, license footers — and stitch the
surviving lines back into documents).

Scale shape: explode docs to (doc, line_idx, line) rows, ONE
hash-groupBy over the line fingerprint counting distinct docs
(map-side combinable), then strip each document's lines against the
boilerplate fingerprint set (small — boilerplate is by definition
heavy-hitter lines): row-locally when the set is inlinable, else by a
broadcast anti-join and a groupBy(doc) reassembly ordered by line
index. Never a product, no window over the raw corpus.

The line fingerprint is md5 of the whitespace-normalized line, so
cosmetic indentation variants of the same banner collapse — the same
normalization discipline as :func:`.text_dedup.dedup_exact_text`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import lazy_checkpoint
from .text_analysis import normalize_text

#: Largest boilerplate fingerprint set :func:`strip_boilerplate_lines`
#: inlines into its row-local filter; a larger set takes the join path.
MAX_INLINE_FPS = 4096


def _line_rows(
    df: DataFrame, text_col: str, id_col: str, keep_blank: bool = False
) -> DataFrame:
    lines = F.split(F.col(text_col), r"\n")
    rows = (
        df.select(F.col(id_col), F.posexplode(lines).alias("__idx", "__line"))
        .withColumn("__norm", normalize_text(F.col("__line")))
    )
    if not keep_blank:
        rows = rows.filter(F.col("__norm") != "")
    return rows.withColumn("__fp", F.md5("__norm"))


def _boilerplate_fps(rows: DataFrame, id_col: str, min_docs: int) -> DataFrame:
    """The ONE definition of 'boilerplate': normalized-line
    fingerprints appearing in >= ``min_docs`` distinct docs. Shared by
    the curator audit and the strip so the two can never disagree on
    what gets removed.

    Two-level shape (round-15): ``count_distinct`` planned its final
    aggregation onto ONE AQE-coalesced partition (the per-fingerprint
    rollup is small in BYTES, which is all the coalesce heuristic
    sees) — 0.3 s single-task in the funnel's probe collect. The
    explicit (fp, doc) level keeps the skew-safe first key (a
    universal banner fans across reducers by doc), and BOTH exchanges
    are REPARTITION_BY_NUM so AQE leaves them wide (the ensured form's
    (fp, doc) reader also coalesced to one task, 0.35 s). The traded
    map-side pre-combine only collapsed duplicate lines WITHIN one
    document (blanks are already filtered), so shuffle bytes are
    near-identical. Value-identical to count_distinct: count of
    distinct (fp, doc) pairs per fp; min-of-mins — and every row of
    one fp carries the same ``__norm`` by construction,
    fp = md5(norm).

    PRECONDITION: ``id_col`` is non-NULL (true of every pipeline in
    this engine — doc ids come from parquet keys or ``uuid()``).
    ``count(lit(1))`` over (fp, id) groups counts a NULL-id group
    that ``count_distinct(id)`` would have excluded, so a NULL-id
    corpus could cross ``min_docs`` one doc early (round-16 advice)."""
    n_part = rows.sparkSession.sparkContext.defaultParallelism
    per_doc = (
        rows.repartition(n_part, "__fp", id_col)
        .groupBy("__fp", id_col)
        .agg(F.min("__norm").alias("__norm"))
    )
    return (
        per_doc.repartition(n_part, "__fp")
        .groupBy("__fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("__norm").alias("sample_line"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select(F.col("__fp").alias("line_fp"), "n_docs", "sample_line")
    )


def boilerplate_lines(
    df: DataFrame, text_col: str, id_col: str, min_docs: int = 3
) -> DataFrame:
    """(line_fp, n_docs, sample_line) — normalized lines appearing in
    at least ``min_docs`` distinct documents. The audit table a
    curator inspects before committing to removal."""
    return _boilerplate_fps(_line_rows(df, text_col, id_col), id_col, min_docs)


def strip_boilerplate_lines(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_docs: int = 3,
) -> DataFrame:
    """Remove every line appearing in >= ``min_docs`` distinct docs and
    reassemble the remaining lines in order. Schema preserved; docs
    whose every line was boilerplate come back with blank-only text (a
    downstream quality/length filter drops them — same layering as the
    reference funnel). Blank lines are KEPT in reassembly: they are
    the paragraph boundaries the CCNet paragraph stage splits on
    (round 12 — dropping them degraded html+boilerplate+paragraph
    runs to whole-document dedup granularity).

    The boilerplate fingerprints are collected once (up to
    ``MAX_INLINE_FPS`` + 1 of them). When the set fits, each document's
    lines are filtered ROW-LOCALLY with an array HOF, so after the one
    unavoidable counting aggregation there is NO anti-join, NO per-line
    reassembly shuffle and NO rebuilt-corpus join back onto ``df`` (at
    sf0.1 this cut the funnel's boilerplate stage ~2x against the join
    path). A larger set takes the join path: a broadcast anti-join of
    the exploded lines plus a groupBy reassembly. Both produce
    identical text for every document (equality-pinned in
    tests/test_boilerplate.py).

    EAGER at construction: the fingerprint probe is a Spark job (a
    ``collect``), so calling this function executes the whole upstream
    plan BEFORE any action on the result. Freezing the set at
    construction time is also a semantics choice: the stripped text is
    pinned to the corpus as seen NOW, not re-derived per downstream
    action.
    """
    fps = _boilerplate_fps(
        _line_rows(df, text_col, id_col), id_col, min_docs
    ).select("line_fp")
    head = [r.line_fp for r in fps.limit(MAX_INLINE_FPS + 1).collect()]
    if len(head) <= MAX_INLINE_FPS:
        # complete set (the limit was not hit) — strip row-locally.
        # The HOF is CodegenFallback (interpreted), so an under-
        # partitioned input would serialize the whole strip onto
        # one core — a hazard the join path never had because its
        # shuffles re-spread implicitly (the lang_classifier._spread
        # rule); the guard is a no-op on well-partitioned corpora
        target = df.sparkSession.sparkContext.defaultParallelism
        # JVM-side probe (round 15): avoids the PythonRDD wrap
        if df._jdf.queryExecution().toRdd().getNumPartitions() < target:
            df = df.repartition(target)
        lines = F.split(F.col(text_col), r"\n")
        if head:
            # one InSet membership test per line; md5('') is never
            # in the set (_boilerplate_fps counts non-blank norms
            # only), so blank paragraph boundaries always survive
            kept = F.filter(
                lines,
                lambda l: ~F.md5(normalize_text(l)).isin(*head),
            )
        else:
            kept = lines
        new_text = F.coalesce(F.array_join(kept, "\n"), F.lit(""))
        return df.select(
            *[
                new_text.alias(text_col) if c == text_col else F.col(c)
                for c in df.columns
            ]
        )
    # oversized set: the join path. ONE line-explode shared by the
    # boilerplate aggregation and the anti-join side — lazily
    # checkpointed so the explode+fingerprint pass over the corpus
    # executes once, not twice (blocks reclaimed
    # when the result frame is GC'd). Blank lines RIDE the explode but
    # are excluded from the boilerplate count: they are paragraph
    # boundaries (the CCNet separator html_to_text emits), and the old
    # drop-blanks reassembly silently degraded any downstream
    # paragraph stage to whole-document granularity (round-12 review)
    rows = lazy_checkpoint(_line_rows(df, text_col, id_col, keep_blank=True))
    bad = F.broadcast(
        _boilerplate_fps(rows.filter(F.col("__norm") != ""), id_col, min_docs).select("line_fp")
    )
    kept = rows.join(bad, rows["__fp"] == bad["line_fp"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__idx"), F.col("__line")))
                ),
                lambda s: s["__line"],
            ),
        ).alias("__rebuilt")
    )
    out = df.join(rebuilt, id_col, "left")
    return out.select(
        *[
            F.coalesce("__rebuilt", F.lit("")).alias(text_col)
            if c == text_col
            else F.col(c)
            for c in df.columns
        ]
    )
