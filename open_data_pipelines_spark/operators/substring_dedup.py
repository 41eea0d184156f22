"""Substring-level exact deduplication (engine extension; the
reference has no corpus operators — SURVEY.md §2 extensions).

Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
Better") showed that web corpora contain verbatim substrings repeated
across otherwise-distinct documents — license blocks, quoted
passages, templated spans — and that removing any substring of
>= ~50 tokens that occurs more than once measurably improves the
trained model. Their ExactSubstr tool builds a corpus-wide suffix
array; a suffix array is inherently a single-machine sequential
structure, so the Spark-first re-expression uses the standard
distributed equivalent: every length-``k`` TOKEN WINDOW is hashed,
windows whose hash occurs >= 2 times corpus-wide are duplicated, and
per document the duplicated windows are merged into maximal spans
(two length-k windows overlap iff their starts are < k apart, so a
duplicated substring of length L >= k yields L-k+1 consecutive
duplicated windows that merge back into the one span — the window
decomposition is exact for spans, it only quantizes the boundary to
token granularity).

Pipeline shape (100 TB):

- Window generation is ``posexplode(transform(sequence(...)))`` over
  the token array — pure codegen, pipelines with the scan; output is
  one (id, start, hash) row per window (hash-only: window TEXT never
  shuffles).
- The duplicate set comes from ``groupBy(hash)`` with map-side
  partial combine; occurrences are marked by an equi-join on the
  hash. A degenerate window (one token repeated millions of times)
  makes that join key hot — AQE's skew-join split handles the probe
  side, and ``max_occurrences`` optionally drops hashes beyond a cap
  from the DUPLICATE set (a window that frequent is repetition
  (:mod:`.repetition`) territory, not substring dedup).
- Span merge is the classic running-max interval merge under a
  per-document window — partitioned by doc id, bounded by document
  size, no global sort.
- ``keep_one=True`` (default) exempts each duplicated window's
  globally first occurrence (ordered by ``(id, start)``). The
  guarantee is WINDOW-granular, not span-granular: every k-token
  window's content survives somewhere, but when overlapping
  duplicated spans have their first-occurrence windows in DIFFERENT
  documents, each full copy of a longer span can be partially cut —
  no single document is guaranteed to retain the span intact (an
  accepted property of re-expressing the paper's sequential dedup
  over independent fixed-k windows). ``keep_one=False`` marks every
  occurrence (the "any duplicated text is suspect" audit variant).

Hashing: ``fast=False`` -> :func:`..functions.hashing.
stable_long_hash` (DuckDB-computable, parity-testable);
``fast=True`` -> xxhash64 (scale path). A 64-bit hash collision can
merge two distinct windows; at 100 TB (~1e11 windows) the expected
collision count is ~1e22/2^65 — a handful of spurious duplicate
marks, acceptable for a lossy cleaning operator (the paper's own
Bloom-filter variants accept the same).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import lazy_checkpoint
from ..functions.hashing import fast_long_hash, stable_long_hash
from .text_analysis import tokens_or_empty
from .text_dedup import scale_out


def _tokens(text_col: str):
    # NULL text counts as zero tokens, like blank — the DuckDB
    # oracle's `text IS NULL` branch needs this mirror
    return tokens_or_empty(text_col)


def window_hashes(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 50,
    fast: bool = False,
) -> DataFrame:
    """One row per length-``k`` token window: ``(id, start, whash)``.

    ``start`` is the 0-based token index of the window's first token.
    Documents shorter than ``k`` tokens produce no rows (nothing of
    length k can repeat out of them). Hash-only — window text stays
    inside the projection and never reaches a shuffle.
    """
    if k < 2:
        raise ValueError(f"window must be >= 2 tokens, got k={k}")
    # hashing n_tokens windows per row is CPU-heavy: fan a narrow scan
    # out across cores first (no-op on an already-wide 100 TB scan)
    df = scale_out(df)
    toks = _tokens(text_col)
    hasher = fast_long_hash if fast else stable_long_hash
    starts = F.when(
        F.size(toks) >= k, F.sequence(F.lit(0), F.size(toks) - F.lit(k))
    ).otherwise(F.array().cast("array<int>"))
    windows = F.transform(
        starts,
        lambda i: hasher(F.concat_ws(" ", F.slice(toks, i + 1, k))),
    )
    return df.select(F.col(id_col), F.posexplode(windows).alias("start", "whash"))


def duplicated_windows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 50,
    *,
    keep_one: bool = True,
    max_occurrences: int | None = None,
    fast: bool = False,
) -> DataFrame:
    """Occurrences of corpus-duplicated windows: ``(id, start)``.

    A window is duplicated when its hash occurs >= 2 times corpus-wide
    (and, with ``max_occurrences``, <= that cap — beyond it the text
    is degenerate repetition, handled by :mod:`.repetition`). With
    ``keep_one`` the globally first occurrence per hash (min
    ``(id, start)``) is exempted — one copy PER WINDOW HASH, not per
    merged span (see the module docstring's window-granularity note).
    """
    # reuse cache: the window frame feeds both the duplicate-set agg
    # and the occurrence mark — without it the explode+hash runs twice
    wins = lazy_checkpoint(window_hashes(df, text_col, id_col, k=k, fast=fast))
    stats = wins.groupBy("whash").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.min(F.struct(F.col(id_col), F.col("start"))).alias("first_occ"),
    )
    dup = stats.where(F.col("n_occ") >= 2)
    if max_occurrences is not None:
        dup = dup.where(F.col("n_occ") <= max_occurrences)
    marked = wins.join(dup.select("whash", "first_occ"), "whash", "inner")
    if keep_one:
        marked = marked.where(
            ~(
                (F.col("first_occ")[id_col] == F.col(id_col))
                & (F.col("first_occ")["start"] == F.col("start"))
            )
        )
    return marked.select(id_col, "start")


def merge_spans(
    occurrences: DataFrame,
    id_col: str,
    k: int,
) -> DataFrame:
    """Merge duplicated window starts into maximal per-document spans:
    ``(id, span_start, span_end)`` with ``span_end`` exclusive.

    Running-max interval merge: a window starting at ``s`` covers
    ``[s, s+k)``; consecutive intervals chain while each start is
    <= the running max end. Per-doc window partitioning — no global
    sort, bounded by document length.
    """
    w = Window.partitionBy(id_col).orderBy("start")
    prev_end = F.max(F.col("start") + F.lit(k)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    grouped = occurrences.withColumn(
        "new_span", F.when(prev_end.isNull() | (F.col("start") > prev_end), 1).otherwise(0)
    ).withColumn("span_id", F.sum("new_span").over(w))
    return grouped.groupBy(id_col, "span_id").agg(
        F.min("start").alias("span_start"),
        (F.max("start") + F.lit(k)).alias("span_end"),
    ).drop("span_id")


def duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 50,
    *,
    keep_one: bool = True,
    max_occurrences: int | None = None,
    fast: bool = False,
) -> DataFrame:
    """Maximal duplicated token spans per document:
    ``(id, span_start, span_end)``, ``span_end`` exclusive."""
    occ = duplicated_windows(
        df,
        text_col,
        id_col,
        k=k,
        keep_one=keep_one,
        max_occurrences=max_occurrences,
        fast=fast,
    )
    return merge_spans(occ, id_col, k)


def duplication_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 50,
    *,
    keep_one: bool = True,
    max_occurrences: int | None = None,
    fast: bool = False,
) -> DataFrame:
    """Per-document duplicated-token accounting: ``(id, n_tokens,
    dup_tokens, dup_token_fraction)``. Every input document survives;
    span-free docs report 0.0."""
    spans = duplicated_spans(
        df,
        text_col,
        id_col,
        k=k,
        keep_one=keep_one,
        max_occurrences=max_occurrences,
        fast=fast,
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sum(F.col("span_end") - F.col("span_start")).alias("dup_tokens")
    )
    base = df.select(F.col(id_col), F.size(_tokens(text_col)).alias("n_tokens"))
    return base.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
        F.when(F.col("n_tokens") > 0, F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"))
        .otherwise(F.lit(0.0))
        .alias("dup_token_fraction"),
    )


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 50,
    *,
    keep_one: bool = True,
    max_occurrences: int | None = None,
    fast: bool = False,
) -> DataFrame:
    """Cut duplicated spans out of each document: ``(id, text,
    n_tokens, dup_tokens)`` with the surviving tokens rejoined by
    single spaces (token-granularity surgery cannot preserve the
    original whitespace, by construction).

    The span list is collected PER DOCUMENT (bounded by
    ``n_tokens / k`` entries — never a corpus-sized collect) and the
    cut is a higher-order-function filter over token positions: pure
    codegen, no Python. Cost O(n_tokens * n_spans) per document.
    """
    spans = duplicated_spans(
        df,
        text_col,
        id_col,
        k=k,
        keep_one=keep_one,
        max_occurrences=max_occurrences,
        fast=fast,
    )
    span_lists = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("dup_tokens"),
    )
    joined = df.join(span_lists, id_col, "left")
    toks = _tokens(text_col)
    idx = F.when(F.size(toks) > 0, F.sequence(F.lit(0), F.size(toks) - 1)).otherwise(
        F.array().cast("array<int>")
    )
    spans_or_empty = F.coalesce(
        F.col("spans"), F.array().cast("array<struct<span_start:int,span_end:int>>")
    )
    kept_idx = F.filter(
        idx,
        lambda i: ~F.exists(
            spans_or_empty,
            lambda sp: (i >= sp.span_start) & (i < sp.span_end),
        ),
    )
    return joined.select(
        F.col(id_col),
        F.concat_ws(
            " ", F.transform(kept_idx, lambda i: F.element_at(toks, i + 1))
        ).alias(text_col),
        F.size(toks).alias("n_tokens"),
        F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
    )
