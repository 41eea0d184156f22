"""N-gram language-model perplexity scoring (engine extension): the
CCNet-style quality stage — train a small LM on a trusted reference
corpus (e.g. curated text), score candidate documents by perplexity,
and keep the head of the distribution. Complements
:mod:`.quality_model` (discriminative features) with a generative
signal that needs no labeled junk.

Spark-native shapes:

- **Train** (:func:`train_ngram_lm`): token unigram + bigram counts
  are two map-side-combinable ``groupBy`` aggregations; the model IS
  a pair of DataFrames (no driver-side tables), sized O(vocab) and
  O(seen bigrams).
- **Score** (:func:`perplexity_score`): explode candidate docs to
  (prev, token) pairs, LEFT join the count tables (always broadcast:
  the model is dim-sized — reference LMs are — and a broadcast join
  leaves each document's pairs in one task, so its log-probability
  sum never depends on shuffle fetch order), and one per-doc
  aggregation of interpolated log-probabilities. No UDFs, no python
  in the row path.

Probability model (deliberately simple and fully deterministic):
interpolated bigram ML with add-alpha-smoothed unigrams,

    p(tok | prev) = lam * c(prev, tok)/c(prev)
                  + (1 - lam) * (c(tok) + a) / (N + a * (V + 1))

where the unigram term reserves mass for OOV (the "+1" pseudo-type).
Perplexity = exp(mean negative log p) over the doc's tokens.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import lazy_checkpoint
from .text_analysis import whitespace_tokens

BOS = "<s>"
# train_ngram_lm defaults — module-level so SQL mirrors (the
# corpus_funnel oracle, tests) IMPORT them rather than retype the
# literals; retuning here retunes both engines together
DEFAULT_ALPHA = 0.1
DEFAULT_LAM = 0.7
# perplexity_buckets default head/middle and middle/tail quantiles —
# module-level for the same reason: the corpus_funnel DuckDB mirror
# imports these exact doubles into its quantile_cont calls
DEFAULT_BUCKET_BOUNDS = (1.0 / 3.0, 2.0 / 3.0)


@dataclass(frozen=True)
class NgramLM:
    unigrams: DataFrame  # (tok, uni_n)
    bigrams: DataFrame  # (prev, tok, bi_n, prev_n)
    n_tokens: int
    vocab_size: int
    alpha: float
    lam: float


def _token_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str | None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(prev, tok) pairs per document with a BOS sentinel — one
    explode, all expression-level. ``carry`` columns (functionally
    dependent on the id, e.g. a language label) ride the explode."""
    toks = F.filter(
        whitespace_tokens(F.lower(F.col(text_col))), lambda t: t != F.lit("")
    )
    padded = F.concat(F.array(F.lit(BOS)), toks)
    pairs = F.arrays_zip(
        F.slice(padded, 1, F.size(padded) - 1).alias("prev"),
        F.slice(padded, 2, F.size(padded) - 1).alias("tok"),
    )
    cols = ([F.col(id_col)] if id_col else []) + [F.col(c) for c in carry]
    names = ([id_col] if id_col else []) + list(carry)
    return df.select(*cols, F.explode(pairs).alias("__p")).select(
        *names,
        F.col("__p.prev").alias("prev"),
        F.col("__p.tok").alias("tok"),
    )


def train_ngram_lm(
    reference: DataFrame,
    text_col: str,
    alpha: float = DEFAULT_ALPHA,
    lam: float = DEFAULT_LAM,
) -> NgramLM:
    """Fit the interpolated bigram model on a trusted corpus: two
    hash aggregations over the token pairs; only two scalars (N, V)
    reach the driver.

    ``c(prev)`` is NOT a third full-pairs aggregation: it equals
    ``sum_tok c(prev, tok)``, so it rides a window over the already
    bigram-sized counts — one vocab-sized shuffle instead of a third
    pass over every token pair (round-10: cut train from three
    pair-sized shuffles to two).
    """
    from pyspark.sql import Window

    from .text_dedup import scale_out

    # the token-pair explode is the expensive per-row piece of
    # training; a single-file reference corpus scans as 1-2 partitions
    # and would run it on as many cores (round-15 event-log audit).
    # scale_out is a no-op once the input is defaultParallelism wide —
    # the 100 TB case pays no extra shuffle.
    pairs = _token_pairs(scale_out(reference), text_col, None).persist()
    try:
        # model dims cached per the repo convention (caching.py): lazy
        # localCheckpoint, reclaimed when the NgramLM is GC'd — not a
        # bare persist whose handle outlives the model invisibly
        uni = lazy_checkpoint(
            pairs.groupBy("tok").agg(F.count(F.lit(1)).alias("uni_n"))
        )
        bi_counts = pairs.groupBy("prev", "tok").agg(
            F.count(F.lit(1)).alias("bi_n")
        )
        # c(prev) == sum over tok of c(prev, tok) — integer-exact, so
        # the window form is value-identical to the old third groupBy.
        # Explicit repartition (round-15): the window's own exchange
        # carries a few MB of bigram counts, so AQE coalesces it to
        # ONE partition and the window sort ran single-task (0.44 s of
        # the training phase in the funnel event log) — the byte
        # heuristic cannot see the per-row sort cost. REPARTITION_BY_NUM
        # on the window's exact key satisfies its distribution (one
        # exchange either way, AQE leaves user-numbered exchanges
        # alone); integer sums are partitioning-invariant.
        n_part = reference.sparkSession.sparkContext.defaultParallelism
        bi = lazy_checkpoint(
            bi_counts.repartition(n_part, "prev").withColumn(
                "prev_n", F.sum("bi_n").over(Window.partitionBy("prev"))
            )
        )
        # bi's first consumer is the scoring pass, after the unpersist
        # below, so left to itself it would re-run the token-pair
        # explode. The totals query reads BOTH checkpoints, so one query
        # materializes them from the live pair cache.
        totals = (
            uni.agg(F.sum("uni_n").alias("n"), F.count(F.lit(1)).alias("v"))
            .crossJoin(bi.agg(F.count(F.lit(1)).alias("n_bi")))
            .first()
        )
        return NgramLM(
            uni, bi, int(totals["n"]), int(totals["v"]), float(alpha), float(lam)
        )
    finally:
        pairs.unpersist()


def _interp_logp(lm: NgramLM, bi_n: Column, prev_n: Column, uni_n: Column) -> Column:
    uni_p = (F.coalesce(uni_n, F.lit(0)).cast("double") + F.lit(lm.alpha)) / F.lit(
        lm.n_tokens + lm.alpha * (lm.vocab_size + 1)
    )
    bi_p = F.when(
        prev_n.isNotNull() & bi_n.isNotNull(),
        bi_n.cast("double") / prev_n.cast("double"),
    ).otherwise(F.lit(0.0))
    return F.log(F.lit(lm.lam) * bi_p + F.lit(1.0 - lm.lam) * uni_p)


def _per_doc_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lm: NgramLM,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *carry, n_tokens, avg_neg_logp) for every NON-empty
    document — the shared core of score, filter and buckets. Empty
    docs simply have no token pairs and no row here. ``carry``
    columns (functionally dependent on the id) ride the explode and
    the group keys, so callers never re-join the corpus to recover
    them."""
    from .text_dedup import scale_out

    # same guard as training: the explode + model joins + partial agg
    # run BEFORE any exchange, so a narrow scan serializes the whole
    # scoring pass onto 1-2 cores; no-op on already-wide input
    pairs = _token_pairs(scale_out(df, id_col), text_col, id_col, carry)
    uni = F.broadcast(lm.unigrams)
    bi = F.broadcast(lm.bigrams.select("prev", "tok", "bi_n", "prev_n"))
    scored = (
        pairs.join(uni, "tok", "left")
        .join(bi, ["prev", "tok"], "left")
        .select(
            F.col(id_col),
            *[F.col(c) for c in carry],
            _interp_logp(lm, F.col("bi_n"), F.col("prev_n"), F.col("uni_n")).alias("__lp"),
        )
    )
    return scored.groupBy(id_col, *carry).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (-F.avg("__lp")).alias("avg_neg_logp"),
    )


def perplexity_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lm: NgramLM,
) -> DataFrame:
    """(id, n_tokens, avg_neg_logp, perplexity) per document. Empty
    docs score NULL perplexity (nothing to model) — filter or coalesce
    by policy downstream."""
    per_doc = _per_doc_scores(df, text_col, id_col, lm)
    base = df.select(F.col(id_col)).distinct()
    return base.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        "avg_neg_logp",
        F.exp("avg_neg_logp").alias("perplexity"),
    )


def perplexity_filter(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lm: NgramLM,
    max_perplexity: float,
) -> DataFrame:
    """Keep documents at or below ``max_perplexity`` (schema
    unchanged); empty docs drop (no evidence of quality). The CCNet
    head/middle/tail practice: pick the threshold from the scored
    distribution's quantiles, then filter.

    Built on the per-doc core directly — NOT on
    :func:`perplexity_score` — because the score contract's
    empty-doc-preserving base join (a distinct over every document id
    plus a left join) exists only to emit NULL-perplexity rows this
    filter would immediately drop (round-10: one shuffle + one join
    less on the funnel's hot path; same kept set by construction,
    since a doc with no token pairs has no score row and cannot pass
    the threshold).
    """
    per_doc = _per_doc_scores(df, text_col, id_col, lm)
    keep = per_doc.filter(
        F.exp("avg_neg_logp") <= max_perplexity
    ).select(id_col)
    return df.join(keep, id_col, "left_semi")


def perplexity_pandas_scorer(lm: NgramLM, max_entries: int = 5_000_000):
    """Arrow-batched per-document perplexity scorer — the STREAMING
    form of :func:`perplexity_score` (r12). The batch path's explode +
    model joins + per-doc agg is a stateful aggregation on a stream
    (Spark cannot re-group a document's exploded tokens without
    state), so the streaming gate ships the dim-sized model to the
    workers instead: unigram/bigram counts collect to plain dicts in
    the UDF closure (one copy per executor via task serialization)
    and each document scores in one in-order pass — the same
    interpolation formula, the same ``_py_words``-mirrored ASCII
    tokenization the BPE pack uses (Java ``\\s`` vs Python Unicode
    whitespace, see ``bpe._py_words``).

    ``max_entries`` guards the collect: reference LMs are dim-sized
    (1e5-1e7 rows); a model too big to ship belongs in the batch
    filter, not an on-arrival gate — fail loud rather than OOM the
    driver. Returns a Column: ``scorer(text_col)`` is DOUBLE
    perplexity, NULL for empty/token-less documents (the batch
    contract). Values match the JVM path to float round-off (the
    per-doc log-sum runs in the same token order); kept-set parity
    with :func:`perplexity_filter` is test-pinned at thresholds with
    margin, not promised at the last bit.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from .bpe import _py_words

    # ONE pass per model frame: the old count()-then-collect() ran
    # four jobs where two suffice (round-12 review). The limit caps
    # what an oversized model can pull into the driver before the
    # guard fires (<= max_entries+1 rows per frame), keeping the
    # fail-loud-not-OOM contract the count() used to provide.
    uni_rows = lm.unigrams.limit(max_entries + 1).collect()
    # bigrams draw only the REMAINING budget (+1 to detect overflow):
    # two independent max_entries+1 limits would transiently hold ~2x
    # the configured bound in the driver on the oversized path
    bi_rows = (
        lm.bigrams.limit(max_entries - len(uni_rows) + 1).collect()
        if len(uni_rows) <= max_entries
        else []
    )
    n_model_rows = len(uni_rows) + len(bi_rows)
    if n_model_rows > max_entries or len(uni_rows) > max_entries:
        raise ValueError(
            f"model has > max_entries={max_entries} rows; "
            "a model this large should gate in batch (perplexity_filter), "
            "not stream — or raise max_entries deliberately"
        )
    uni = {r["tok"]: r["uni_n"] for r in uni_rows}
    bi: dict = {}
    prev_n: dict = {}
    for r in bi_rows:
        bi[(r["prev"], r["tok"])] = r["bi_n"]
        prev_n[r["prev"]] = r["prev_n"]
    del uni_rows, bi_rows
    alpha, lam = lm.alpha, lm.lam
    denom = lm.n_tokens + alpha * (lm.vocab_size + 1)

    def _score(texts):
        import math

        def ppl(t):
            toks = _py_words(t)
            if not toks:
                return None
            prev, s = BOS, 0.0
            for tok in toks:
                b = bi.get((prev, tok))
                pn = prev_n.get(prev)
                bi_p = (b / pn) if (b is not None and pn) else 0.0
                uni_p = (uni.get(tok, 0) + alpha) / denom
                s += math.log(lam * bi_p + (1.0 - lam) * uni_p)
                prev = tok
            return math.exp(-s / len(toks))

        return texts.map(ppl)

    # runtime annotations: `from __future__ import annotations` leaves
    # string hints pandas_udf cannot resolve (the bpe.py pattern)
    _score.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(_score, "double")


def perplexity_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lm: NgramLM,
    bounds: tuple[float, float] = DEFAULT_BUCKET_BOUNDS,
    by_lang: str | None = None,
    accuracy: int = 10_000,
    exact: bool = False,
) -> DataFrame:
    """CCNet's head/middle/tail split: label every scoreable document
    by where its perplexity falls in the CORPUS distribution —
    ``head`` (lowest perplexity, most reference-like) up to
    ``bounds[0]``, ``middle`` up to ``bounds[1]``, ``tail`` above.
    CCNet computes the cutoffs per language; pass ``by_lang`` to do
    the same here (one cutoff row per language, broadcast back).

    Shapes: the shared per-doc scoring core, then ONE
    ``percentile_approx`` aggregation for the cutoffs (global or
    per-language — either way a dim-sized frame broadcast onto the
    scores; no sort, no window). The cutoffs are approximate with
    error ~1/``accuracy`` of rank — the same trade CCNet itself makes
    with its binned distributions; documents within that sliver of a
    boundary may land on either side, so tests should pin proportions
    and monotonicity, not exact membership at the boundary.

    ``exact=True`` swaps in exact ``percentile`` (linear
    interpolation at rank ``p*(n-1)``, bit-identical to DuckDB's
    ``quantile_cont`` — verified in the corpus_funnel oracle fold) so
    cross-engine parity checks can pin exact membership. The exact
    form sorts each cohort's perplexities inside the aggregation —
    fine at test scale, not the 100 TB default.

    Returns (id, perplexity, bucket) plus the ``by_lang`` column when
    given. Empty documents have no score row and are absent — CCNet
    drops them too. Rows with a NULL ``by_lang`` value form their own
    cohort (null-safe cutoff join), they do not vanish.
    """
    lo, hi = bounds
    if not 0.0 < lo < hi < 1.0:
        raise ValueError(f"bounds must satisfy 0 < lo < hi < 1, got {bounds}")
    keys = [by_lang] if by_lang else []
    per_doc = _per_doc_scores(df, text_col, id_col, lm, carry=tuple(keys))
    # the language label rides the scoring explode/groupBy (carry), so
    # no corpus-sized join — and certainly no corpus-sized broadcast —
    # is ever needed to recover it. Checkpoint: the scored frame feeds
    # BOTH the cutoff aggregation and the labeled output (the
    # perplexity_filter three-consumers rule, one subtree execution).
    scored = lazy_checkpoint(
        per_doc.select(id_col, *keys, F.exp("avg_neg_logp").alias("perplexity"))
    )
    if exact:
        cuts = scored.groupBy(*keys).agg(
            F.percentile("perplexity", F.lit(lo)).alias("__lo"),
            F.percentile("perplexity", F.lit(hi)).alias("__hi"),
        )
    else:
        cuts = scored.groupBy(*keys).agg(
            F.percentile_approx("perplexity", F.lit(lo), F.lit(accuracy)).alias("__lo"),
            F.percentile_approx("perplexity", F.lit(hi), F.lit(accuracy)).alias("__hi"),
        )
    if keys:
        # NULL-safe on the lang key: rows with NULL language form
        # their own cohort and must not vanish through an equi-join.
        # The cuts side is ALIASED before joining: `cuts` derives from
        # `scored`, so `scored[by_lang].eqNullSafe(cuts[by_lang])`
        # resolves both references to the SAME attribute — Spark
        # rewrites it as a trivially-true predicate (with a warning
        # today; a silent per-language cross join after any refactor
        # that drops the self-join disambiguation — round-12 review).
        # Renaming gives the condition two distinct attributes.
        cut_lang = "__cut_lang"
        while cut_lang in scored.columns:
            cut_lang += "_"
        cuts_aliased = cuts.withColumnRenamed(by_lang, cut_lang)
        cond = F.col(by_lang).eqNullSafe(F.col(cut_lang))
        labeled = scored.join(F.broadcast(cuts_aliased), cond).drop(cut_lang)
    else:
        labeled = scored.crossJoin(F.broadcast(cuts))
    bucket = (
        F.when(F.col("perplexity") <= F.col("__lo"), F.lit("head"))
        .when(F.col("perplexity") <= F.col("__hi"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return labeled.select(id_col, *keys, "perplexity", bucket.alias("bucket"))
