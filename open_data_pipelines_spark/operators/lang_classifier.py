"""Trained character-n-gram language classifier (engine extension;
the learned counterpart of ``text_analysis.lang_id``'s stopword
heuristic — the fastText-langid tier of web pipelines: CCNet, C4 and
RefinedWeb all gate on a TRAINED language model's prediction, not on
stopword hits, because short / informal / unseen-domain text defeats
word lists long before it defeats character statistics).

Multinomial naive Bayes over lowercased character n-grams, all
Spark-native and scale-shaped:

- **Training** is ONE distributed aggregation over (label, ngram)
  counts (explode rides map-side combine), a TakeOrdered head for the
  global vocabulary (top ``vocab_size`` n-grams — same driver-bounded
  head discipline as bpe.py's word-frequency head), and a bounded
  collect of <= vocab_size x n_labels smoothed log-probabilities.
  No iteration, no MLlib.
- **Scoring** never moves the model to the rows by shuffle: the
  (ngram, label, logp) table broadcast-joins the per-(doc, ngram)
  counts, one groupBy(doc, label) sums matched mass, and the argmax
  is ``max(struct(score, label))`` — an aggregation, not a window,
  so there is no per-doc sort and no skew hazard for long documents.
- Per-doc n-gram totals are computed BEFORE the explode, so unseen-
  n-gram mass ((total - matched) * unk_logp) needs no second pass.

Scores are sums of doubles under a shuffle, so they are deterministic
to ~1e-9 relative (aggregation order), never bit-pinned; predictions
tie-break deterministically by label. Parity against a pure-Python
naive-Bayes oracle (same vocab, same smoothing) is pinned in
tests/test_lang_classifier.py.

Reference anchor: the reference pipeline has no language stage (UK
open-data English); this is part of the LLM-curation extension
surface (SURVEY.md "beyond the reference" track) next to lang_id,
quality_score and the CCNet perplexity stages.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame

from pyspark.sql import functions as F

from ..functions.dimframe import dim_frame
from ..functions.exprmemo import memo_column

__all__ = [
    "LangClassifier",
    "char_ngrams",
    "fit_lang_classifier",
    "predict_language",
]


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin the doc rows across the executor cores when the
    input arrives in FEWER partitions than the cluster can run — the
    char-n-gram explode is an interpreted HOF (CodegenFallback), so
    its per-row cost dominates and a single-partition input serializes
    the whole scoring pass onto one core (measured 5 s -> 0.6 s on the
    sf0.1 funnel gate). At scale this is a no-op: a 100 TB corpus
    already arrives in >> defaultParallelism partitions, so the
    guard never triggers and no corpus-wide shuffle is introduced."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # JVM-side probe (round 15): df.rdd wraps the plan in a Python-
    # serialization RDD per call; toRdd() reads the count directly
    if df._jdf.queryExecution().toRdd().getNumPartitions() < target:
        return df.repartition(target)
    return df


@memo_column
def prep_text(col: Column | str) -> Column:
    """Lowercase + collapse whitespace runs to single spaces + trim —
    the canonical form both training and scoring n-gram over."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


@memo_column
def char_ngrams(col: Column | str, n: int) -> Column:
    """All overlapping character ``n``-grams of an ALREADY-PREPPED
    plain column (pass a stored column ref, not a computed tree — the
    expression references it three times). Empty array when the text
    is NULL or shorter than ``n``."""
    c = F.col(col) if isinstance(col, str) else col
    grams = F.transform(
        F.sequence(F.lit(1), F.length(c) - n + 1), lambda i: c.substr(i, F.lit(n))
    )
    return F.when(c.isNull() | (F.length(c) < n), F.array().cast("array<string>")).otherwise(grams)


@dataclass(frozen=True)
class LangClassifier:
    """Broadcast-sized trained model: sorted label tuple, per-label
    log prior, per-label unknown-n-gram log prob, and the flat
    (ngram, label) -> logp table. Bounded by vocab_size x n_labels."""

    n: int
    labels: tuple[str, ...]
    priors: dict[str, float]
    unk: dict[str, float]
    table: dict[tuple[str, str], float]

    def to_dict(self) -> dict:
        return {
            "n": self.n,
            "labels": list(self.labels),
            "priors": dict(self.priors),
            "unk": dict(self.unk),
            "table": [[g, l, p] for (g, l), p in sorted(self.table.items())],
        }

    @staticmethod
    def from_dict(d: dict) -> "LangClassifier":
        return LangClassifier(
            n=d["n"],
            labels=tuple(d["labels"]),
            priors=dict(d["priors"]),
            unk=dict(d["unk"]),
            table={(g, l): p for g, l, p in d["table"]},
        )


def fit_lang_classifier(
    df: DataFrame,
    text_col: str,
    label_col: str,
    n: int = 3,
    vocab_size: int = 4096,
    smoothing: float = 0.5,
) -> LangClassifier:
    """Train multinomial NB over char n-grams. One wide aggregation
    (label, ngram) -> count; vocabulary = global top ``vocab_size``
    n-grams (ties broken by n-gram ascending — deterministic and
    mirrored by the test oracle); add-k smoothing with the unknown
    bucket as one extra vocabulary cell."""
    base = df.select(
        F.col(label_col).alias("__lbl"), prep_text(text_col).alias("__t")
    ).filter(F.col("__lbl").isNotNull())
    prepped = _spread(base)

    grams = prepped.select(
        "__lbl", F.explode(char_ngrams("__t", n)).alias("__g")
    )
    counts = grams.groupBy("__lbl", "__g").agg(F.count(F.lit(1)).alias("__c"))

    # The explicit REPARTITION_BY_NUM on the grouping key (round 15)
    # keeps the rollup wide where AQE's byte heuristic would coalesce
    # the tiny exchange to one task; one exchange either way, and
    # driver folding is order-insensitive (dict inserts), so values
    # are partitioning-invariant.
    n_part = df.sparkSession.sparkContext.defaultParallelism
    # Two-level head (round 16, VERDICT r15 #6): the vocabulary
    # choice needs only (gram, total) — computing it over rows
    # that also carry the per-label struct list shipped the model
    # payload through the ordering path for every DISTINCT gram in
    # the corpus, not just the vocab_size winners. Level 1: light
    # per-gram totals, TakeOrderedAndProject partial head (per-
    # partition top-K, driver merge — no global sort, no payload).
    # Level 2: broadcast the winners back onto the (lbl, gram)
    # counts and collect exactly vocab_size x n_labels rows. The
    # counts frame gains a reuse checkpoint, materialized by the head
    # job and re-read by level 2; ties break on (__tot desc, __g asc).
    from ..caching import lazy_checkpoint

    counts = lazy_checkpoint(counts.repartition(n_part, "__g"))
    head = (
        counts.groupBy("__g")
        .agg(F.sum("__c").alias("__tot"))
        .orderBy(F.col("__tot").desc(), F.col("__g").asc())
        .limit(vocab_size)
        .select("__g")
    )
    vocab_q = counts.join(F.broadcast(head), "__g").select(
        "__g", "__lbl", "__c"
    )
    # The training jobs are independent: overlap them (guide §2.6)
    # — the tiny label-count job back-fills executors the gram job
    # leaves idle instead of serializing after it. Doc counts run on
    # the PRE-spread frame: per-label row counts are partitioning-
    # invariant, so the count job skips _spread's exchange entirely.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        vocab_f = pool.submit(vocab_q.collect)
        doc_rows = {
            r["__lbl"]: r["cnt"]
            for r in base.groupBy("__lbl").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        vocab_rows = vocab_f.result()
    tot_rows: dict[str, int] = {}
    gram_counts: dict[tuple[str, str], int] = {}
    for r in vocab_rows:
        gram_counts[(r["__g"], r["__lbl"])] = r["__c"]
        tot_rows[r["__lbl"]] = tot_rows.get(r["__lbl"], 0) + r["__c"]

    labels = tuple(sorted(doc_rows))
    v1 = vocab_size + 1  # +1: the unknown bucket
    total_docs = sum(doc_rows.values())
    priors = {l: math.log(doc_rows[l] / total_docs) for l in labels}
    denom = {l: tot_rows.get(l, 0) + smoothing * v1 for l in labels}
    unk = {l: math.log(smoothing / denom[l]) for l in labels}
    table = {
        (g, l): math.log((c + smoothing) / denom[l])
        for (g, l), c in gram_counts.items()
    }
    return LangClassifier(n=n, labels=labels, priors=priors, unk=unk, table=table)


def predict_language(
    df: DataFrame,
    model: LangClassifier,
    text_col: str,
    id_col: str,
    out_col: str = "pred_lang",
    score_col: str | None = None,
    min_ngrams: int = 1,
    ids_only: bool = False,
    pivot_max_labels: int = 16,
) -> DataFrame:
    """Append the predicted label (and optionally its joint log
    probability). Documents with fewer than ``min_ngrams`` n-grams
    (empty/NULL/too-short text) get ``'und'``.

    ``ids_only=True`` returns the compact ``(id_col, out_col[,
    score_col])`` frame instead of re-joining predictions onto the
    input — the form a downstream GATE wants (semi-join on the kept
    ids), skipping the big-big enrichment join entirely.

    Plan shape (round 13 — ONE shuffle): gram occurrences
    ``explode_outer`` (so zero-gram docs keep a row), LEFT broadcast
    join to the model table, one ``groupBy(doc)`` whose aggregates
    pivot per label (conditional sum of matched log-probs + matched
    count — map-side combined), scores and the argmax computed as
    pure expressions over the pivoted row:
    ``greatest(struct(score, label)...)`` — ties go to the
    lexicographically larger label, mirrored by the oracle. The old
    shape paid three shuffles (per-(doc,gram) counts, per-(doc,label)
    mass, a corpus-sized doc x label grid join).

    Above ``pivot_max_labels`` the pivot stops scaling — its 2-per-
    label conditional aggregates are evaluated against EVERY joined
    gram row, so a 64-label model measured 742 µs/row vs ~9 at 3
    labels (STRESS round 14) — and scoring switches to the GROUPED
    shape: one ``groupBy(doc, label)`` over MATCHED rows only, one
    ``groupBy(doc)`` argmax, and absent (doc, label) pairs
    reconstructed per doc by the closed-form ``prior + total*unk``
    expression (correct because a matched gram's log-prob is always
    >= the unknown-bucket log-prob, so ``max(present-max,
    absent-formula-max)`` equals the true argmax, tie-break
    included). Two shuffles, but every aggregate is O(1) in label
    cardinality and there is still no doc x label grid join. Same
    predictions, same tie-break; set ``pivot_max_labels`` to force
    either shape."""
    spark = df.sparkSession

    # caller-frame temp names derived to avoid collisions (repo
    # convention, round-12 review): __pred/__pscore join onto the
    # caller's frame in enrich mode — fixed names would silently
    # destroy same-named caller columns
    sfx = ""
    fixed = ("__t", "__total", "__pred", "__pscore", "__id")
    while any(n + sfx in df.columns for n in fixed):
        sfx += "_"
    c_t, c_total, c_pred, c_pscore, c_id = (n + sfx for n in fixed)

    # dim_frame (round-15 optimization): Arrow LocalRelation in
    # production — the broadcast build collects driver rows with no
    # job and no Python worker (the old parallelize form decoded
    # pickled rows per consuming segment, ~0.2 s each in the funnel
    # event log).
    model_df = F.broadcast(
        dim_frame(
            spark,
            [(g, l, p) for (g, l), p in model.table.items()],
            "__g string, __lbl string, __logp double",
        )
    )

    slim = _spread(
        df.select(F.col(id_col).alias(c_id), prep_text(text_col).alias(c_t))
    ).withColumn(c_total, F.size(char_ngrams(c_t, model.n)))

    # one row per gram OCCURRENCE (explode_outer: an empty/short doc
    # keeps a NULL-gram row, so every doc reaches the aggregation and
    # the und rule needs no rejoin); the broadcast left join fans a
    # gram out to its (<= n_labels) model rows, total stays constant
    # per doc so first() recovers it
    grams = slim.select(
        c_id, c_total, F.explode_outer(char_ngrams(c_t, model.n)).alias("__g")
    ).join(model_df, "__g", "left")

    use_pivot = len(model.labels) <= pivot_max_labels
    if not use_pivot:
        # Grouped-shape precondition (round-15 review): the closed-form
        # absent-label maximum is the true per-label score ONLY if every
        # stored (gram, label) log-prob >= that label's unknown-bucket
        # log-prob — guaranteed for fit_lang_classifier output (counts
        # >= 1 under a shared denominator) but NOT for an arbitrary
        # table handed to LangClassifier.from_dict. A violating model
        # would silently mispredict here while the pivot shape scores it
        # exactly, so fall back to the pivot (correct at any table) and
        # say why. Pure-Python scan of the broadcast-sized table — no
        # Spark job.
        # a table label with no unk entry is a malformed model either
        # shape would mis-handle (the pivot silently ignores its rows)
        # — fail loudly by name rather than KeyError-ing mid-scan
        # (round-15 review)
        alien = {l for (_g, l) in model.table if l not in model.unk}
        if alien:
            raise ValueError(
                "predict_language: model table contains labels with no "
                f"unk log-prob entry: {sorted(alien)} — not a valid "
                "LangClassifier model"
            )
        if any(p < model.unk[l] for (_g, l), p in model.table.items()):
            import warnings

            warnings.warn(
                "predict_language: model table has a (gram, label) "
                "log-prob below that label's unk log-prob, so the "
                "grouped scoring shape's absent-label closed form is "
                "invalid for this model; falling back to the pivot "
                "shape (exact for any table, slower above "
                f"pivot_max_labels={pivot_max_labels} labels)",
                stacklevel=2,
            )
            use_pivot = True

    if use_pivot:
        aggs = [F.first(c_total).alias(c_total)]
        for i, lbl in enumerate(model.labels):
            is_l = F.col("__lbl") == lbl
            aggs.append(F.sum(F.when(is_l, F.col("__logp"))).alias(f"__m{i}"))
            aggs.append(F.count(F.when(is_l, F.lit(1))).alias(f"__n{i}"))
        pivoted = grams.groupBy(c_id).agg(*aggs)

        # score_l = prior_l + matched log-mass + unmatched mass; argmax
        # by (score, label) exactly like the oracle's max((s, l))
        score_structs = []
        for i, lbl in enumerate(model.labels):
            score = (
                F.lit(model.priors[lbl])
                + F.coalesce(F.col(f"__m{i}"), F.lit(0.0))
                + (F.col(c_total) - F.col(f"__n{i}")) * F.lit(model.unk[lbl])
            )
            score_structs.append(F.struct(score.alias("s"), F.lit(lbl).alias("l")))
        best = (
            F.greatest(*score_structs)
            if len(score_structs) > 1
            else score_structs[0]
        )
        scored = pivoted.select(
            c_id,
            c_total,
            best["l"].alias(c_pred),
            best["s"].alias(c_pscore),
        )
    else:
        # GROUPED shape (see docstring): per-(doc, label) exact scores
        # over MATCHED rows only, then a per-doc argmax; NULL-label
        # rows (unmatched/zero-gram docs) ride along so every doc
        # keeps a group, and absent labels are covered by the per-doc
        # closed-form maximum below. Both aggregations are O(1) in
        # label cardinality and map-side combinable.
        per_label = grams.groupBy(c_id, "__lbl").agg(
            F.first(c_total).alias(c_total),
            F.sum("__logp").alias("__m"),
            F.count(F.when(F.col("__lbl").isNotNull(), F.lit(1))).alias("__n"),
        )
        prior_map = F.create_map(
            *[x for l in model.labels for x in (F.lit(l), F.lit(model.priors[l]))]
        )
        unk_map = F.create_map(
            *[x for l in model.labels for x in (F.lit(l), F.lit(model.unk[l]))]
        )
        exact_score = (
            prior_map[F.col("__lbl")]
            + F.col("__m")
            + (F.col(c_total) - F.col("__n")) * unk_map[F.col("__lbl")]
        )
        present_best = F.max(
            F.when(
                F.col("__lbl").isNotNull(),
                F.struct(exact_score.alias("s"), F.col("__lbl").alias("l")),
            )
        )
        per_doc = per_label.groupBy(c_id).agg(
            F.first(c_total).alias(c_total),
            present_best.alias("__a"),
        )
        absent_structs = [
            F.struct(
                (
                    F.lit(model.priors[l]) + F.col(c_total) * F.lit(model.unk[l])
                ).alias("s"),
                F.lit(l).alias("l"),
            )
            for l in model.labels
        ]
        absent_best = (
            F.greatest(*absent_structs)
            if len(absent_structs) > 1
            else absent_structs[0]
        )
        best = F.when(F.col("__a").isNull(), absent_best).otherwise(
            F.greatest(F.col("__a"), absent_best)
        )
        scored = per_doc.select(
            c_id,
            c_total,
            best["l"].alias(c_pred),
            best["s"].alias(c_pscore),
        )
    pred_rule = F.when(F.col(c_total) < min_ngrams, F.lit("und")).otherwise(
        F.coalesce(F.col(c_pred), F.lit("und"))
    )
    cols = [F.col(c_id).alias(id_col), pred_rule.alias(out_col)]
    if score_col is not None:
        cols.append(
            F.when(pred_rule == "und", F.lit(None).cast("double"))
            .otherwise(F.col(c_pscore))
            .alias(score_col)
        )
    compact = scored.select(*cols)
    if ids_only:
        return compact
    # enrich mode: the requested output names REPLACE same-named
    # caller columns (the previous withColumn contract)
    out = df.drop(out_col) if out_col in df.columns else df
    if score_col is not None and score_col in out.columns:
        out = out.drop(score_col)
    return out.join(compact, id_col, "left")


def lang_pandas_predictor(model: LangClassifier, min_ngrams: int = 1):
    """Arrow-batched per-document label predictor — the STREAMING form
    of :func:`predict_language` (the batch path's explode + model
    join + per-doc agg is a stateful aggregation on a stream). The
    dim-sized model ships to the workers in the UDF closure as
    gram -> per-label log-prob vectors; each document scores in one
    pass and argmaxes with the SAME (score, label) tie-break as the
    batch path. Returns a Column: ``predictor(text_col)`` is the
    predicted label, ``'und'`` below ``min_ngrams``.

    Prep mirrors :func:`prep_text` with Java-``\\s`` semantics (ASCII
    whitespace — the ``bpe._py_words`` discipline); Python vs JVM
    lowercasing differs on a handful of locale-sensitive codepoints,
    the same accepted residual as the BPE mirror. Scores are
    numpy-summed per batch here vs shuffle-ordered in batch mode, so
    label parity is exact wherever the winning margin clears float
    noise (test-pinned on margined corpora, not promised at ties).

    Round 14 (VERDICT r13 #3): the scoring loop is VECTORIZED — the
    r13 form walked every character position of every document in
    pure Python with a dict lookup per gram; this form extracts every
    window of the whole batch as one UTF-32 codepoint
    ``sliding_window_view``, resolves windows against the sorted
    vocabulary with one ``searchsorted`` over fixed-width void keys
    (memcmp order, any ``n``), and folds per-document per-label mass
    with one ``bincount`` per label over the (V+1)xL matrix (row V =
    the unknown bucket). No per-gram Python anywhere; the only
    per-document work is the normalization pass and the output
    assignment. STRESS-pinned within ~2x of the batch path's µs/row
    at 3 labels (tools/stress.py --lang-classifier)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    n = model.n
    labels = list(model.labels)
    nl = len(labels)
    idx = {l: i for i, l in enumerate(labels)}
    priors = np.array([model.priors[l] for l in labels])
    unk = np.array([model.unk[l] for l in labels])
    table: dict[str, "np.ndarray"] = {}
    for (g, l), p in model.table.items():
        vec = table.get(g)
        if vec is None:
            vec = unk.copy()
            table[g] = vec
        vec[idx[l]] = p

    # vocabulary as fixed-width byte keys in memcmp order + the
    # aligned (V+1) x L log-prob matrix; built once in the closure,
    # shipped with the UDF (bounded: <= vocab_size x n_labels)
    nbytes = 4 * n
    V = len(table)
    if V:
        grams = list(table)
        gmat = np.empty((V, n), dtype="<u4")
        for i, g in enumerate(grams):
            gmat[i] = np.frombuffer(
                g.encode("utf-32-le", "surrogatepass"), dtype="<u4"
            )
        keys_all = np.ascontiguousarray(gmat).view(f"V{nbytes}").ravel()
        order = np.argsort(keys_all)
        vocab_keys = keys_all[order]
        mfull = np.vstack([np.stack([table[grams[i]] for i in order]), unk])
    else:
        vocab_keys = np.empty(0, dtype=f"V{nbytes}")
        mfull = unk[None, :]

    import re as _re

    _ws = _re.compile("[ \t\n\x0b\f\r]+")

    def _predict(texts):
        # strip SPACES only: F.trim is space-only, and the ASCII \s
        # collapse leaves non-ASCII whitespace (NBSP etc.) untouched
        # on both paths — .str.strip() would remove edge NBSPs the
        # batch path keeps (round-12 review)
        s = (
            texts.str.lower()
            .str.replace(_ws, " ", regex=True)
            .str.strip(" ")
            .to_numpy(dtype=object)
        )
        out = np.full(len(s), "und", dtype=object)
        docs, doc_pos = [], []
        for j, t in enumerate(s):
            if isinstance(t, str) and len(t) - n + 1 >= min_ngrams:
                docs.append(t)
                doc_pos.append(j)
        if docs:
            lens = np.fromiter((len(t) for t in docs), dtype=np.int64)
            # window counts CLAMPED at 0: with min_ngrams <= 0 a doc
            # shorter than n is legitimately admitted and scores as
            # priors-only (the scalar form's empty loop — round-14
            # review caught sliding_window_view raising here)
            totals = np.maximum(lens - n + 1, 0)
            scores = np.tile(priors, (len(docs), 1))
            if int(totals.sum()) > 0:
                # one codepoint array for the whole batch; 1-char
                # joiners keep doc offsets addressable and boundary-
                # crossing windows are simply never selected
                codes = np.frombuffer(
                    "\x00".join(docs).encode("utf-32-le", "surrogatepass"),
                    dtype="<u4",
                )
                windows = np.lib.stride_tricks.sliding_window_view(codes, n)
                starts = np.zeros(len(docs), dtype=np.int64)
                starts[1:] = np.cumsum(lens[:-1] + 1)
                win_doc = np.repeat(np.arange(len(docs)), totals)
                offs = np.cumsum(totals) - totals
                in_doc = np.arange(int(totals.sum())) - np.repeat(offs, totals)
                keys = (
                    np.ascontiguousarray(
                        windows[np.repeat(starts, totals) + in_doc]
                    )
                    .view(f"V{nbytes}")
                    .ravel()
                )
                if V:
                    pos = np.searchsorted(vocab_keys, keys)
                    clamped = np.minimum(pos, V - 1)
                    rows = np.where(vocab_keys[clamped] == keys, clamped, V)
                else:
                    rows = np.zeros(len(keys), dtype=np.int64)
                for li in range(nl):
                    scores[:, li] += np.bincount(
                        win_doc, weights=mfull[rows, li], minlength=len(docs)
                    )
            # batch tie-break: max(struct(score, label)) -> among tied
            # scores the lexicographically LARGER label wins; labels
            # is sorted, so take the LAST argmax
            best = scores.max(axis=1)
            pick = (nl - 1) - np.argmax(scores[:, ::-1] >= best[:, None], axis=1)
            for j, p in zip(doc_pos, pick):
                out[j] = labels[p]
        return pd.Series(out, index=texts.index)

    _predict.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(_predict, "string")
