"""Text-analysis operators for large-scale training-data pipelines.

Engine extensions beyond the reference surface (BASELINE.json
north-star: language-ID, quality scoring, token counting, document
fingerprinting). All pure Column expressions — JVM-side, codegen'd, no
Python in the hot path; at 100 TB these run as a single scan with no
shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

from pyspark.sql import functions as F

from ..functions.exprmemo import memo_column

from ..functions.hashing import stable_long_hash

# BPE-ish word/number/punct splitter (public GPT-2-style pattern family,
# simplified to the engine-portable subset)
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "du", "est", "que"),
    "de": ("der", "die", "und", "das", "ist", "von", "den", "mit", "ein", "zu"),
}


@memo_column
def whitespace_tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


@memo_column
def tokens_or_empty(col: Column | str, lower: bool = False) -> Column:
    """Whitespace tokens with NULL/blank normalized to an EMPTY array:
    ``split(NULL)`` propagates NULL (which poisons ``size`` into
    NULL/-1 downstream) and a blank string splits to ``['']`` — both
    wrong for token accounting. The shared guard for operators that
    aggregate over token arrays (substring dedup, DSIR)."""
    c = F.col(col) if isinstance(col, str) else col
    if lower:
        c = F.lower(c)
    return F.when(
        c.isNull() | (F.trim(c) == ""), F.array().cast("array<string>")
    ).otherwise(whitespace_tokens(c))


@memo_column
def token_count_ws(col: Column | str) -> Column:
    """Whitespace token count (0 for empty/blank strings)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.trim(c) == "", F.lit(0)).otherwise(F.size(whitespace_tokens(c)))


@memo_column
def token_count_bpe(col: Column | str) -> Column:
    """BPE-ish regex token count (letters / digit runs / punct marks)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(f"({TOKEN_REGEX})"), 1))


@memo_column
def stopword_hits(col: Column | str, lang: str) -> Column:
    """Number of tokens that are stopwords of ``lang``."""
    toks = whitespace_tokens(F.lower(F.col(col) if isinstance(col, str) else col))
    words = list(STOPWORDS[lang])
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


@memo_column
def lang_id(col: Column | str, min_hits: int = 1) -> Column:
    """N-gram-heuristic language ID: argmax of stopword hits, 'und'
    (undetermined) when no language reaches ``min_hits``."""
    hits = {lang: stopword_hits(col, lang) for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    out = F.when(best < min_hits, F.lit("und"))
    for lang, h in hits.items():  # insertion order = deterministic tie-break
        out = out.when(h == best, F.lit(lang))
    return out.otherwise(F.lit("und"))


@memo_column
def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    punct = F.size(F.regexp_extract_all(c, F.lit(r"([^A-Za-z0-9\s])"), 1))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct.cast("double") / n.cast("double"))


@memo_column
def quality_score(col: Column | str, lang: str = "en") -> Column:
    """Heuristic document quality in [0, 1]: length band + mean token
    length band + low punctuation + stopword presence. Weights are
    exact binary fractions (0.25 each) so scores are exact doubles."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c)
    n_toks = token_count_ws(c)
    mean_tok = F.when(n_toks == 0, F.lit(0.0)).otherwise(
        n_chars.cast("double") / n_toks.cast("double")
    )
    length_ok = (n_chars >= 100) & (n_chars <= 20000)
    tok_ok = (mean_tok >= 3.0) & (mean_tok <= 12.0)
    punct_ok = punct_ratio(c) <= 0.2
    stop_ok = stopword_hits(c, lang) >= 1
    return (
        length_ok.cast("double") * 0.25
        + tok_ok.cast("double") * 0.25
        + punct_ok.cast("double") * 0.25
        + stop_ok.cast("double") * 0.25
    )


def annotate_text(
    df: DataFrame,
    text_col: str = "text",
    *,
    lang_col: str = "lang",
    quality_col: str = "quality",
    tokens_col: str = "n_tokens",
    quality_lang: str = "en",
    min_hits: int = 1,
) -> DataFrame:
    """:func:`lang_id` + :func:`quality_score` + :func:`token_count_ws`
    as ONE shared-work pass — the fused annotate stage for corpus
    pipelines, value-identical to selecting the three scalar functions
    (parity-pinned by ``tests/test_annotate_fused.py``) but ~3x faster
    at the funnel's scale.

    Two costs the scalar forms pay that this avoids:

    - the stopword-hit counters are higher-order ``filter`` calls —
      ``CodegenFallback`` expressions codegen subexpression elimination
      never sees — so ``lang_id`` alone re-splits and re-filters the
      text up to 13 times per row. Here the lowercase token array and
      the three per-language hit counts are computed once each in
      LAYERED projections (each alias is referenced more than once and
      is non-trivial, so ``CollapseProject`` leaves the layers intact)
      and everything downstream reads attribute references.
    - a later ``filter`` on the computed ``lang``/``quality`` columns
      gets pushed through a plain projection by substituting the FULL
      expression trees into the predicate — every tree then evaluates
      twice (once to filter, once to project). The annotated struct is
      therefore routed through ``explode(array(struct(...)))``: a
      one-element ``Generate`` whose outputs predicate pushdown cannot
      cross, so the quality gate that always follows this stage
      evaluates three attribute lookups instead of re-running the
      regex/HOF trees. Measured on the corpus funnel's strip output at
      sf0.1: 2.03 s -> 0.65 s for annotate+filter.

    All non-text columns pass through untouched; the output carries
    them first, then ``text_col, lang_col, quality_col, tokens_col``.
    Works identically on streaming frames (no shuffle, no state).
    """
    if quality_lang not in STOPWORDS:
        raise ValueError(f"quality_lang {quality_lang!r} not in STOPWORDS")
    others = tuple(c for c in df.columns if c != text_col)
    base_cols, counted_cols, final_col = _annotate_exprs(
        others, text_col, lang_col, quality_col, tokens_col, quality_lang, min_hits
    )
    return (
        df.select(*base_cols)
        .select(*counted_cols)
        .select(*[F.col(c) for c in others], final_col)
        .select(*others, "__ann.*")
    )


@memo_column
def _annotate_exprs(
    others: tuple[str, ...],
    text_col: str,
    lang_col: str,
    quality_col: str,
    tokens_col: str,
    quality_lang: str,
    min_hits: int,
):
    """The annotate stage's three projection layers as cached Column
    tuples — pure functions of the column NAMES (round 15: the
    stopword isin-forest and quality CASE trees were rebuilt through
    py4j on every construction; identical every time)."""
    t = F.col(text_col)
    base_cols = (
        *[F.col(c) for c in others],
        t.alias(text_col),
        F.split(F.trim(F.lower(t)), r"\s+").alias("__lt"),
        F.trim(t).alias("__tt"),
    )

    def _hit(words: list[str]):
        return lambda tok: tok.isin(*words)

    counted_cols = (
        *[F.col(c) for c in others],
        F.col(text_col),
        *[
            F.size(F.filter(F.col("__lt"), _hit(list(STOPWORDS[lang])))).alias(
                f"__h_{lang}"
            )
            for lang in STOPWORDS
        ],
        F.when(F.col("__tt") == "", F.lit(0))
        .otherwise(F.size(F.split(F.col("__tt"), r"\s+")))
        .alias("__nt"),
        F.size(F.regexp_extract_all(t, F.lit(r"([^A-Za-z0-9\s])"), 1)).alias("__np"),
    )
    # lang_id mirror over the precomputed hit counts (same when-chain
    # order as STOPWORDS insertion = same deterministic tie-break)
    best = F.greatest(*[F.col(f"__h_{lang}") for lang in STOPWORDS])
    lang_expr = F.when(best < min_hits, F.lit("und"))
    for lang in STOPWORDS:
        lang_expr = lang_expr.when(F.col(f"__h_{lang}") == best, F.lit(lang))
    lang_expr = lang_expr.otherwise(F.lit("und"))
    # quality_score mirror: identical guards and exact-binary weights
    n_chars = F.length(t)
    mean_tok = F.when(F.col("__nt") == 0, F.lit(0.0)).otherwise(
        n_chars.cast("double") / F.col("__nt").cast("double")
    )
    length_ok = (n_chars >= 100) & (n_chars <= 20000)
    tok_ok = (mean_tok >= 3.0) & (mean_tok <= 12.0)
    p_ratio = F.when(n_chars == 0, F.lit(0.0)).otherwise(
        F.col("__np").cast("double") / n_chars.cast("double")
    )
    quality_expr = (
        length_ok.cast("double") * 0.25
        + tok_ok.cast("double") * 0.25
        + (p_ratio <= 0.2).cast("double") * 0.25
        + (F.col(f"__h_{quality_lang}") >= 1).cast("double") * 0.25
    )
    final_col = F.explode(
        F.array(
            F.struct(
                t.alias(text_col),
                lang_expr.alias(lang_col),
                quality_expr.alias(quality_col),
                F.col("__nt").alias(tokens_col),
            )
        )
    ).alias("__ann")
    return base_cols, counted_cols, final_col


@memo_column
def doc_fingerprint(col: Column | str) -> Column:
    """Normalization-invariant content fingerprint (md5 of lowercased,
    whitespace-collapsed text). Cheap exact-dup key at any scale."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    return F.md5(norm)


@memo_column
def doc_fingerprint_long(col: Column | str) -> Column:
    """60-bit integer variant (cross-engine-portable, join-friendly)."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    return stable_long_hash(norm)


# --- training-data text preparation (round-3 additions) ----------------------

# deliberately conservative public patterns: recall over precision is
# the training-data norm (a leaked address costs more than an
# over-redacted token)
_PII_PATTERNS = (
    # specific before greedy: the phone pattern (any long digit run with
    # separators) would otherwise consume IPs and card numbers
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\b(?:\d[ -]?){13,19}\b", "<CARD>"),
    (r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
)


@memo_column
def redact_pii(col: Column | str) -> Column:
    """Regex PII redaction (emails, IPv4, card-like digit runs,
    phone-like digit runs) as chained ``regexp_replace`` — one
    codegen'd projection, no Python."""
    c = F.col(col) if isinstance(col, str) else col
    for pattern, token in _PII_PATTERNS:
        c = F.regexp_replace(c, pattern, token)
    return c


@memo_column
def normalize_text(col: Column | str) -> Column:
    """Whitespace canonicalization for dedup robustness: collapse runs,
    trim, lowercase — the cheap normalization applied before
    fingerprinting so cosmetic variants collide."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


@memo_column
def chunk_tokens(
    col: Column | str,
    chunk_size: int,
    overlap: int = 0,
) -> Column:
    """Array of whitespace-token windows of ``chunk_size`` tokens with
    ``overlap`` tokens of context between consecutive chunks — the
    standard context-window split for training corpora. Pure
    expressions (sequence + slice + concat_ws): ``posexplode`` the
    result to get one row per chunk with its index.

    Stride = chunk_size - overlap; the final partial window is kept
    (training pipelines pad or drop downstream by policy).
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError(f"need 0 <= overlap < chunk_size, got {overlap}/{chunk_size}")
    c = F.col(col) if isinstance(col, str) else col
    toks = whitespace_tokens(c)
    stride = chunk_size - overlap
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks) - F.lit(overlap), F.lit(1)), F.lit(stride)
    )
    return F.when(F.trim(c) == "", F.array().cast("array<string>")).otherwise(
        F.transform(starts, lambda s: F.concat_ws(" ", F.slice(toks, s, chunk_size)))
    )


@memo_column
def sentence_chunks(col: Column | str, budget: int) -> Column:
    """Array of SENTENCE-boundary chunks, each holding consecutive
    whole sentences up to ``budget`` whitespace tokens — the
    semantic-boundary alternative to :func:`chunk_tokens`' fixed
    windows (standard practice when chunks feed retrieval or
    instruction-tuning corpora, where cutting mid-sentence hurts).

    Pure expressions: split on terminal punctuation
    (``(?<=[.!?])\\s+`` — Java regex lookbehind), then ONE
    ``aggregate`` fold that either opens a new chunk or extends the
    last one. Sentences are never split: a single sentence longer
    than ``budget`` becomes its own oversized chunk (the downstream
    policy decision, exactly like :func:`..packing.pack_chunks`'
    singleton-oversize rule; feed such corpora the fixed-window
    chunker instead). NULL/blank text yields an empty array.
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    c = F.col(col) if isinstance(col, str) else col
    sents = F.filter(
        F.split(c, r"(?<=[.!?])\s+"), lambda s: F.trim(s) != F.lit("")
    )
    acc0 = F.struct(
        F.lit(0).alias("used"),
        F.array().cast("array<string>").alias("chunks"),
    )

    def merge(acc, s):
        n = F.size(whitespace_tokens(F.trim(s)))
        start_new = (F.size(acc["chunks"]) == F.lit(0)) | (
            (acc["used"] + n) > F.lit(budget)
        )
        appended = F.concat(acc["chunks"], F.array(F.trim(s)))
        merged_last = F.concat(
            F.slice(acc["chunks"], 1, F.size(acc["chunks"]) - 1),
            F.array(
                F.concat_ws(" ", F.element_at(acc["chunks"], -1), F.trim(s))
            ),
        )
        return F.struct(
            F.when(start_new, n).otherwise(acc["used"] + n).alias("used"),
            F.when(start_new, appended).otherwise(merged_last).alias("chunks"),
        )

    return F.when(
        c.isNull() | (F.trim(c) == ""), F.array().cast("array<string>")
    ).otherwise(F.aggregate(sents, acc0, merge, lambda acc: acc["chunks"]))


@memo_column
def blockword_hits(col: Column | str, words: tuple[str, ...]) -> Column:
    """Occurrences of blocklisted words/phrases in the TEXT, matched
    case-insensitively at letter/digit boundaries — ``'casino.'``,
    ``'(casino)'`` and sentence-final hits all count, ``'essex'``
    never hits ``'sex'`` (the lookarounds are the same discipline as
    the URL badword gate, which is why this is a boundary regex and
    not the stopword token-``isin`` form — punctuation-adjacent
    occurrences are the DOMINANT case in prose and token equality
    misses every one of them; round-12 review). Multi-word entries
    match across any whitespace run. One ``regexp_count`` over one
    alternation — dim-sized lists (LDNOOBW ~400 entries) inline fine.
    """
    c = F.col(col) if isinstance(col, str) else col
    if not words:
        return F.lit(0)
    pattern = (
        r"(?i)(?<![\p{L}\p{N}])(?:" + blockword_alternation(words) + r")(?![\p{L}\p{N}])"
    )
    return F.coalesce(
        F.regexp_count(c, F.lit(pattern)), F.lit(0)
    )


def blockword_alternation(words: tuple[str, ...]) -> str:
    """The escaped, whitespace-run-generalized alternation BODY shared
    by :func:`blockword_hits` and its cross-engine mirrors (the
    corpus_funnel oracle wraps it in RE2-compatible consuming boundary
    groups — RE2 has no lookarounds, but for an EXISTENCE gate the
    consuming form is equivalent). Imported, never retyped: the
    _PII_PATTERNS discipline."""
    import re as _re

    alts = []
    for w in words:
        # re.escape leaves spaces alone on py3.7+; the replace guards
        # older escape tables. Phrase-internal whitespace matches any
        # whitespace run.
        esc = _re.escape(w.strip().lower()).replace("\\ ", " ")
        alts.append(_re.sub(r" +", r"\\s+", esc))
    return "|".join(alts)


def filter_content_blockwords(
    df: DataFrame,
    text_col: str,
    words: tuple[str, ...],
    max_hits: int = 0,
) -> DataFrame:
    """Drop documents with more than ``max_hits`` blocklisted-word
    occurrences in the TEXT — the C4 page-level bad-words cut
    (default 0: any hit drops), content-side companion of the URL
    badword gate (``url_filter.filter_url_quality``). One
    :func:`blockword_hits` regex per row: zero shuffles, codegen,
    boundary-correct, phrases supported."""
    return df.filter(blockword_hits(text_col, words) <= F.lit(max_hits))


@memo_column
def syllable_count_approx(col: Column | str) -> Column:
    """Approximate English syllable count, PER WORD then summed:
    each whitespace token is stripped of edge punctuation, counts its
    vowel groups, loses one for a silent terminal 'e' (non-vowel +
    'e' at word end — so 'make'/'cake' drop one but 'see'/'bee'
    keep theirs), and floors at ONE syllable — vowel-less tokens
    (numbers, 'xyz', code) contribute their floor instead of being
    absorbed by other words' groups, and sentence-final words are
    not overcounted just because a '.' follows them (both round-12
    review findings). The standard cheap approximation — exact
    syllabification needs a dictionary a 100 TB scan does not get.
    Pure expressions (one HOF fold, no UDF)."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    toks = tokens_or_empty(c)

    def word_syllables(w: Column) -> Column:
        clean = F.regexp_replace(w, r"(^[^a-z0-9]+|[^a-z0-9]+$)", "")
        groups = F.size(F.regexp_extract_all(clean, F.lit("([aeiouy]+)"), 1))
        silent = clean.rlike("[^aeiouy]e$").cast("int")
        return F.greatest(groups - silent, F.lit(1))

    return F.aggregate(
        toks, F.lit(0), lambda acc, w: acc + word_syllables(w)
    )


@memo_column
def flesch_reading_ease(col: Column | str) -> Column:
    """Flesch reading ease, 206.835 - 1.015*(words/sentences)
    - 84.6*(syllables/words) — the classic document-difficulty signal
    educational-quality filters threshold on (higher = easier; ~60-70
    is plain English). Sentences count by terminal punctuation runs
    (min 1); NULL for word-less documents. Pure expressions, one
    pass, no shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    words = token_count_ws(c)
    sentences = F.greatest(
        F.size(F.regexp_extract_all(c, F.lit(r"([.!?]+)"), 1)), F.lit(1)
    )
    syllables = syllable_count_approx(c)
    return F.when(
        words > 0,
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sentences.cast("double"))
        - F.lit(84.6) * (syllables.cast("double") / words.cast("double")),
    )
