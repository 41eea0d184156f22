"""Text-analysis + near-dup-dedup driver queries (engine extensions
for training-data pipelines; BASELINE.json north-star) on the harness
``documents`` table.

The harness corpus has no duplicates, so dedup queries first synthesize
them deterministically (copies / mutated copies at shifted doc_ids —
identical construction in the DuckDB oracle). MinHash/SimHash oracles
are generated programmatically (k permutations / b bits of the same
algebra) — both engines execute the exact same hash-and-compare
construction, so results hash-match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text_analysis import (
    STOPWORDS,
    TOKEN_REGEX,
    doc_fingerprint,
    doc_fingerprint_long,
    lang_id,
    punct_ratio,
    quality_score,
    token_count_bpe,
    token_count_ws,
)
from ..functions.numeric import round_half_up
from ..operators.text_dedup import (
    dedup_exact_text,
    jaccard_pairs,
    minhash_lsh_dedup,
    simhash,
)
from ..session import load_tables


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, register_views=False)["documents"]


def _with_exact_dups(docs: DataFrame) -> DataFrame:
    """Corpus ∪ exact copies of every 5th doc at doc_id+10000."""
    copies = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    return docs.unionByName(copies)


_DUPS_SQL = """
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 5 = 0
"""


def _with_near_dups(docs: DataFrame) -> DataFrame:
    """Corpus ∪ mutated copies (suffix appended) of every 10th doc."""
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz mutated suffix")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return docs.unionByName(copies)


_NEAR_DUPS_SQL = """
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text || ' zz mutated suffix' AS text,
         lang, source, n_chars
  FROM documents WHERE doc_id % 10 = 0
"""

# DuckDB fragments mirroring the Spark expressions exactly
_TOKENS = "regexp_split_to_array(trim({t}), '\\s+')"
_SHINGLES = (
    "CASE WHEN len(" + _TOKENS + ") >= 3 THEN "
    "list_transform(range(1, len(" + _TOKENS + ") - 1), "
    "i -> array_to_string((" + _TOKENS + ")[i:i+2], ' ')) "
    "ELSE [] END"
)
_NORM = "trim(regexp_replace(lower({t}), '\\s+', ' ', 'g'))"
_LONG_HASH = "('0x' || substr(md5({x}), 1, 15))::BIGINT"
# minhash/simhash base hash: ONE md5 per token/shingle, 52-bit; k
# permutations derive via affine maps mod the Mersenne prime —
# IMPORTED from the operator, not retyped, so re-tuning the hash
# family cannot silently desynchronize the two engines (the same
# discipline as _PII_PATTERNS / the LM constants below)
_BASE_HASH = "('0x' || substr(md5({x}), 1, 13))::BIGINT"
from ..operators.text_dedup import _MERSENNE_31 as _M31  # noqa: E402
from ..operators.text_dedup import _affine_params  # noqa: E402


# --- dedup_exact --------------------------------------------------------------
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _with_exact_dups(_docs(spark, sf_dir))
    return dedup_exact_text(corpus, "text", "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


ORACLE_DEDUP_EXACT = f"""
WITH corpus AS ({_DUPS_SQL}),
keyed AS (SELECT *, md5({_NORM.format(t='text')}) AS fp FROM corpus)
SELECT doc_id, lang, source, n_chars FROM (
  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id ASC) AS rn
  FROM keyed
) WHERE rn = 1
"""


# --- quality_score (carries lang_id + token counts) ---------------------------
def _hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    toks = _TOKENS.format(t="lower(text)")
    return f"len(list_filter({toks}, t -> t IN ({words})))"


# CTE form (references a precomputed `best` column): used by the
# corpus_funnel oracle's annotated stage
_LANG_CASES = " ".join(
    f"WHEN {_hits_sql(lang)} = best THEN '{lang}'" for lang in STOPWORDS
)
# flat expression (no correlated subquery): `best` inlined into every
# WHEN — verbose SQL, but the oracle runs on 500 rows. WHEN order =
# STOPWORDS insertion order = the Spark lang_id tie-break.
_LANG_BEST = f"greatest({', '.join(_hits_sql(lang) for lang in STOPWORDS)})"
_LANG_SQL = (
    f"CASE WHEN {_LANG_BEST} < 1 THEN 'und' "
    + " ".join(f"WHEN {_hits_sql(lang)} = {_LANG_BEST} THEN '{lang}'" for lang in STOPWORDS)
    + " ELSE 'und' END"
)


# round 9: the former standalone `token_count` row merged in; round 10:
# `lang_id` merged in too (same fused-annotate family — one row
# drive-checks the quality scorer, ws/BPE token counters, AND the
# stopword-argmax language id; the freed slot went to the
# `substring_dedup` row below). The driver-window discipline:
# registry is capped at 50 driver-checked rows.
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        # bigint: DuckDB len()/length() are BIGINT, Spark size/length INT
        F.length("text").cast("long").alias("char_len"),
        token_count_ws("text").cast("long").alias("ws_tokens"),
        token_count_bpe("text").cast("long").alias("bpe_tokens"),
        punct_ratio("text").alias("punct_ratio"),
        quality_score("text").alias("quality"),
        lang_id("text").alias("predicted_lang"),
    )


_Q_TOKS = _TOKENS.format(t="text")
_Q_NT = f"(CASE WHEN trim(text) = '' THEN 0 ELSE len({_Q_TOKS}) END)"
_Q_MEAN = f"(CASE WHEN {_Q_NT} = 0 THEN 0.0 ELSE CAST(length(text) AS DOUBLE) / CAST({_Q_NT} AS DOUBLE) END)"
_Q_PUNCT = (
    "(CASE WHEN length(text) = 0 THEN 0.0 ELSE "
    "CAST(len(regexp_extract_all(text, '([^A-Za-z0-9\\s])', 1)) AS DOUBLE)"
    " / CAST(length(text) AS DOUBLE) END)"
)
ORACLE_QUALITY_SCORE = f"""
SELECT doc_id,
       length(text) AS char_len,
       {_Q_NT} AS ws_tokens,
       len(regexp_extract_all(text, '({TOKEN_REGEX})', 1)) AS bpe_tokens,
       {_Q_PUNCT} AS punct_ratio,
       CAST(length(text) >= 100 AND length(text) <= 20000 AS DOUBLE) * 0.25
       + CAST({_Q_MEAN} >= 3.0 AND {_Q_MEAN} <= 12.0 AS DOUBLE) * 0.25
       + CAST({_Q_PUNCT} <= 0.2 AS DOUBLE) * 0.25
       + CAST({_hits_sql('en')} >= 1 AS DOUBLE) * 0.25 AS quality,
       {_LANG_SQL} AS predicted_lang
FROM documents
"""


# --- substring_dedup ----------------------------------------------------------
# Lee et al. 2022 exact-substring dedup as k-token rolling windows
# (operators/substring_dedup.py). k=8: the harness corpus's 30-word
# vocabulary produces genuine cross-doc 8-token repeats, so the row
# exercises non-trivial span merging at every SF. Round 15: the row
# drives the SCALE path (fast=True, xxhash64 window hashes). The hash
# never reaches the output — it only GROUPS equal windows — so any
# collision-free hash yields identical stats, and the oracle below
# groups by the raw window STRING (the semantic truth both hashes
# approximate), making the DuckDB side exact rather than
# hash-mirroring. fast-vs-stable span equality is separately pinned in
# tests/test_substring_dedup.py.
_SUB_K = 8


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.substring_dedup import duplication_stats

    docs = _docs(spark, sf_dir)
    stats = duplication_stats(docs, "text", "doc_id", k=_SUB_K, fast=True)
    return stats.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("dup_tokens").cast("long").alias("dup_tokens"),
        # round_half_up, not F.round: native rounds disagree on half
        # boundaries (d/2^m fractions DO land there — see term_stats)
        round_half_up(F.col("dup_token_fraction"), 6).alias("dup_frac"),
    )


_SUB_TOKS = _TOKENS.format(t="text")
ORACLE_SUBSTRING_DEDUP = f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' OR text IS NULL THEN CAST([] AS VARCHAR[])
              ELSE {_SUB_TOKS} END AS toks
  FROM documents
),
wins AS (
  SELECT doc_id, unnest(range(len(toks) - {_SUB_K} + 1)) AS start,
         unnest(list_transform(range(len(toks) - {_SUB_K} + 1),
           i -> array_to_string(list_slice(toks, i + 1, i + {_SUB_K}), ' ')
         )) AS whash
  FROM base WHERE len(toks) >= {_SUB_K}
),
stats AS (
  SELECT whash, count(*) AS n_occ,
         min(struct_pack(doc_id := doc_id, start := start)) AS first_occ
  FROM wins GROUP BY whash
),
marked AS (
  SELECT w.doc_id, w.start
  FROM wins w JOIN stats s USING (whash)
  WHERE s.n_occ >= 2
    AND NOT (s.first_occ.doc_id = w.doc_id AND s.first_occ.start = w.start)
),
m2 AS (
  SELECT doc_id, start,
         max(start + {_SUB_K}) OVER (PARTITION BY doc_id ORDER BY start
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM marked
),
m3 AS (
  SELECT *, CASE WHEN prev_end IS NULL OR start > prev_end THEN 1 ELSE 0 END AS new_span
  FROM m2
),
m4 AS (
  SELECT *, sum(new_span) OVER (PARTITION BY doc_id ORDER BY start) AS span_id
  FROM m3
),
spans AS (
  SELECT doc_id, min(start) AS s, max(start) + {_SUB_K} AS e
  FROM m4 GROUP BY doc_id, span_id
),
per_doc AS (
  SELECT doc_id, sum(e - s) AS dup_tokens FROM spans GROUP BY doc_id
)
SELECT b.doc_id,
       len(b.toks) AS n_tokens,
       CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       (floor((CASE WHEN len(b.toks) > 0
                    THEN CAST(coalesce(p.dup_tokens, 0) AS DOUBLE) / len(b.toks)
                    ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0) AS dup_frac
FROM base b LEFT JOIN per_doc p USING (doc_id)
"""


# --- doc_fingerprint ----------------------------------------------------------
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        doc_fingerprint("text").alias("fingerprint"),
        doc_fingerprint_long("text").alias("fingerprint_long"),
    )


_N = _NORM.format(t="text")
ORACLE_DOC_FINGERPRINT = f"""
SELECT doc_id, md5({_N}) AS fingerprint,
       {_LONG_HASH.format(x=_N)} AS fingerprint_long
FROM documents
"""


# --- minhash_lsh_dedup ----------------------------------------------------------
_K, _BANDS, _ROWS = 8, 4, 2


def q_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _with_near_dups(_docs(spark, sf_dir))
    return minhash_lsh_dedup(
        corpus, "text", "doc_id", n=3, k=_K, bands=_BANDS, threshold=0.3
    ).select("id_a", "id_b", "intersection_size", "jaccard")


# build the oracle programmatically (same algebra, k permutations)
_MH_COLS = ",\n         ".join(
    "list_min(list_transform(base_hashes, h -> "
    f"({_affine_params(j)[0]} * h + {_affine_params(j)[1]}) % {_M31}"
    f")) AS mh{j}"
    for j in range(_K)
)
_BAND_COLS = ",\n         ".join(
    f"md5(CAST(mh{b * _ROWS} AS VARCHAR) || '|' || CAST(mh{b * _ROWS + 1} AS VARCHAR)) AS band_{b}"
    for b in range(_BANDS)
)
_BAND_UNION = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band_id, band_{b} AS band_hash FROM banded" for b in range(_BANDS)
)
# shared CTE chain: corpus -> shingles -> minhash sigs -> banded
# candidates -> exact-Jaccard pairs; ORACLE_MINHASH selects the pairs,
# ORACLE_DEDUP_CLUSTERS closes them transitively (recursive CTE),
# ORACLE_CORPUS_FUNNEL feeds its own cleaned/filtered corpus in
_MINHASH_CHAIN = f"""shingled AS (
  SELECT doc_id, {_SHINGLES.format(t='text')} AS shingles FROM corpus
),
based AS (
  SELECT doc_id, shingles,
         list_transform(shingles, s -> {_BASE_HASH.format(x='s')}) AS base_hashes
  FROM shingled
),
sigs AS (
  SELECT doc_id,
         {_MH_COLS}
  FROM based
),
banded AS (
  SELECT doc_id,
         {_BAND_COLS}
  FROM sigs
),
bands_long AS (
{_BAND_UNION}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands_long a JOIN bands_long b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
distinct_shingles AS (
  SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM shingled
),
sizes AS (SELECT doc_id, count(*) AS n FROM distinct_shingles GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter_n
  FROM cands c
  JOIN distinct_shingles sa ON sa.doc_id = c.id_a
  JOIN distinct_shingles sb ON sb.doc_id = c.id_b AND sb.s = sa.s
  GROUP BY c.id_a, c.id_b
),
jac AS (
  SELECT c.id_a, c.id_b,
         COALESCE(i.inter_n, 0) AS intersection_size,
         CAST(COALESCE(i.inter_n, 0) AS DOUBLE)
           / CAST(na.n + nb.n - COALESCE(i.inter_n, 0) AS DOUBLE) AS jaccard
  FROM cands c
  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  JOIN sizes na ON na.doc_id = c.id_a
  JOIN sizes nb ON nb.doc_id = c.id_b
)"""


def _minhash_ctes(corpus_sql: str) -> str:
    """The shared shingle→minhash→band→Jaccard CTE chain over a given
    corpus definition (must yield (doc_id, text))."""
    return f"corpus AS ({corpus_sql}),\n{_MINHASH_CHAIN}"


_MINHASH_CTES = _minhash_ctes(_NEAR_DUPS_SQL)

ORACLE_MINHASH = f"""
WITH {_MINHASH_CTES}
SELECT id_a, id_b, intersection_size, jaccard FROM jac WHERE jaccard >= 0.3
"""


# --- dedup_clusters -----------------------------------------------------------
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> connected components -> canonical keeper per
    cluster (min doc_id) + cluster size: the dedup endgame. Spark side
    is iterative min-label propagation (operators/graph.py); the
    oracle closes the same pair list with a recursive CTE."""
    from ..operators.graph import cluster_members

    corpus = _with_near_dups(_docs(spark, sf_dir))
    pairs = minhash_lsh_dedup(
        corpus, "text", "doc_id", n=3, k=_K, bands=_BANDS, threshold=0.3
    ).select("id_a", "id_b")
    return cluster_members(pairs)


ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_MINHASH_CTES},
pairs AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.3),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(node, lab) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b
),
comp AS (SELECT node, MIN(lab) AS cluster_rep FROM reach GROUP BY node),
csizes AS (SELECT cluster_rep, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_rep)
SELECT c.node AS doc_id, c.cluster_rep, s.cluster_size
FROM comp c JOIN csizes s USING (cluster_rep)
"""


# --- simhash_dedup --------------------------------------------------------------
_SIM_BITS = 16


def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _with_exact_dups(_docs(spark, sf_dir))
    sig = corpus.select("doc_id", simhash("text", _SIM_BITS).alias("simhash"))
    a = sig.select(F.col("doc_id").alias("id_a"), "simhash")
    b = sig.select(F.col("doc_id").alias("id_b"), "simhash")
    return (
        a.join(b, "simhash")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "simhash")
    )


_SIM_TERMS = "\n       + ".join(
    f"(CASE WHEN 2 * len(list_filter(hashes, h -> (h >> {i}) & 1 = 1)) - len(hashes) > 0 "
    f"THEN {2**i} ELSE 0 END)"
    for i in range(_SIM_BITS)
)
ORACLE_SIMHASH = f"""
WITH corpus AS ({_DUPS_SQL}),
hashed AS (
  SELECT doc_id,
         list_transform({_TOKENS.format(t='text')},
                        t -> ({_affine_params(0)[0]} * {_BASE_HASH.format(x='t')}
                              + {_affine_params(0)[1]}) % {_M31}) AS hashes
  FROM corpus
),
sigs AS (
  SELECT doc_id,
       CAST({_SIM_TERMS} AS BIGINT) AS simhash
  FROM hashed
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash
FROM sigs a JOIN sigs b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
"""


# --- ngram_jaccard (adjacent-doc exact verifier, standalone) --------------------
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = docs.select(F.col("doc_id").alias("id_a")).withColumn(
        "id_b", F.col("id_a") + 1
    ).join(
        docs.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi"
    )
    return jaccard_pairs(docs, pairs, "text", "doc_id", n=2).select(
        "id_a", "id_b", "intersection_size", "jaccard"
    )


_SH2 = (
    "CASE WHEN len(" + _Q_TOKS + ") >= 2 THEN "
    "list_transform(range(1, len(" + _Q_TOKS + ")), "
    "i -> array_to_string((" + _Q_TOKS + ")[i:i+1], ' ')) "
    "ELSE [] END"
)
ORACLE_NGRAM_JACCARD = f"""
WITH pairs AS (
  SELECT a.doc_id AS id_a, a.doc_id + 1 AS id_b
  FROM documents a WHERE EXISTS (SELECT 1 FROM documents b WHERE b.doc_id = a.doc_id + 1)
),
distinct_shingles AS (
  SELECT doc_id, unnest(list_distinct({_SH2})) AS s FROM documents
),
sizes AS (SELECT doc_id, count(*) AS n FROM distinct_shingles GROUP BY doc_id),
inter AS (
  SELECT p.id_a, p.id_b, count(*) AS inter_n
  FROM pairs p
  JOIN distinct_shingles sa ON sa.doc_id = p.id_a
  JOIN distinct_shingles sb ON sb.doc_id = p.id_b AND sb.s = sa.s
  GROUP BY p.id_a, p.id_b
)
SELECT p.id_a, p.id_b,
       COALESCE(i.inter_n, 0) AS intersection_size,
       CAST(COALESCE(i.inter_n, 0) AS DOUBLE)
         / CAST(na.n + nb.n - COALESCE(i.inter_n, 0) AS DOUBLE) AS jaccard
FROM pairs p
LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
JOIN sizes na ON na.doc_id = p.id_a
JOIN sizes nb ON nb.doc_id = p.id_b
"""


# --- top_terms: corpus term frequencies, top-k ------------------------------
def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide term frequency top-20 — explode + count is fully
    map-side-combinable; the final top-k is a tiny ordered limit, never
    a global sort of the full term table at scale (Spark's TakeOrdered)."""
    docs = _docs(spark, sf_dir)
    from ..operators.text_analysis import whitespace_tokens

    terms = docs.select(F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("term"))
    return (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("term_count"))
        .orderBy(F.col("term_count").desc(), F.col("term").asc())
        .limit(20)
    )


ORACLE_TOP_TERMS = f"""
SELECT term, count(*) AS term_count
FROM (SELECT unnest({_TOKENS.format(t='lower(text)')}) AS term FROM documents)
GROUP BY term
ORDER BY term_count DESC, term ASC
LIMIT 20
"""


# --- term_stats: TF-IDF top-3 per doc + per-doc character entropy ------------
# One registry row for both corpus-state term operators
# (operators/term_stats.py) — the driver's correctness window caps at
# 50 rows, and the entropy columns join 1:1 onto the tfidf rows.
def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smooth TF-IDF (DF table broadcast, bounded per-doc window) with
    Shannon char entropy joined on doc_id. ln/log2 rounded to 6dp for
    cross-engine float identity; the tfidf tie order is computed on
    the unrounded product."""
    from ..operators.term_stats import char_entropy, tfidf_top_terms

    docs = _docs(spark, sf_dir)
    tfidf = tfidf_top_terms(docs, "text", "doc_id", k=3).select(
        "doc_id",
        "term",
        "tf",
        # round_half_up, not F.round: the engines' native rounds
        # disagree on half-boundaries (functions/numeric.py) — the
        # floor-based form evaluates identically in both engines for
        # these non-negative values (round-9 review find)
        round_half_up(F.col("idf"), 6).alias("idf"),
        round_half_up(F.col("tfidf"), 6).alias("tfidf"),
        "rank",
    )
    ent = char_entropy(docs, "text", "doc_id").select(
        "doc_id",
        "n_chars",
        round_half_up(F.col("char_entropy"), 6).alias("char_entropy"),
    )
    return tfidf.join(ent, "doc_id")


ORACLE_TERM_STATS = f"""
WITH terms AS (
  SELECT doc_id, unnest({_TOKENS.format(t='lower(text)')}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms WHERE term <> '' GROUP BY doc_id, term
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0 AS idf
  FROM tf JOIN df USING (term) CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tf, (floor(idf * 1000000.0 + 0.5) / 1000000.0) AS idf,
         (floor(tf * idf * 1000000.0 + 0.5) / 1000000.0) AS tfidf, rank
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY tf * idf DESC, term ASC
    ) AS rank FROM scored
  ) WHERE rank <= 3
), chars AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '([\\s\\S])', 1)) AS c
  FROM documents
), counts AS (
  SELECT doc_id, c, count(*) AS n FROM chars GROUP BY doc_id, c
), per_doc AS (
  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_chars,
         (floor((log2(SUM(n)) - SUM(n * log2(n)) / SUM(n)) * 1000000.0 + 0.5) / 1000000.0) AS char_entropy
  FROM counts GROUP BY doc_id
)
SELECT r.doc_id, r.term, r.tf, r.idf, r.tfidf, r.rank, p.n_chars, p.char_entropy
FROM ranked r JOIN per_doc p USING (doc_id)
"""


# --- corpus_funnel ------------------------------------------------------------
# The flagship LLM-extension driver row: the SQL-expressible sub-funnel
# of plans/corpus_prep.prepare_corpus — URL gate -> HTML extraction ->
# mojibake repair (both r14) -> content-blockword gate -> trained-NB
# language gate (both r13) -> boilerplate line
# strip -> clean (redact+normalize) -> annotate (lang, quality) ->
# filter -> exact dedup -> CCNet perplexity buckets -> MinHash-LSH
# near-dup clustering -> chunk — executed by the REAL pipeline code on
# the Spark side and mirrored stage-for-stage in DuckDB SQL (both
# MODELS — the bigram LM and the NB language classifier — are TRAINED
# inside the oracle's CTE chain too). A shared cookie-banner line is
# planted on every doc so the boilerplate stage is load-bearing: if
# stripping regressed, every chunk (and the lang/quality columns)
# would carry banner tokens and the oracle hash would diverge.
_FUNNEL_CHUNK, _FUNNEL_OVERLAP = 64, 8
_FUNNEL_BANNER = "Accept Cookies To Continue"
_FUNNEL_BL_MIN_DOCS = 3
# CCNet-style LM stage (round 8 folded the threshold filter into the
# oracle row; round 12 upgraded it to the distribution-relative
# head/middle/tail BUCKET form — perplexity_keep_buckets — so the
# bucket operator gets driver-green evidence too; the scoring core
# `_per_doc_scores` is shared by both forms, so the threshold path
# stays transitively covered). The interpolated-bigram LM trains on
# the 1-in-10 raw-document reference slice; keeping ("head",
# "middle") drops the worst-scoring third of each language cohort at
# every SF — load-bearing everywhere by construction. Cutoffs use
# EXACT percentile in BOTH engines (Spark `percentile` ==
# DuckDB `quantile_cont`, bit-identical on the same doubles —
# verified in tests/test_funnel_bucket_margin.py, which also pins the
# min |ppl - cutoff| boundary margin far above the ~1e-9
# cross-engine float noise the LM parity test allows); the 100 TB
# default stays percentile_approx.
_FUNNEL_PPL_BUCKETS = ("head", "middle")

# Round-12 URL gate fold (RefinedWeb §3.1-style front gate): the
# documents table carries no URL, so the funnel plants a
# deterministic one per doc_id covering every gate branch —
# blocklisted domain (residue 3), blocked SUBDOMAIN (4), blocked via
# two-level public suffix (9 → shop.co.uk), raw-IP host (5),
# token-boundary badword (7), unparseable (11), clean survivors
# (rest). The expression is dialect-shared: Spark runs it via
# F.expr, DuckDB verbatim — one definition, zero drift.
_FUNNEL_URL_SQL = """CASE
  WHEN doc_id % 17 = 3  THEN 'https://spamfarm.example/p/' || CAST(doc_id AS STRING)
  WHEN doc_id % 17 = 4  THEN 'https://cdn.spamfarm.example/q?a=1&b=2'
  WHEN doc_id % 17 = 5  THEN 'http://93.184.216.34/raw/' || CAST(doc_id AS STRING)
  WHEN doc_id % 17 = 7  THEN 'https://freebies.example/casino/' || CAST(doc_id AS STRING)
  WHEN doc_id % 17 = 9  THEN 'https://x' || CAST(doc_id % 3 AS STRING) || '.shop.co.uk/p'
  WHEN doc_id % 17 = 11 THEN 'not a url ' || CAST(doc_id AS STRING)
  ELSE 'https://site' || CAST(doc_id % 5 AS STRING) || '.example.org/page/' || CAST(doc_id AS STRING)
END"""
_FUNNEL_BLOCKLIST = ("spamfarm.example", "shop.co.uk")

# Round-13 fold: the C4-style content-blockword gate and the CCNet
# trained-langid gate join the oracle row (the round-12 curation
# stages' driver-green evidence — same lever as the LM filter r8 and
# the URL gate r12 folds).
#
# Blockword branch: residues 6/9 mod 13 get a blocklisted word/phrase
# appended (the phrase split across a NEWLINE, so \s+-run phrase
# matching is load-bearing — round 14: the r13 double-space form
# stopped being evidence once html_to_text's whitespace collapse ran
# upstream of the gate; a newline SURVIVES extraction, so the run
# match is still doing work); gate = any hit drops.
_FUNNEL_BLOCKWORDS = ("casino", "free money")
_FUNNEL_BW_SQL = """CASE
  WHEN doc_id % 13 = 6 THEN text || ' spin the casino wheel'
  WHEN doc_id % 13 = 9 THEN text || ' claim free' || chr(10) || 'money today'
  ELSE text END"""
# Trained-NB branch: every 10th doc (residue 3) spawns a doc_id+30000
# twin whose text is 'zz-language' gibberish LACED with en stopwords
# — the stopword heuristic calls it 'en' (quality 1.0, en hits via
# the/of/and, 4-char tokens keep mean word length in band), so if the
# trained gate regressed to a no-op these docs would sail through the
# claimed-lang filter into the output hash at every SF. The NB model
# (labels en=the 1-in-10 raw slice, zz=the gibberish itself) predicts
# 'zz' and the gate drops them — the CCNet trained-vs-claimed cut,
# load-bearing by construction. Expression is dialect-shared (Spark
# F.expr / DuckDB verbatim) and keyed on the SHIFTED doc_id so the
# training mirror reproduces the exact texts.
_FUNNEL_ZZ_SQL = (
    "'qzvw wqjx the kqzv of zzqk and xqkz ' || "
    "repeat('qzvw wxzj jqlk zzkq ', 6) || CAST(doc_id AS STRING)"
)
_FUNNEL_NB_VOCAB = 512
_FUNNEL_NB_SMOOTH = 0.5
_FUNNEL_KEEP_LANGS = ("en", "fr", "de")

# Round-14 fold: the funnel input is now a WARC-shaped markup page —
# head/script/comment chrome, the banner and body as <p> paragraphs,
# a planted mojibake appendix (residue 2 mod 8: UTF-8 bytes read as
# cp1252) and a markup list appendix (residue 4 mod 8, with an
# &amp; entity) — so html_to_text + fix_mojibake run load-bearing in
# the driver hash at every SF (the recorded-run discipline of
# tests/test_funnel_html_mojibake.py made permanent; VERDICT r13 #1).
# The oracle plants the EXPECTED post-extraction/post-repair text:
# if extraction regressed, raw tags / dropped-subtree bodies would
# flow into every downstream column; if the repair regressed, the
# corrupted rendering would.
_FUNNEL_MOJIBAKE = " cafÃ© rÃ©sumÃ©"
_FUNNEL_MOJI_FIXED_SQL = "' café résumé'"
_FUNNEL_LIST_HTML = "<ul><li>alpha &amp; beta</li><li>gamma</li></ul>"
_FUNNEL_LIST_TEXT_SQL = "chr(10) || chr(10) || 'alpha & beta' || chr(10) || 'gamma'"

# Round-15 fold: benchmark DECONTAMINATION joins the oracle row
# (VERDICT r14 #1 — the last flagship curation operator with no
# driver-oracle evidence). Residue 1 mod 23 docs get the full 8-token
# benchmark span appended (exact 8-gram collision → the GPT-3/PaLM
# rule DROPS them); residue 2 gets only the first SEVEN tokens — a
# shared 7-gram but no shared 8-gram, the near-miss control that must
# SURVIVE (a detector widened to 7-grams, or one matching on subset
# rather than contiguous n-grams, would drop them and move the hash).
# Span design (first draft failed): the first SEVEN tokens are common
# harness-vocabulary words (31-word vocab, all in the bigram LM's
# training split at every SF) so the injection is PERPLEXITY-NEUTRAL
# — an all-synthetic span put 7-8 OOV unigrams into ~55-token docs
# and the ppl tail bucket swallowed both branches before decon ever
# saw them (measured: residues 1 AND 2 were empty even with decon
# off, i.e. the stage guarded nothing). Only the EIGHTH token is
# synthetic (leakq8): residue-2 docs carry zero OOV tokens, residue-1
# exactly one (~0.1 nat on the doc average), and every one of the
# benchmark's five 8-grams contains at least one synthetic token
# (bquux*/leakq8), so no natural corpus text can collide with ANY
# benchmark 8-gram — only the planted full-span docs drop. Injection
# rides the pre-markup body exactly like the blockword plant, so
# copies inherit shifted residues and every transformation downstream
# (markup wrap, extraction, cleaning) is identically mirrored. The
# benchmark set is three eval items: the leaking one (synthetic
# bquux* context words — REAL words would let 'context+7-leak-token'
# 8-grams contaminate the near-miss branch), a no-overlap control,
# and a < n-token item whose shingle set is empty.
_FUNNEL_LEAK_SPAN = "order hash window column part big value leakq8"
_FUNNEL_LEAK_NEAR = " ".join(_FUNNEL_LEAK_SPAN.split()[:7])
_FUNNEL_LEAK_SQL = f"""CASE
  WHEN doc_id % 23 = 1 THEN text || ' {_FUNNEL_LEAK_SPAN}'
  WHEN doc_id % 23 = 2 THEN text || ' {_FUNNEL_LEAK_NEAR}'
  ELSE text END"""
_FUNNEL_DECON_N = 8
_FUNNEL_BENCH = (
    (1, f"bquux0 bquux1 {_FUNNEL_LEAK_SPAN} bquux2 bquux3"),
    (2, "unrelq0 unrelq1 unrelq2 unrelq3 unrelq4 unrelq5 unrelq6 unrelq7"),
    (3, "too short"),
)


def funnel_planted_docs(spark: SparkSession, sf_dir: str):
    """(raw docs, planted funnel input) — the 4-branch union (raw +
    exact copies + near copies + the mislabeled zz branch), blockword
    injection, then the round-14 markup wrap: every doc becomes a full
    HTML page (banner and body as <p> paragraphs, head/script/comment
    chrome, per-residue mojibake and list appendices) with a
    deterministic per-doc URL. Shared by the driver row and the
    gate/margin pin tests (tests/test_funnel_gates.py) so the planting
    can never drift between them."""
    from ..caching import lazy_checkpoint

    # seven consumers of the base table (the LM training slice, the
    # two NB training slices and the four planted-union branches): one
    # checkpointed scan feeds all of them instead of seven parquet
    # re-reads (round-9 trim)
    docs = lazy_checkpoint(_docs(spark, sf_dir))
    exact_copies = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    near_copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz mutated suffix")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    # the mislabeled-language branch the trained gate must reject
    # (claimed-lang column value is never read by the funnel — the
    # stopword heuristic reclassifies from text; see _FUNNEL_ZZ_SQL)
    zz_docs = (
        docs.filter(F.col("doc_id") % 10 == 3)
        .select((F.col("doc_id") + 30000).alias("doc_id"), "lang", "source", "n_chars")
        .withColumn("text", F.expr(_FUNNEL_ZZ_SQL))
        .select("doc_id", "text", "lang", "source", "n_chars")
    )
    planted = (
        docs.unionByName(exact_copies)
        .unionByName(near_copies)
        .unionByName(zz_docs)
    )
    # blockword injection rides the pre-markup body (residues mod 13)
    planted = planted.withColumn("text", F.expr(_FUNNEL_BW_SQL))
    # benchmark-leak injection (residues mod 23): 8-token exact span /
    # 7-token near-miss — see _FUNNEL_LEAK_SQL (round-15 decon fold)
    planted = planted.withColumn("text", F.expr(_FUNNEL_LEAK_SQL))
    # markup wrap: banner + body as paragraphs (the <p> boundaries
    # become the blank lines the boilerplate stage strips around), the
    # shifted branch ids are all ≡ 0 mod 8, so every copy inherits its
    # original's appendix residues and exact twins stay exact
    moj = F.when(F.col("doc_id") % 8 == 2, F.lit(_FUNNEL_MOJIBAKE)).otherwise(
        F.lit("")
    )
    lst = F.when(F.col("doc_id") % 8 == 4, F.lit(_FUNNEL_LIST_HTML)).otherwise(
        F.lit("")
    )
    planted = planted.withColumn(
        "text",
        F.concat(
            F.lit(
                "<html><head><title>T</title><script>var x=1;</script></head>"
                "<body><p>" + _FUNNEL_BANNER + "</p><p>"
            ),
            F.col("text"),
            moj,
            F.lit("</p>"),
            lst,
            F.lit("<!-- tracking note --></body></html>"),
        ),
    )
    # deterministic per-doc URL so the web-curation gate (blocklist +
    # shape flags) is load-bearing in the oracle hash — see
    # _FUNNEL_URL_SQL for the branch coverage
    planted = planted.withColumn("url", F.expr(_FUNNEL_URL_SQL))
    return docs, planted


def funnel_lang_model(docs: DataFrame):
    """The funnel's trained language classifier: multinomial NB over
    char trigrams, labels = 'en' (the 1-in-10 raw-document slice —
    the same reference slice the funnel LM trains on) and 'zz' (the
    planted gibberish branch, built from the SAME dialect-shared
    expression as the planted docs so train == gate texts exactly).
    Mirrored CTE-for-CTE in the oracle (nb_* chain)."""
    from ..operators.lang_classifier import fit_lang_classifier

    zz = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + 30000).alias("doc_id")
    )
    train = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(F.lit("en").alias("__lbl"), "text")
        .unionByName(
            zz.select(F.lit("zz").alias("__lbl"), F.expr(_FUNNEL_ZZ_SQL).alias("text"))
        )
    )
    return fit_lang_classifier(
        train, "text", "__lbl", n=3,
        vocab_size=_FUNNEL_NB_VOCAB, smoothing=_FUNNEL_NB_SMOOTH,
    )


def funnel_benchmark(spark: SparkSession) -> DataFrame:
    """The funnel's 3-item eval benchmark (see _FUNNEL_BENCH).
    dim_frame (round-15): Arrow LocalRelation (the decon probes
    collect it driver-side with no job; functions/dimframe.py)."""
    from ..functions.dimframe import dim_frame

    return dim_frame(spark, list(_FUNNEL_BENCH), "bench_id int, text string")


def q_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lm_score import train_ngram_lm
    from ..plans.corpus_prep import prepare_corpus

    docs, planted = funnel_planted_docs(spark, sf_dir)
    # The two trained gates are independent of each other and both
    # bounded-collect jobs; submitting them from a 2-thread pool lets
    # the second training's tasks back-fill executors the first one
    # leaves idle (guide §2.6 overlap-independent-jobs; the driver
    # actions serialize otherwise). Both first-actions race the shared
    # base-docs checkpoint's lazy materialization — a deterministic
    # scan either way, so the winner is irrelevant.
    # Round-15 continuation: the FUTURES are passed straight into
    # prepare_corpus (its _resolve_model seam), so the model-
    # independent gate/extraction prefix constructs and its checkpoint
    # materializes WHILE the trainings run; the pool context joins
    # after prepare_corpus returns, by which point both futures were
    # resolved at their use sites.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        lm_f = pool.submit(
            train_ngram_lm, docs.filter(F.col("doc_id") % 10 == 0), "text"
        )
        nb_f = pool.submit(funnel_lang_model, docs)
        return prepare_corpus(
            spark,
            sf_dir,
            docs=planted,
            url_col="url",
            # round-14 fold: extraction + mojibake repair run INSIDE
            # the driver row (the input is a markup page; the oracle
            # plants the expected extraction — see funnel_planted_docs)
            html=True,
            fix_encoding=True,
            url_blocklist=_FUNNEL_BLOCKLIST,
            url_quality=True,
            content_blocklist=_FUNNEL_BLOCKWORDS,
            lang_model=nb_f,
            keep_langs=_FUNNEL_KEEP_LANGS,
            boilerplate_min_docs=_FUNNEL_BL_MIN_DOCS,
            perplexity_lm=lm_f,
            perplexity_keep_buckets=_FUNNEL_PPL_BUCKETS,
            perplexity_bucket_exact=True,
            # round-15 fold: n-gram benchmark decontamination runs
            # INSIDE the driver row (planted 8-gram collisions drop,
            # 7-gram near-misses survive — see _FUNNEL_LEAK_SQL /
            # _FUNNEL_BENCH)
            benchmark=funnel_benchmark(spark),
            contamination_n=_FUNNEL_DECON_N,
            chunk_size=_FUNNEL_CHUNK,
            overlap=_FUNNEL_OVERLAP,
            # cap-free so the Spark algebra is EXACTLY the oracle SQL
            # at every SF (the production default cap=1000 is a lossy
            # guard the DuckDB mirror deliberately does not carry)
            max_bucket_size=None,
        )


_FUNNEL_PLANTED_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 20000 AS doc_id, text || ' zz mutated suffix' AS text
  FROM documents WHERE doc_id % 10 = 0
"""

# the mislabeled-language branch (see _FUNNEL_ZZ_SQL): ids shifted
# FIRST so the dialect-shared text expression sees the final doc_id
_FUNNEL_ZZ_BRANCH_SQL = f"""
  SELECT doc_id, {_FUNNEL_ZZ_SQL} AS text
  FROM (SELECT doc_id + 30000 AS doc_id FROM documents WHERE doc_id % 10 = 3)
"""

# redact+normalize mirrored from operators/text_analysis.redact_pii /
# normalize_text — the PATTERNS are imported, not retyped, so the two
# engines can't drift (cross-dialect parity verified on the harness
# corpus: 0 mismatches at sf0.01)
from ..operators.text_analysis import _PII_PATTERNS as _PII  # noqa: E402

_REDACT_SQL = "text"
for _pat, _tok in _PII:
    _REDACT_SQL = (
        "regexp_replace(" + _REDACT_SQL + ", '" + _pat + "', '" + _tok + "', 'g')"
    )
_CLEAN_SQL = "lower(trim(regexp_replace(" + _REDACT_SQL + ", '\\s+', ' ', 'g')))"

_FUNNEL_STRIDE = _FUNNEL_CHUNK - _FUNNEL_OVERLAP
# boilerplate strip mirror (operators/boilerplate.strip_boilerplate_lines):
# explode lines, fingerprint the whitespace-normalized lowercase line,
# drop fingerprints shared by >= min_docs distinct docs, reassemble in
# order. The oracle's GROUP BY omits all-boilerplate docs; the engine
# returns them with '' — both vanish at the quality filter, so `kept`
# agrees (same contract as tests/test_boilerplate.py parity).
_BL_NORM = "trim(regexp_replace(lower(line), '\\s+', ' ', 'g'))"
# LM-stage mirrors (operators/lm_score): tokenization == Spark's
# whitespace_tokens(lower(text)) with empties filtered; the BOS
# sentinel and smoothing constants are IMPORTED from the operator —
# not retyped — so the engines can't drift (same discipline as
# _PII_PATTERNS below). The same SQL passed the standalone parity
# test (tests/test_lm_duckdb_parity.py) at 1e-9 relative.
from ..operators.lm_score import BOS as _PPL_BOS  # noqa: E402
from ..operators.lm_score import DEFAULT_ALPHA as _PPL_ALPHA  # noqa: E402
from ..operators.lm_score import DEFAULT_LAM as _PPL_LAM  # noqa: E402

_PPL_TOKS = (
    "list_filter(string_split_regex(trim(lower({t})), '\\s+'), t -> t <> '')"
)

# URL-gate mirror (operators/url_filter): the regexes, suffix set,
# badword list and blocklist are IMPORTED from the operator/constants
# — not retyped — so the engines cannot drift (the _PII_PATTERNS
# discipline). regexp semantics verified shared: Java regex and RE2
# agree on every construct used here (escaped slash, non-capturing
# groups, char classes, bounded repetition).
import re as _re  # noqa: E402

from ..operators.lm_score import DEFAULT_BUCKET_BOUNDS as _PPL_BOUNDS  # noqa: E402
from ..operators.url_filter import _URL_RE as _URL_REGEX  # noqa: E402
from ..operators.url_filter import DEFAULT_URL_BADWORDS as _URL_BADWORDS  # noqa: E402
from ..operators.url_filter import TWO_LEVEL_SUFFIXES as _URL_SUFFIXES  # noqa: E402

_URL_SUFFIX_LIST = ", ".join(f"'{s}'" for s in _URL_SUFFIXES)
_URL_BLOCK_LIST = ", ".join(f"'{d}'" for d in _FUNNEL_BLOCKLIST)

# content-blockword mirror (operators/text_analysis.blockword_hits):
# the alternation body is IMPORTED from the operator; the Spark side
# uses zero-width lookarounds, the RE2 side consuming boundary groups
# — equivalent for the max_hits=0 EXISTENCE gate the funnel runs
# (\p{L}/\p{N} classes are shared syntax; text is lowercased first so
# (?i) is unnecessary on the mirror side)
from ..operators.text_analysis import blockword_alternation as _bw_alt  # noqa: E402

_FUNNEL_BW_GATE_SQL = (
    "NOT regexp_matches(lower(text), "
    f"'(^|[^\\p{{L}}\\p{{N}}])(?:{_bw_alt(_FUNNEL_BLOCKWORDS)})([^\\p{{L}}\\p{{N}}]|$)')"
)

# trained-NB mirror (operators/lang_classifier fit/predict): char
# trigrams over _NORM-prepped text, add-k smoothing with the unknown
# bucket as one extra vocabulary cell, vocabulary = global top-k by
# (count desc, gram asc), argmax tie-break = lexicographically larger
# label (Spark's max(struct(score, label))). Constants interpolated
# via repr() so both engines evaluate the SAME doubles.
_NB_N = 3
_NB_V1 = _FUNNEL_NB_VOCAB + 1  # +1: the unknown bucket
_NB_GRAMS = (
    "SELECT {keys}, substring(t, i, {n}) AS g FROM ("
    "  SELECT {keys}, t, unnest(generate_series(1, length(t) - {nm1})) AS i FROM {src})"
)
_URL_BADWORD_ALT = "|".join(_re.escape(w.lower()) for w in _URL_BADWORDS)
_FUNNEL_BUCKET_IN = ", ".join(f"'{b}'" for b in _FUNNEL_PPL_BUCKETS)
# host = authority, userinfo stripped greedily to the LAST @, :port
# stripped, lowercased, '' -> NULL (parse_url mirror)
_URL_HOST_SQL = (
    "nullif(lower(regexp_replace(regexp_replace("
    f"regexp_extract(url, '{_URL_REGEX}', 2), '^.*@', ''), ':\\d+$', '')), '')"
)
_HOST_PARTS = "string_split(host, '.')"
_URL_IP_RE = "^\\d{1,3}(\\.\\d{1,3}){3}$"
# registered_domain mirror: raw-IP / <=2-label hosts pass through;
# two-level public suffix takes three labels; else two
_URL_DOM_SQL = f"""CASE
    WHEN host IS NULL THEN NULL
    WHEN regexp_matches(host, '{_URL_IP_RE}') OR len({_HOST_PARTS}) <= 2 THEN host
    WHEN ({_HOST_PARTS}[-2] || '.' || {_HOST_PARTS}[-1]) IN ({_URL_SUFFIX_LIST})
      THEN {_HOST_PARTS}[-3] || '.' || {_HOST_PARTS}[-2] || '.' || {_HOST_PARTS}[-1]
    ELSE {_HOST_PARTS}[-2] || '.' || {_HOST_PARTS}[-1]
  END"""
# filter_domain_blocklist (dom non-null, not blocked) then
# filter_url_quality (no shape flag set), in pipeline order
_URL_GATE_SQL = f"""dom IS NOT NULL
    AND dom NOT IN ({_URL_BLOCK_LIST})
    AND length(url) <= 2048
    AND NOT regexp_matches(host, '{_URL_IP_RE}')
    AND length(regexp_replace(host, '[^0-9]', '', 'g')) < length(host) * 0.4
    AND NOT regexp_matches(lower(url), '(^|[^a-z0-9])({_URL_BADWORD_ALT})([^a-z0-9]|$)')
    AND (CASE WHEN query IS NULL THEN 0 ELSE len(string_split(query, '&')) END) <= 12"""

# word n-gram shingle mirror, n-generalized from _SHINGLES (the
# minhash n=3 template above; same _TOKENS tokenization) — used by the
# decontamination fold (operators/text_dedup.word_shingles semantics:
# empty list below n tokens, inclusive DuckDB slice == Spark F.slice)
def _shingle_n_sql(t: str, n: int) -> str:
    toks = _TOKENS.format(t=t)
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(range(1, len({toks}) - {n - 2}), "
        f"i -> array_to_string(({toks})[i:i+{n - 1}], ' ')) "
        "ELSE [] END"
    )


_FUNNEL_BENCH_VALUES = ", ".join(
    f"({i}, '{txt}')" for i, txt in _FUNNEL_BENCH
)

ORACLE_CORPUS_FUNNEL = f"""
WITH RECURSIVE
planted_base AS ({_FUNNEL_PLANTED_SQL}
  UNION ALL
{_FUNNEL_ZZ_BRANCH_SQL}),
planted_raw AS (SELECT doc_id, {_FUNNEL_BW_SQL} AS text FROM planted_base),
planted_leak AS (SELECT doc_id, {_FUNNEL_LEAK_SQL} AS text FROM planted_raw),
planted_url AS (
  SELECT doc_id, text, {_FUNNEL_URL_SQL} AS url FROM planted_leak
),
url_parsed AS (
  SELECT doc_id, text, url, {_URL_HOST_SQL} AS host,
         nullif(regexp_extract(url, '{_URL_REGEX}', 4), '') AS query
  FROM planted_url
),
url_dom AS (SELECT *, {_URL_DOM_SQL} AS dom FROM url_parsed),
url_gated AS (SELECT doc_id, text FROM url_dom WHERE {_URL_GATE_SQL}),
-- html_to_text + fix_mojibake mirror (round 14): the Spark side reads
-- a full markup page (head/script/comment chrome dropped, <p>
-- boundaries -> blank lines, <li> -> lines, &amp; decoded, mojibake
-- repaired) — the oracle plants the EXPECTED extraction verbatim, so
-- any extraction/repair regression diverges on every row it touches
planted_bannered AS (
  SELECT doc_id, '{_FUNNEL_BANNER}' || chr(10) || chr(10) || text
    || (CASE WHEN doc_id % 8 = 2 THEN {_FUNNEL_MOJI_FIXED_SQL} ELSE '' END)
    || (CASE WHEN doc_id % 8 = 4 THEN {_FUNNEL_LIST_TEXT_SQL} ELSE '' END)
    AS text
  FROM url_gated
),
-- C4-style content-blockword gate (operators/text_analysis
-- .filter_content_blockwords, max_hits=0): alternation
-- imported from the operator; consuming boundary groups stand in for
-- Java lookarounds (equivalent for existence)
blockword_gated AS MATERIALIZED (
  SELECT doc_id, text FROM planted_bannered WHERE {_FUNNEL_BW_GATE_SQL}
),
-- CCNet trained-langid gate (operators/lang_classifier): multinomial
-- NB over char {_NB_N}-grams, trained CTE-for-CTE like the LM stage
-- below — labels 'en' (the 1-in-10 raw slice) and 'zz' (the planted
-- gibberish branch). Vocabulary = top {_FUNNEL_NB_VOCAB} grams by
-- (count desc, gram asc); smoothing constants interpolated via
-- repr() so both engines evaluate the SAME doubles.
nb_tr AS (
  SELECT 'en' AS lbl, {_NORM.format(t='text')} AS t
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT 'zz' AS lbl, {_NORM.format(t='text')} AS t
  FROM ({_FUNNEL_ZZ_BRANCH_SQL})
),
nb_docn AS (SELECT lbl, count(*) AS dn FROM nb_tr GROUP BY lbl),
nb_cnt AS (
  SELECT lbl, g, count(*) AS c
  FROM ({_NB_GRAMS.format(keys='lbl', n=_NB_N, nm1=_NB_N - 1, src='nb_tr')})
  GROUP BY lbl, g
),
nb_vocab AS (
  SELECT g FROM (
    SELECT g, sum(c) AS tot FROM nb_cnt GROUP BY g
    ORDER BY tot DESC, g ASC LIMIT {_FUNNEL_NB_VOCAB}
  )
),
nb_iv AS MATERIALIZED (SELECT nb_cnt.* FROM nb_cnt JOIN nb_vocab USING (g)),
nb_lab AS MATERIALIZED (
  SELECT d.lbl,
         ln(CAST(d.dn AS DOUBLE) / (SELECT CAST(sum(dn) AS DOUBLE) FROM nb_docn))
           AS prior,
         (CAST(coalesce(t.n, 0) AS DOUBLE)
          + {_FUNNEL_NB_SMOOTH!r} * {_NB_V1}) AS denom,
         ln({_FUNNEL_NB_SMOOTH!r}
            / (CAST(coalesce(t.n, 0) AS DOUBLE)
               + {_FUNNEL_NB_SMOOTH!r} * {_NB_V1})) AS unk
  FROM nb_docn d
  LEFT JOIN (SELECT lbl, sum(c) AS n FROM nb_iv GROUP BY lbl) t USING (lbl)
),
nb_tab AS MATERIALIZED (
  SELECT i.g, i.lbl,
         ln((CAST(i.c AS DOUBLE) + {_FUNNEL_NB_SMOOTH!r}) / l.denom) AS logp
  FROM nb_iv i JOIN nb_lab l USING (lbl)
),
nb_doc AS MATERIALIZED (
  SELECT doc_id, {_NORM.format(t='text')} AS t FROM blockword_gated
),
nb_match AS (
  SELECT doc_id, lbl, sum(c * logp) AS m_logp, sum(c) AS m_n
  FROM (
    SELECT doc_id, g, count(*) AS c
    FROM ({_NB_GRAMS.format(keys='doc_id', n=_NB_N, nm1=_NB_N - 1, src='nb_doc')})
    GROUP BY doc_id, g
  )
  JOIN nb_tab USING (g)
  GROUP BY doc_id, lbl
),
nb_pred AS MATERIALIZED (
  SELECT doc_id, lbl, total FROM (
    SELECT d.doc_id, l.lbl, greatest(length(d.t) - {_NB_N - 1}, 0) AS total,
           row_number() OVER (
             PARTITION BY d.doc_id
             ORDER BY l.prior + coalesce(m.m_logp, 0.0)
                      + (greatest(length(d.t) - {_NB_N - 1}, 0)
                         - coalesce(m.m_n, 0)) * l.unk DESC,
                      l.lbl DESC
           ) AS rn
    FROM nb_doc d CROSS JOIN nb_lab l
    LEFT JOIN nb_match m ON m.doc_id = d.doc_id AND m.lbl = l.lbl
  ) WHERE rn = 1
),
lang_gated AS MATERIALIZED (
  SELECT b.doc_id, b.text FROM blockword_gated b JOIN nb_pred p USING (doc_id)
  WHERE (CASE WHEN p.total < 1 THEN 'und' ELSE p.lbl END)
        IN ({", ".join(f"'{lang}'" for lang in _FUNNEL_KEEP_LANGS)})
),
bl_lines AS (
  SELECT doc_id, idx, line, md5({_BL_NORM}) AS fp
  FROM (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
           generate_subscripts(string_split(text, chr(10)), 1) AS idx
    FROM lang_gated
  )
  WHERE {_BL_NORM} <> ''
),
bl_bad AS (
  SELECT fp FROM bl_lines GROUP BY fp
  HAVING count(DISTINCT doc_id) >= {_FUNNEL_BL_MIN_DOCS}
),
planted AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text
  FROM bl_lines WHERE fp NOT IN (SELECT fp FROM bl_bad)
  GROUP BY doc_id
),
cleaned AS (SELECT doc_id, {_CLEAN_SQL} AS text FROM planted),
lang_scored AS (
  SELECT doc_id, text,
         greatest({', '.join(_hits_sql(lang) for lang in STOPWORDS)}) AS best
  FROM cleaned
),
annotated AS (
  SELECT doc_id, text,
         CASE WHEN best < 1 THEN 'und' {_LANG_CASES} ELSE 'und' END AS lang,
         CAST(length(text) >= 100 AND length(text) <= 20000 AS DOUBLE) * 0.25
         + CAST({_Q_MEAN} >= 3.0 AND {_Q_MEAN} <= 12.0 AS DOUBLE) * 0.25
         + CAST({_Q_PUNCT} <= 0.2 AS DOUBLE) * 0.25
         + CAST({_hits_sql('en')} >= 1 AS DOUBLE) * 0.25 AS quality
  FROM lang_scored
),
kept AS MATERIALIZED (
  SELECT * FROM annotated
  WHERE quality >= 0.5 AND lang IN ('en', 'fr', 'de')
),
exact AS MATERIALIZED (
  SELECT doc_id, text, lang, quality FROM (
    SELECT *, row_number() OVER (
      PARTITION BY md5({_NORM.format(t='text')}) ORDER BY doc_id ASC
    ) AS rn
    FROM kept
  ) WHERE rn = 1
),
-- CCNet-style interpolated-bigram LM stage, mirrored from
-- operators/lm_score (train on the 1-in-10 raw-doc slice, score the
-- exact-DEDUPLICATED docs — pipeline order as of round 12 — bucket
-- head/middle/tail by per-language EXACT percentile cutoffs
-- (quantile_cont == Spark percentile, bit-identical) and keep the
-- named buckets). Formula constants interpolated via repr() so both
-- engines evaluate the SAME doubles.
lm_toks AS (
  SELECT {_PPL_TOKS.format(t='text')} AS toks
  FROM documents WHERE doc_id % 10 = 0
),
lm_pairs AS (
  SELECT list_prepend('{_PPL_BOS}', toks)[i] AS prev, toks[i] AS tok
  FROM (SELECT toks, unnest(generate_series(1, len(toks))) AS i FROM lm_toks)
),
lm_uni AS (SELECT tok, count(*) AS uni_n FROM lm_pairs GROUP BY tok),
lm_prev AS (SELECT prev, count(*) AS prev_n FROM lm_pairs GROUP BY prev),
lm_bi AS (SELECT prev, tok, count(*) AS bi_n FROM lm_pairs GROUP BY prev, tok),
lm_tot AS (
  SELECT CAST(SUM(uni_n) AS DOUBLE)
         + {_PPL_ALPHA!r} * (CAST(COUNT(*) AS DOUBLE) + 1) AS uni_denom
  FROM lm_uni
),
ppl_pairs AS (
  SELECT doc_id, lang, list_prepend('{_PPL_BOS}', toks)[i] AS prev, toks[i] AS tok
  FROM (
    SELECT doc_id, lang, toks, unnest(generate_series(1, len(toks))) AS i
    FROM (SELECT doc_id, lang, {_PPL_TOKS.format(t='text')} AS toks FROM exact)
  )
),
ppl_scored AS (
  SELECT p.doc_id, p.lang,
         ln({_PPL_LAM!r} * CASE WHEN b.bi_n IS NOT NULL
                  THEN CAST(b.bi_n AS DOUBLE) / CAST(pv.prev_n AS DOUBLE)
                  ELSE 0.0 END
            + {1.0 - _PPL_LAM!r}
              * ((CAST(COALESCE(u.uni_n, 0) AS DOUBLE) + {_PPL_ALPHA!r})
                 / (SELECT uni_denom FROM lm_tot))) AS lp
  FROM ppl_pairs p
  LEFT JOIN lm_uni u ON u.tok = p.tok
  LEFT JOIN lm_bi b ON b.prev = p.prev AND b.tok = p.tok
  LEFT JOIN lm_prev pv ON pv.prev = p.prev
),
ppl_doc AS (
  SELECT doc_id, lang, exp(-avg(lp)) AS ppl
  FROM ppl_scored GROUP BY doc_id, lang
),
ppl_cuts AS (
  SELECT lang, quantile_cont(ppl, {_PPL_BOUNDS[0]!r}) AS lo,
         quantile_cont(ppl, {_PPL_BOUNDS[1]!r}) AS hi
  FROM ppl_doc GROUP BY lang
),
ppl_keep AS (
  SELECT d.doc_id FROM ppl_doc d JOIN ppl_cuts c USING (lang)
  WHERE (CASE WHEN d.ppl <= c.lo THEN 'head'
              WHEN d.ppl <= c.hi THEN 'middle'
              ELSE 'tail' END) IN ({_FUNNEL_BUCKET_IN})
),
ppl_kept AS MATERIALIZED (
  SELECT * FROM exact WHERE doc_id IN (SELECT doc_id FROM ppl_keep)
),
{_minhash_ctes("SELECT doc_id, text FROM ppl_kept")},
near_pairs AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.5),
edges AS (
  SELECT id_a AS a, id_b AS b FROM near_pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM near_pairs
),
reach(node, lab) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b
),
comp AS (SELECT node, MIN(lab) AS rep FROM reach GROUP BY node),
drops AS (SELECT node AS doc_id FROM comp WHERE node != rep),
survivors AS MATERIALIZED (
  SELECT e.* FROM ppl_kept e
  WHERE e.doc_id NOT IN (SELECT doc_id FROM drops)
),
-- benchmark decontamination mirror (operators/contamination
-- .decontaminate, n={_FUNNEL_DECON_N}, max_rate=0.0): a surviving doc
-- sharing ANY word {_FUNNEL_DECON_N}-gram with any benchmark item
-- drops; the shingle template is the n-generalized form of the
-- minhash _SHINGLES mirror (same tokenization). survivors is
-- MATERIALIZED above because it now has three readers (DuckDB
-- inlines plain CTEs per reference — the corpus_diff lesson).
decon_bench AS (
  SELECT * FROM (VALUES {_FUNNEL_BENCH_VALUES}) AS b(bench_id, btext)
),
decon_bsh AS (
  SELECT DISTINCT s FROM (
    SELECT unnest({_shingle_n_sql('btext', _FUNNEL_DECON_N)}) AS s
    FROM decon_bench
  )
),
decon_bad AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest({_shingle_n_sql('text', _FUNNEL_DECON_N)}) AS s
    FROM survivors
  ) WHERE s IN (SELECT s FROM decon_bsh)
),
decontaminated AS (
  SELECT * FROM survivors WHERE doc_id NOT IN (SELECT doc_id FROM decon_bad)
),
tokd AS (
  SELECT doc_id, lang, quality,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE {_TOKENS.format(t='text')} END AS toks,
         text
  FROM decontaminated
),
windowed AS (
  SELECT doc_id, lang, quality,
         CASE WHEN trim(text) = '' THEN CAST([] AS STRUCT(chunk_idx INTEGER, chunk VARCHAR)[])
              ELSE list_transform(
                range(1, greatest(len(toks) - {_FUNNEL_OVERLAP}, 1) + 1, {_FUNNEL_STRIDE}),
                s -> {{'chunk_idx': CAST((s - 1) / {_FUNNEL_STRIDE} AS INTEGER),
                       'chunk': array_to_string(toks[s:s + {_FUNNEL_CHUNK - 1}], ' ')}})
         END AS chunks
  FROM tokd
)
SELECT doc_id, lang, quality, unnest(chunks, recursive := true)
FROM windowed
"""


# --- corpus_diff ---------------------------------------------------------------
# Release-diff driver row (round 13; the slot freed by retiring
# semi_join_test, whose empty-overlap semantics anti_join already
# drives — VERDICT r12 #5). The harness corpus is one "release"; the
# next release is planted deterministically: every 11th doc removed,
# every 7th-residue-3 doc modified (suffix), every 9th-residue-1 doc
# added at doc_id+40000, and every 13th-residue-5 surviving doc
# duplicated VERBATIM so the agreeing-duplicate collapse path is
# load-bearing too. Mirrored as one DuckDB FULL OUTER JOIN.
_DIFF_MOD_SQL = "CASE WHEN doc_id % 7 = 3 THEN text || ' rev2' ELSE text END"


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release audit in one frame, keyed by ``scope`` (the
    wellbeing_pipeline fold pattern): ``scope='diff'`` rows are the
    per-doc :func:`..operators.corpus_diff.corpus_diff` table;
    ``scope='datasheet'`` rows are the NEW release's
    :func:`..operators.report.corpus_report` rollup (exact mode) —
    per (lang, source) cohort, per lang, and global, with the planted
    verbatim duplicate making ``n_unique < n_docs`` load-bearing.
    Round 14: the datasheet fold gives corpus_report its driver-
    oracle evidence (VERDICT r13 #2) — the two operators share the
    release workflow (diff the versions, datasheet the new one), so
    one registry row carries both. Numeric columns are cast DOUBLE in
    both engines: each is NULL on the other branch, and
    nullable-int-to-float pandas coercion differs between the engines'
    drivers (counts here are far below 2^53, so double is exact)."""
    from ..caching import lazy_checkpoint
    from ..operators.corpus_diff import corpus_diff
    from ..operators.report import corpus_report

    # one checkpointed scan feeds the three release branches; the
    # assembled new release feeds two consumers (diff + datasheet) —
    # the funnel's round-9 reuse discipline (round-14 review)
    docs = lazy_checkpoint(_docs(spark, sf_dir))
    old = docs.select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id", F.expr(_DIFF_MOD_SQL).alias("text"), "lang", "source"
    )
    added = docs.filter(F.col("doc_id") % 9 == 1).select(
        (F.col("doc_id") + 40000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" fresh doc")).alias("text"),
        "lang",
        "source",
    )
    dup = base.filter(F.col("doc_id") % 13 == 5)
    new = lazy_checkpoint(base.unionByName(added).unionByName(dup))
    diff = corpus_diff(old, new.select("doc_id", "text"))
    sheet = corpus_report(new, exact=True)
    null_s = F.lit(None).cast("string")
    null_d = F.lit(None).cast("double")
    diff_w = diff.select(
        F.lit("diff").alias("scope"),
        F.col("doc_id").cast("double").alias("doc_id"),
        "status",
        "old_fingerprint",
        "new_fingerprint",
        null_s.alias("lang"),
        null_s.alias("source"),
        null_d.alias("level"),
        null_d.alias("n_docs"),
        null_d.alias("n_tokens"),
        null_d.alias("n_chars"),
        null_d.alias("n_unique"),
        null_d.alias("p50_tokens"),
        null_d.alias("p90_tokens"),
        null_d.alias("mean_quality"),
    )
    sheet_w = sheet.select(
        F.lit("datasheet").alias("scope"),
        null_d.alias("doc_id"),
        null_s.alias("status"),
        null_s.alias("old_fingerprint"),
        null_s.alias("new_fingerprint"),
        "lang",
        "source",
        F.col("level").cast("double").alias("level"),
        F.col("n_docs").cast("double").alias("n_docs"),
        F.col("n_tokens").cast("double").alias("n_tokens"),
        F.col("n_chars").cast("double").alias("n_chars"),
        F.col("n_unique").cast("double").alias("n_unique"),
        F.col("p50_tokens").cast("double").alias("p50_tokens"),
        F.col("p90_tokens").cast("double").alias("p90_tokens"),
        "mean_quality",
    )
    return diff_w.unionByName(sheet_w)


ORACLE_CORPUS_DIFF = f"""
WITH old AS (
  SELECT doc_id, md5({_NORM.format(t='text')}) AS fp FROM documents
),
base AS (
  SELECT doc_id, {_DIFF_MOD_SQL} AS text, lang, source
  FROM documents WHERE doc_id % 11 <> 0
),
new_all AS (
  SELECT doc_id, text, lang, source FROM base
  UNION ALL
  SELECT doc_id + 40000 AS doc_id, text || ' fresh doc' AS text, lang, source
  FROM documents WHERE doc_id % 9 = 1
  UNION ALL
  SELECT doc_id, text, lang, source FROM base WHERE doc_id % 13 = 5
),
new AS (
  -- agreeing duplicates collapse to min(fp) == the shared fp (the
  -- operator RAISES on conflicting duplicates; none are planted)
  SELECT doc_id, min(md5({_NORM.format(t='text')})) AS fp
  FROM new_all GROUP BY doc_id
),
-- corpus_report mirror (operators/report.py, exact mode) over the
-- NEW release: one ROLLUP pass — the datasheet branch of the fold
sheet_base AS (
  SELECT lang, source,
         {_Q_NT} AS tok,
         length(coalesce(text, '')) AS len,
         md5({_N}) AS fp,
         CAST(length(text) >= 100 AND length(text) <= 20000 AS DOUBLE) * 0.25
         + CAST({_Q_MEAN} >= 3.0 AND {_Q_MEAN} <= 12.0 AS DOUBLE) * 0.25
         + CAST({_Q_PUNCT} <= 0.2 AS DOUBLE) * 0.25
         + CAST({_hits_sql('en')} >= 1 AS DOUBLE) * 0.25 AS q
  FROM new_all
)
SELECT 'diff' AS scope,
       CAST(coalesce(o.doc_id, n.doc_id) AS DOUBLE) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN o.fp = n.fp THEN 'unchanged'
            ELSE 'modified' END AS status,
       o.fp AS old_fingerprint,
       n.fp AS new_fingerprint,
       CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS VARCHAR) AS source,
       CAST(NULL AS DOUBLE) AS level,
       CAST(NULL AS DOUBLE) AS n_docs,
       CAST(NULL AS DOUBLE) AS n_tokens,
       CAST(NULL AS DOUBLE) AS n_chars,
       CAST(NULL AS DOUBLE) AS n_unique,
       CAST(NULL AS DOUBLE) AS p50_tokens,
       CAST(NULL AS DOUBLE) AS p90_tokens,
       CAST(NULL AS DOUBLE) AS mean_quality
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
UNION ALL
SELECT 'datasheet' AS scope,
       CAST(NULL AS DOUBLE) AS doc_id,
       CAST(NULL AS VARCHAR) AS status,
       CAST(NULL AS VARCHAR) AS old_fingerprint,
       CAST(NULL AS VARCHAR) AS new_fingerprint,
       lang, source,
       CAST(GROUPING(lang, source) AS DOUBLE) AS level,
       CAST(count(*) AS DOUBLE) AS n_docs,
       CAST(SUM(tok) AS DOUBLE) AS n_tokens,
       CAST(SUM(len) AS DOUBLE) AS n_chars,
       CAST(count(DISTINCT fp) AS DOUBLE) AS n_unique,
       quantile_cont(tok, 0.5) AS p50_tokens,
       quantile_cont(tok, 0.9) AS p90_tokens,
       CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS mean_quality
FROM sheet_base GROUP BY ROLLUP (lang, source)
"""


QUERIES = {
    "top_terms": (q_top_terms, ORACLE_TOP_TERMS),
    "dedup_exact": (q_dedup_exact, ORACLE_DEDUP_EXACT),
    "quality_score": (q_quality_score, ORACLE_QUALITY_SCORE),
    "substring_dedup": (q_substring_dedup, ORACLE_SUBSTRING_DEDUP),
    "doc_fingerprint": (q_doc_fingerprint, ORACLE_DOC_FINGERPRINT),
    "minhash_lsh_dedup": (q_minhash_lsh_dedup, ORACLE_MINHASH),
    "dedup_clusters": (q_dedup_clusters, ORACLE_DEDUP_CLUSTERS),
    "simhash_dedup": (q_simhash_dedup, ORACLE_SIMHASH),
    "ngram_jaccard": (q_ngram_jaccard, ORACLE_NGRAM_JACCARD),
    "corpus_funnel": (q_corpus_funnel, ORACLE_CORPUS_FUNNEL),
    "term_stats": (q_term_stats, ORACLE_TERM_STATS),
    "corpus_diff": (q_corpus_diff, ORACLE_CORPUS_DIFF),
}
