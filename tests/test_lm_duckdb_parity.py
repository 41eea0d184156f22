"""DuckDB parity for the CCNet-style LM perplexity filter. Training:
the engine's count tables, N and V must equal counts DuckDB takes
directly over the same token pairs. Scoring: the interpolated-bigram
formula re-expressed in plain SQL over the SAME trained count tables
must reproduce the engine's per-doc perplexities and kept set on the
harness corpus — the cross-engine evidence the boilerplate stage
already has (`tests/test_boilerplate.py:72`)."""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from open_data_pipelines_spark.operators.lm_score import (
    perplexity_filter,
    perplexity_score,
    train_ngram_lm,
)
from open_data_pipelines_spark.session import load_tables

from conftest import SF_SMOKE


def _pairs_sql(where: str = "") -> str:
    """(doc_id, prev, tok) with the BOS sentinel, tokenized as the
    engine does (ASCII-whitespace split, empty tokens dropped)."""
    return f"""
        SELECT doc_id,
               list_prepend('<s>', toks)[i] AS prev,
               toks[i] AS tok
        FROM (
          SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
          FROM (
            SELECT doc_id,
                   list_filter(
                     string_split_regex(trim(lower(text)), '\\s+'), t -> t <> ''
                   ) AS toks
            FROM documents {where}
          )
        )
    """


def _rows(con, sql: str) -> set:
    return set(con.execute(sql).fetchall())


def _assert_training_tables(con, lm) -> None:
    """c(tok), c(prev, tok), c(prev), N and V counted directly over the
    reference pairs must equal the engine's trained tables exactly."""
    con.execute(f"CREATE TABLE ref_pairs AS {_pairs_sql('WHERE doc_id % 10 = 0')}")
    want_uni = _rows(
        con, "SELECT tok, CAST(count(*) AS BIGINT) FROM ref_pairs GROUP BY tok"
    )
    want_bi = _rows(con, """
        WITH b AS (SELECT prev, tok, count(*) AS n FROM ref_pairs GROUP BY prev, tok),
             p AS (SELECT prev, count(*) AS n FROM ref_pairs GROUP BY prev)
        SELECT b.prev, b.tok, CAST(b.n AS BIGINT), CAST(p.n AS BIGINT)
        FROM b JOIN p USING (prev)
    """)
    n, v = con.execute(
        "SELECT count(*), count(DISTINCT tok) FROM ref_pairs"
    ).fetchone()

    assert {tuple(r) for r in lm.unigrams.select("tok", "uni_n").collect()} == want_uni
    assert {
        tuple(r) for r in lm.bigrams.select("prev", "tok", "bi_n", "prev_n").collect()
    } == want_bi
    assert (lm.n_tokens, lm.vocab_size) == (n, v)
    assert len(want_uni) == v and len(want_bi) > v  # the corpus is non-trivial


def test_duckdb_parity_on_harness_corpus(spark):
    docs = load_tables(spark, SF_SMOKE, register_views=False)["documents"]
    ref = docs.filter(F.col("doc_id") % 10 == 0)
    lm = train_ngram_lm(ref, "text")

    engine = {
        r["doc_id"]: r["perplexity"]
        for r in perplexity_score(docs, "text", "doc_id", lm).collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    _assert_training_tables(con, lm)
    con.register("uni", lm.unigrams.toPandas())
    con.register(
        "bi", lm.bigrams.select("prev", "tok", "bi_n", "prev_n").toPandas()
    )
    uni_denom = lm.n_tokens + lm.alpha * (lm.vocab_size + 1)
    oracle = con.execute(f"""
        WITH pairs AS ({_pairs_sql()}),
        scored AS (
          SELECT p.doc_id,
                 ln(
                   {lm.lam} * CASE WHEN b.bi_n IS NOT NULL
                                   THEN CAST(b.bi_n AS DOUBLE) / CAST(b.prev_n AS DOUBLE)
                                   ELSE 0.0 END
                   + {1.0 - lm.lam}
                     * ((CAST(COALESCE(u.uni_n, 0) AS DOUBLE) + {lm.alpha}) / {uni_denom})
                 ) AS lp
          FROM pairs p
          LEFT JOIN uni u ON u.tok = p.tok
          LEFT JOIN bi b ON b.prev = p.prev AND b.tok = p.tok
        )
        SELECT doc_id, exp(-avg(lp)) AS perplexity FROM scored GROUP BY doc_id
    """).df()
    oracle_ppl = dict(zip(oracle["doc_id"], oracle["perplexity"]))

    scored_ids = {d for d, p in engine.items() if p is not None and not pd.isna(p)}
    assert scored_ids == set(oracle_ppl)
    for d in scored_ids:
        a, b = engine[d], oracle_ppl[d]
        assert abs(a - b) <= 1e-9 * max(abs(a), abs(b), 1.0), (d, a, b)

    # threshold at the median midpoint of the scored distribution, with
    # a boundary-distance guard: no doc's perplexity may sit within
    # float-noise reach of the cut, so kept-set parity can never flip
    # on libm/summation-order differences (the flake class the
    # repo's cross-engine oracle notes warn about)
    ppls = sorted(oracle_ppl.values())
    thr = (ppls[len(ppls) // 2 - 1] + ppls[len(ppls) // 2]) / 2
    assert min(abs(p - thr) for p in ppls) > 1e-6

    kept_engine = {
        r["doc_id"]
        for r in perplexity_filter(docs, "text", "doc_id", lm, thr).collect()
    }
    kept_oracle = {d for d, p in oracle_ppl.items() if p <= thr}
    assert kept_engine == kept_oracle
    # the threshold actually splits the corpus (parity over a trivial
    # all-kept/all-dropped set would prove nothing)
    assert 0 < len(kept_oracle) < len(engine)
