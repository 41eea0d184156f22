"""Benchmark decontamination: word n-gram overlap between a training
corpus and an eval/benchmark set (engine extension for training-data
pipelines; BASELINE.json north-star).

The standard pre-training hygiene check: a training document that
shares enough contiguous n-grams with a benchmark item can leak the
benchmark into the model. The industry-default detector is exact
n-gram collision (GPT-3/PaLM-style 8-13-gram overlap), which is what
this implements — NOT similarity search: a single shared long n-gram
is already a hit.

Scale design (the asymmetry is the whole trick): the corpus is the
100 TB side, the benchmark is small (eval suites are 1e3-1e6 items →
1e5-1e8 distinct n-grams). So:

1. the corpus side is ONE projection pass — shingle each doc,
   ``array_distinct``, explode; never shuffled on its own;
2. the benchmark n-gram set is broadcast; the probe is a broadcast
   hash semi-join against the exploded corpus shingles — matched rows
   only (normally a vanishing fraction) flow into the per-doc
   aggregate, so the groupBy shuffles matches, not the corpus;
3. the doc-level verdict joins back as a broadcast left join onto the
   (id, n_shingles) projection.

Net shuffles on the big side: zero.

Shingles and hashes reuse the MinHash machinery
(:mod:`.text_dedup`), defaulting to the cross-engine md5 path so the
whole operator is DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text_dedup import word_shingles


def _doc_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    sh = F.array_distinct(word_shingles(text_col, n))
    return df.select(F.col(id_col), sh.alias("__sh"))


def ngram_contamination(
    docs: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    bench_id_col: str = "bench_id",
    n: int = 8,
) -> DataFrame:
    """Per-document contamination report against a benchmark set.

    The join keys are the exact n-gram strings, so the whole report is
    DuckDB-mirrorable. Both the benchmark n-gram set and ``hits`` (one
    row per CONTAMINATED corpus doc) are broadcast.

    Returns one row per corpus doc:
    ``(id, n_shingles, n_hit_shingles, n_bench_docs_hit,
    contamination_rate)`` where ``contamination_rate`` =
    hit/total distinct n-grams (0.0 when the doc has < n tokens).
    Filter ``n_hit_shingles > 0`` (any shared n-gram) or threshold the
    rate by policy; docs shorter than n tokens have no n-grams and
    report clean — align ``n`` with the quality filter's minimum
    length upstream.
    """
    bt = bench_text_col or text_col
    doc_sh = _doc_shingles(docs, text_col, id_col, n)
    bench_sh = F.broadcast(
        _doc_shingles(bench, bt, bench_id_col, n)
        .select(F.col(bench_id_col), F.explode("__sh").alias("__s"))
        .distinct()
    )

    hits = (
        doc_sh.select(F.col(id_col), F.explode("__sh").alias("__s"))
        .join(bench_sh, "__s")
        .groupBy(id_col)
        .agg(
            # a doc shingle hitting k bench docs is one contaminated
            # shingle, not k — count distinct shingles, not join rows
            F.countDistinct("__s").alias("n_hit_shingles"),
            F.countDistinct(bench_id_col).alias("n_bench_docs_hit"),
        )
    )
    base = doc_sh.select(F.col(id_col), F.size("__sh").alias("n_shingles"))
    return base.join(F.broadcast(hits), id_col, "left").select(
        id_col,
        "n_shingles",
        F.coalesce("n_hit_shingles", F.lit(0)).alias("n_hit_shingles"),
        F.coalesce("n_bench_docs_hit", F.lit(0)).alias("n_bench_docs_hit"),
        F.when(F.col("n_shingles") > 0, F.coalesce("n_hit_shingles", F.lit(0)) / F.col("n_shingles"))
        .otherwise(F.lit(0.0))
        .alias("contamination_rate"),
    )


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    bench_id_col: str = "bench_id",
    n: int = 8,
    max_rate: float = 0.0,
) -> DataFrame:
    """Drop contaminated docs (rate > ``max_rate``; the default 0.0
    drops on ANY shared n-gram — the conservative pre-training
    default). Anti-join form of :func:`ngram_contamination`: only the
    contaminated id set (usually small) is computed and broadcast.

    ``max_rate == 0.0`` takes a cheaper route (round 15): "drop on
    ANY shared n-gram" needs no rates, so the per-doc counting
    aggregation and the ``(id, n_shingles)`` base projection + join
    drop away — ``bad`` is just the distinct ids of the
    shingle-semi-join matches. Semantics identical
    (``contamination_rate > 0  <=>  n_hit_shingles >= 1  <=>  any
    shared shingle``; sub-n-token docs produce no shingle rows and
    are kept on both routes — pinned by
    tests/test_contamination.py::test_decontaminate_fast_path_equals_report_path),
    one fewer pass over the corpus and one fewer shuffle — interleaved
    same-session A/B on the sf0.1 documents table: 3.06 s vs 11.23 s
    (STRESS.md round 15)."""
    if max_rate == 0.0:
        bt = bench_text_col or text_col
        bench_sh = F.broadcast(
            _doc_shingles(bench, bt, bench_id_col, n)
            .select(F.explode("__sh").alias("__s"))
            .distinct()
        )
        bad = (
            docs.select(F.col(id_col), F.explode(word_shingles(text_col, n)).alias("__s"))
            .join(bench_sh, "__s")
            .select(id_col)
            .distinct()
        )
    else:
        bad = (
            ngram_contamination(docs, bench, text_col, id_col, bench_text_col, bench_id_col, n)
            .filter(F.col("contamination_rate") > F.lit(max_rate))
            .select(id_col)
        )
    return docs.join(F.broadcast(bad), id_col, "left_anti")


def lsh_banding_for(
    threshold: float,
    target_recall: float = 0.9999,
    rescore_cost: float = 2000.0,
) -> tuple[int, int]:
    """(planes, tables) minimizing total work for RP-LSH banding at a
    cosine ``threshold``, subject to per-pair recall >= ``target_recall``
    AT the threshold (pairs above it only do better).

    Cost model per corpus row: ``planes * tables`` bucket-hash units
    plus ``unrelated_rate * rescore_cost`` candidate-rescore units,
    where unrelated_rate ~ (0.5^planes) * tables and rescore_cost is
    the measured ratio of one exact-cosine rescore (join + dot
    product) to one plane hash (~2e3 on this engine — STRESS.md round
    12 measured BOTH failure modes: planes=8/tables=32 drowned in 12M
    candidates at a 0.999 threshold, 70 s vs 29 s brute force, while
    planes=32/tables=10 paid 99 s of pure hash-expression work where
    a (16, 8)-shaped choice ran in 12 s). The search is a 6..20-plane
    sweep with the recall-minimal table count per plane — exhaustive,
    deterministic, microseconds. Examples: t=0.999 -> (10, 5);
    t=0.95 -> (9, 20)."""
    import math

    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    p = 1.0 - math.acos(threshold) / math.pi
    best = None
    for planes in range(6, 21):
        per_table = p ** planes
        if per_table >= 1.0:
            continue
        tables = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - per_table)))
        cost = planes * tables + (0.5 ** planes) * tables * rescore_cost
        if best is None or cost < best[0]:
            best = (cost, planes, tables)
    return best[1], best[2]


def embedding_contamination(
    doc_vecs: DataFrame,
    bench_vecs: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bench_vec_col: str | None = None,
    bench_id_col: str = "bench_id",
    threshold: float = 0.95,
    planes: int | None = None,
    tables: int | None = None,
    seed: int = 42,
    exact: bool = False,
) -> DataFrame:
    """Per-document SEMANTIC contamination: ``(id_col, bench_id,
    cosine)`` for every corpus vector whose cosine to some benchmark
    vector clears ``threshold`` — the embedding-similarity
    counterpart of :func:`ngram_contamination` (paraphrased or
    reformatted eval items share no 8-gram but sit next to their
    source in embedding space).

    Scale shape mirrors :func:`..operators.similarity.rp_lsh_candidates`
    with the BENCHMARK as the broadcast side (eval suites are
    dim-sized): both sides band into multi-table RP-LSH buckets, the
    equi-join replaces the |docs| x |bench| product, survivors
    rescore with exact cosine. No self-pair filter — doc and bench
    ids live in different namespaces, so equal values are legitimate
    pairs (the reason this does not reuse rp_lsh_candidates
    verbatim). Banding parameters are a function of the TARGET
    SIMILARITY: by default they are DERIVED from ``threshold``
    (:func:`lsh_banding_for` — planes sized so a threshold-grade
    twin keeps per-table collision probability >= ~0.3, tables sized
    for >= 0.9999 per-pair recall at exactly the threshold), because
    no fixed pair works across regimes — the generic planes=8/
    tables=32 left 12M of 100M unrelated pairs standing at a 0.999
    threshold (slower than brute force), while a hand-tuned
    planes=16/tables=8 silently dropped recall to ~0.80 at
    threshold 0.95 (both measured/caught in round 12, STRESS.md).
    Pass ``planes``/``tables`` explicitly only with the curve
    1-(1-p^planes)^tables in hand.
    ``exact=True`` swaps in the brute-force
    broadcast cross product — the oracle form for tests and small
    benches, quadratic in |bench| x |docs|, never the 100 TB path.
    """
    from .similarity import cosine, rp_lsh_buckets

    if planes is None or tables is None:
        d_planes, d_tables = lsh_banding_for(threshold)
        planes = d_planes if planes is None else planes
        tables = d_tables if tables is None else tables

    bvec = bench_vec_col or vec_col
    bench_side = bench_vecs.select(
        F.col(bench_id_col).alias("bench_id"), F.col(bvec).alias("__bv")
    )
    docs_side = doc_vecs.select(F.col(id_col), F.col(vec_col).alias("__dv"))
    if exact:
        pairs = docs_side.crossJoin(F.broadcast(bench_side))
    else:
        d = doc_vecs.select(
            F.col(id_col),
            F.posexplode(rp_lsh_buckets(F.col(vec_col), planes, tables, seed)).alias(
                "__tbl", "__bkt"
            ),
        )
        b = bench_vecs.select(
            F.col(bench_id_col).alias("bench_id"),
            F.posexplode(rp_lsh_buckets(F.col(bvec), planes, tables, seed)).alias(
                "__tbl", "__bkt"
            ),
        )
        cand = (
            d.join(F.broadcast(b), ["__tbl", "__bkt"])
            .select(id_col, "bench_id")
            .distinct()
        )
        # vectors re-join by id AFTER banding (only ids rode the
        # explode); bench vectors broadcast again — dim-sized
        pairs = cand.join(docs_side, id_col).join(F.broadcast(bench_side), "bench_id")
    scored = pairs.select(
        id_col, "bench_id", cosine(F.col("__dv"), F.col("__bv")).alias("cosine")
    ).filter(F.col("cosine") >= F.lit(threshold))
    return scored


def decontaminate_semantic(
    docs: DataFrame,
    doc_vecs: DataFrame,
    bench_vecs: DataFrame,
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    threshold: float = 0.95,
    **kwargs,
) -> DataFrame:
    """Drop documents whose embedding sits within ``threshold`` cosine
    of any benchmark embedding — anti-join form of
    :func:`embedding_contamination` (the flagged id set is usually
    dim-sized and is broadcast)."""
    bad = (
        embedding_contamination(
            doc_vecs, bench_vecs, id_col=vec_id_col, threshold=threshold, **kwargs
        )
        .select(F.col(vec_id_col).alias(doc_id_col))
        .distinct()
    )
    return docs.join(F.broadcast(bad), doc_id_col, "left_anti")
