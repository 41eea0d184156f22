"""Near-duplicate detection: exact, MinHash+LSH, SimHash, n-gram
Jaccard (engine extensions for training-data pipelines; BASELINE.json
north-star).

Scale design (the point of each step):

- **exact**: one hash-groupBy on a fingerprint — cheapest possible,
  map-side combinable, no window.
- **MinHash+LSH**: shingle -> k minhashes -> band buckets ->
  *equi-join on (band, band_hash)* -> verify candidates with true
  Jaccard. The band equi-join is the scale move: candidate generation
  is a hash shuffle whose key cardinality grows with corpus size, so
  no all-pairs product ever materializes. k and bands tune
  recall/precision as usual (b bands of r rows ~ threshold (1/b)^(1/r)).
- **SimHash**: per-doc constant-width bit signature -> group by
  signature (or banded sub-signatures) -> verify. One scan + one
  shuffle.
- **n-gram Jaccard**: the exact verifier used by both, also exposed
  standalone.

Hashes default to the cross-engine-portable md5-based
:func:`stable_long_hash` so every step is DuckDB-oracle-checkable;
pass ``fast=True`` for xxhash64 (JVM-native, no md5 string cost) in
production runs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame

from pyspark.sql import functions as F

from ..functions.exprmemo import memo_column

from ..caching import lazy_checkpoint

from .text_analysis import doc_fingerprint, whitespace_tokens


def scale_out(
    df: DataFrame,
    key: str | Sequence[str] | None = None,
    fence: bool = False,
) -> DataFrame:
    """Ensure CPU-heavy per-row work fans out across all cores.

    A single parquet file scans as 1-2 input partitions; hashing
    thousands of shingles per row then runs on 2 of 32 cores. When the
    input has fewer partitions than the cluster's default parallelism,
    repartition (by key — one column name or a sequence — if given:
    keeps later same-key shuffles cheap, and a repartition on a
    window/groupBy's exact keys SATISFIES its distribution so no
    second exchange appears). No-op when the scan is already wide (the
    100 TB case: file splits provide parallelism for free).

    ``fence=True`` additionally caps the repartition with a pushdown
    fence (a one-element ``explode(array(struct(...)))`` — the
    annotate_text barrier): the optimizer pushes FILTERS through a
    repartition, so an expensive predicate built above the spread
    (the corpus URL gate) silently re-sinks onto the narrow input —
    exactly the serialization the spread exists to break (round-15
    event log: the gate ran 1.6 s on one core below the exchange).
    The fence is only applied when the repartition actually happens,
    so wide-input (100 TB) plans are byte-identical with or without
    it.

    CALLER CONTRACT (round-16, VERDICT r15): the partition probe
    compiles the frame's physical plan, and under AQE a plan with
    EXCHANGES below the probed node materializes its child stages at
    compile time — i.e. probing a deep mid-pipeline frame EXECUTES
    the upstream segment per call. Only call this on scan-rooted or
    checkpoint-rooted frames (a parquet scan, a ``lazy_checkpoint``
    output, or a projection/filter over one); mid-pipeline consumers
    that cannot guarantee that must stay opt-out (the funnel's exact
    dedup site does, see ``dedup_exact_text``).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    # JVM-side partition probe: df.rdd would wrap the plan in a fresh
    # Python-serialization RDD (an extra plan + py4j conversion per
    # call, ~0.1-1.2 s of driver work); queryExecution().toRdd() reads
    # the same partition count off the compiled physical plan directly
    # (round-15 optimization — measured, no job runs either way)
    if df._jdf.queryExecution().toRdd().getNumPartitions() >= target:
        return df
    keys = [key] if isinstance(key, str) else list(key or [])
    out = df.repartition(target, *keys) if keys else df.repartition(target)
    if fence:
        out = out.select(
            F.explode(
                F.array(F.struct(*[F.col(c) for c in out.columns]))
            ).alias("__fence")
        ).select("__fence.*")
    return out


@memo_column
def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles; empty array when fewer than n tokens."""
    toks = whitespace_tokens(col)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


_MERSENNE_31 = 2147483647  # prime modulus for universal hashing


def _affine_params(perm: int) -> tuple[int, int]:
    """Deterministic (a, b) per permutation; a odd so the map is a
    bijection mod 2^k components and products stay < 2^63 (base hash
    is 52 bits, a < 2^10)."""
    return 2 * perm + 1, 1000003 * perm + 12345


def _base_hash(s: Column, fast: bool) -> Column:
    """One hash per shingle (52-bit). Permutations derive from this via
    affine maps — k permutations cost ONE md5, not k (the md5 string
    pass dominates minhash cost otherwise)."""
    if fast:
        return F.shiftrightunsigned(F.xxhash64(s), 12)  # 52 bits, non-negative
    return F.conv(F.substring(F.md5(s), 1, 13), 16, 10).cast("long")


def _shingle_hash(s: Column, perm: int, fast: bool) -> Column:
    a, b = _affine_params(perm)
    return (F.lit(a) * _base_hash(s, fast) + F.lit(b)) % F.lit(_MERSENNE_31)


@memo_column
def base_hashes(shingles: Column | str, fast: bool = False) -> Column:
    return F.transform(shingles, lambda s: _base_hash(s, fast))


@memo_column
def minhash_signature_from_base(base: Column | str, k: int = 8) -> Column:
    """Array of k min-hashes from pre-computed base hashes
    ((a_j * h + b_j) mod M — universal hashing, cross-engine exact)."""
    sigs = []
    for j in range(k):
        a, b = _affine_params(j)
        sigs.append(
            F.array_min(
                F.transform(base, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(_MERSENNE_31))
            )
        )
    return F.array(*sigs)


@memo_column
def lsh_bands(signature: Column | str, bands: int, rows: int) -> list[Column]:
    """One hash per band over ``rows`` consecutive signature slots.
    Memoized (round 16): the 4-band md5/concat forest is ~50 py4j
    round-trips rebuilt identically per query construction; name-keyed
    calls return the cached (immutable, unresolved) Column list."""
    out = []
    for b in range(bands):
        slots = [F.element_at(signature, b * rows + r + 1) for r in range(rows)]
        out.append(F.md5(F.concat_ws("|", *[s.cast("string") for s in slots])).alias(f"band_{b}"))
    return out


def dedup_exact_text(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id representative per identical (normalized)
    text: fingerprint projection + :func:`~.dedup.top1_per_key` — one
    hash shuffle, one per-group sort, one fingerprint pass."""
    from .dedup import top1_per_key

    keyed = df.withColumn("__fp", doc_fingerprint(text_col))
    # default spread=False: this operator sits mid-pipeline on deep
    # corpus plans (the funnel spreads its input once, upstream);
    # top1's narrow-input probe would re-compile — and, under AQE,
    # eagerly re-execute — the whole upstream segment per call (r15)
    return top1_per_key(keyed, ["__fp"], [F.col(id_col).asc()]).drop("__fp")


def shingle_corpus(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, shingles) corpus, cached for reuse — the shared input of
    candidate generation and Jaccard verification, via the repo's
    lazy-localCheckpoint convention (``caching.py``): materialized on
    first use, blocks reclaimed by the ContextCleaner when the result
    frames are garbage-collected. The previous bare internal
    ``persist`` registered in the CacheManager with a handle no
    caller ever received — one pinned corpus-scale cache per funnel
    run for the session lifetime (round-9 review find)."""
    return lazy_checkpoint(
        scale_out(df, id_col).select(
            F.col(id_col), word_shingles(text_col, n).alias("__sh")
        )
    )


def candidates_from_shingled(
    shingled: DataFrame,
    id_col: str,
    k: int = 8,
    bands: int = 4,
    fast: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) sharing >= 1 band.

    Docs with NO shingles are excluded before banding: their all-NULL
    signatures would otherwise share one md5('') band bucket and pair
    every short doc with every other (quadratic blowup on corpora with
    many sub-n-token rows). The signature projection is persisted so
    the k minhash scans aren't re-evaluated per join side.

    ``max_bucket_size`` is the heavy-hitter guard for skewed corpora:
    a band bucket holding f*N docs (mass boilerplate / mass duplicates)
    emits ~(f*N)^2/2 pairs — at f=0.3 that is quadratic in corpus size
    and no join strategy fixes it, because the OUTPUT is quadratic.
    Buckets above the cap are excluded via an anti-join on the
    (band_id, band_hash) key the banding is already partitioned by.
    The standard pipeline composition makes this lossless in practice:
    run exact dedup (full-text hash, :func:`dedup_exact`) FIRST — it
    collapses identical texts that mega-buckets are made of in one
    linear pass — then LSH with a cap handles the near-dup tail.
    Audit what a cap would drop with :func:`band_bucket_stats`.
    """
    rows = k // bands
    sig = (
        shingled.filter(F.size("__sh") > 0)
        # stage expensive pieces as real columns so each is evaluated
        # once: shingles -> base hashes -> k cheap affine minima
        .select(F.col(id_col), base_hashes("__sh", fast).alias("__bh"))
        .select(F.col(id_col), minhash_signature_from_base("__bh", k).alias("__sig"))
    )
    banded = sig.select(
        id_col,
        F.posexplode(F.array(*lsh_bands("__sig", bands, rows))).alias(
            "band_id", "band_hash"
        ),
    )
    # Checkpoint policy (round 16, measured interleaved A/B + event
    # log): WITHOUT a bucket cap the only consumers are the two self-
    # join sides, and the join's planner-inserted exchanges on
    # (band_id, band_hash) are canonically identical — runtime
    # exchange reuse executes the banding computation ONCE either way,
    # so the checkpoint bought nothing but a segment compile and a
    # materialization job (minhash pass: 21 -> 19 jobs, gap time
    # ~2.3 -> ~1.3 s/pass with this and the jaccard change below).
    # WITH a cap there is a third consumer keyed the same way (the
    # hot-bucket rollup) plus the anti-join probe side, which is NOT
    # exchange-aligned — without a reuse point it would re-run the
    # md5 banding forest once more, so the cap path keeps the
    # checkpoint.
    if max_bucket_size is not None:
        banded = lazy_checkpoint(banded)
        hot = (
            banded.groupBy("band_id", "band_hash")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") > max_bucket_size)
            .select("band_id", "band_hash")
        )
        # heavy hitters are few by definition (<= N/cap buckets, in
        # practice a handful) -> broadcast anti-join, no extra shuffle
        # of the banded rows
        banded = banded.join(F.broadcast(hot), ["band_id", "band_hash"], "left_anti")
    a = banded.select(F.col(id_col).alias("id_a"), "band_id", "band_hash")
    b = banded.select(F.col(id_col).alias("id_b"), "band_id", "band_hash")
    # merge hint (round 16): both sides are the CORPUS-scale banded
    # frame — a broadcast here ships the whole banding to every
    # executor and computes it twice (the 800k-doc stress scenario
    # planned exactly that once the checkpoint stopped hiding the
    # size estimate, 8.5 -> 170 s). The sort-merge join's two
    # exchanges are canonically identical, so runtime exchange reuse
    # executes the banding once — the shape the checkpointed form
    # always had, minus the checkpoint.
    pairs = a.join(b.hint("merge"), ["band_id", "band_hash"]).filter(
        F.col("id_a") < F.col("id_b")
    )
    return pairs.select("id_a", "id_b").distinct()


def band_bucket_stats(
    shingled: DataFrame,
    id_col: str,
    k: int = 8,
    bands: int = 4,
    fast: bool = False,
    min_size: int = 2,
) -> DataFrame:
    """(band_id, band_hash, bucket_size) for band buckets holding >=
    ``min_size`` docs — the skew audit for :func:`candidates_from_shingled`:
    the top rows are exactly the buckets a ``max_bucket_size`` cap
    would drop, and sum(n*(n-1)/2) over them is the candidate-pair
    mass they would have emitted."""
    rows = k // bands
    sig = (
        shingled.filter(F.size("__sh") > 0)
        .select(F.col(id_col), base_hashes("__sh", fast).alias("__bh"))
        .select(F.col(id_col), minhash_signature_from_base("__bh", k).alias("__sig"))
    )
    return (
        sig.select(
            id_col,
            F.posexplode(F.array(*lsh_bands("__sig", bands, rows))).alias(
                "band_id", "band_hash"
            ),
        )
        .groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") >= min_size)
    )


def jaccard_from_shingled(
    shingled: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Exact shingle-set Jaccard for the given (id_a, id_b) pairs.

    Distinct-shingle explode + equi-join — intersection counting is a
    hash join on shingle strings, never an all-pairs scan. Pairs whose
    side has zero shingles drop out via the inner size join.

    Scale shape: only docs that actually appear in ``pairs`` are
    exploded — a semi-join prunes the corpus first, so the shuffled
    shingle volume is bounded by the CANDIDATE set (typically a tiny
    fraction after LSH), not the corpus. ``pairs`` (consumed three
    times: id pruning, intersection, final join) is lazily
    checkpointed; the pruned corpus ``needed`` and the exploded
    shingles are NOT — their embeddings share canonically-identical
    exchanges that runtime exchange reuse executes once, and skipping
    the checkpoints avoids two segment compiles plus materializing the
    exploded shingle frame (the operator's largest intermediate) into
    block storage.
    """
    pairs = lazy_checkpoint(pairs)
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # No checkpoints on `needed`/`sh` (round 16, measured): their
    # consumers re-embed the semi-join/explode subtree, but the
    # EXPENSIVE parts — the exchanges under the semi-join — are
    # canonically identical across embeddings and runtime exchange
    # reuse executes them once; what re-runs per consumer is the
    # merge + explode/projection tail, cheaper than materializing the
    # EXPLODED shingle frame (the largest intermediate of the whole
    # operator) into checkpoint blocks plus two segment compiles.
    # Interleaved A/B won all cycles; at scale this also avoids
    # writing |candidates| x |shingles| rows to block storage.
    needed = shingled.join(cand_ids, id_col, "left_semi")
    sh = needed.select(
        F.col(id_col), F.explode(F.array_distinct(F.col("__sh"))).alias("__s")
    )
    # per-doc distinct-shingle count is a projection on the array —
    # NOT a groupBy over the exploded rows (which would shuffle
    # |docs| * |shingles| rows just to count them). Zero-shingle docs
    # are excluded to keep the historical inner-join contract: pairs
    # with an empty side drop out.
    sizes = needed.select(
        F.col(id_col), F.size(F.array_distinct(F.col("__sh"))).alias("__n")
    ).filter(F.col("__n") > 0)

    a = sh.select(F.col(id_col).alias("id_a"), "__s")
    b = sh.select(F.col(id_col).alias("id_b"), "__s")
    # merge hints (round 16): the exploded-shingle sides scale with
    # |candidates| x |shingles| — the largest frames in the operator;
    # broadcasting either (which the planner's post-checkpoint-removal
    # size estimates chose at the 800k stress size) is never right.
    inter = (
        pairs.join(a.hint("merge"), "id_a")
        .join(b.hint("merge"), ["id_b", "__s"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"))
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.coalesce("__inter", F.lit(0)).alias("intersection_size"),
            (
                F.coalesce("__inter", F.lit(0)).cast("double")
                / (F.col("__na") + F.col("__nb") - F.coalesce("__inter", F.lit(0))).cast("double")
            ).alias("jaccard"),
        )
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    fast: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs from raw text (shingles + banding)."""
    return candidates_from_shingled(
        shingle_corpus(df, text_col, id_col, n), id_col, k, bands, fast, max_bucket_size
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for the given pairs, from raw text."""
    return jaccard_from_shingled(shingle_corpus(df, text_col, id_col, n), pairs, id_col)


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.3,
    fast: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates -> exact Jaccard ->
    threshold. The shingled corpus is computed ONCE (persisted) and
    shared by both stages."""
    shingled = shingle_corpus(df, text_col, id_col, n)
    pairs = candidates_from_shingled(shingled, id_col, k, bands, fast, max_bucket_size)
    verified = jaccard_from_shingled(shingled, pairs, id_col)
    return verified.filter(F.col("jaccard") >= F.lit(threshold))


@memo_column
def simhash(col: Column | str, bits: int = 16, fast: bool = False) -> Column:
    """Frequency-weighted SimHash over whitespace tokens.

    bit_i = 1 iff sum over tokens of (+1 if token-hash bit i set else
    -1) > 0. Pure array expressions — one pass, no shuffle.
    """
    toks = whitespace_tokens(col)
    hashes = F.transform(toks, lambda t: _shingle_hash(t, 0, fast))
    total = F.size(hashes)
    acc = F.lit(0).cast("long")
    for i in range(bits):
        ones = F.size(F.filter(hashes, lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1))
        bit_set = (ones * 2 - total) > 0
        acc = acc + F.when(bit_set, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
    return acc


def simhash_band_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 16,
    band_bits: int = 4,
    max_hamming: int | None = None,
    fast: bool = False,
) -> DataFrame:
    """Near-dup candidates within Hamming distance of each other's
    SimHash — banded: two signatures within distance d < bits/band_bits
    share at least one identical band (pigeonhole), so candidates come
    from an equi-join on (band_id, band_value), never a product.
    Optionally verify with an exact popcount Hamming filter.
    """
    n_bands = bits // band_bits
    sig = df.select(F.col(id_col), simhash(text_col, bits, fast).alias("__sh"))
    banded = sig.select(
        id_col,
        "__sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("__sh"), b * band_bits).bitwiseAND(
                        F.lit(2**band_bits - 1)
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band_id", "band_value"),
    )
    a = banded.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sa"), "band_id", "band_value")
    b = banded.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sb"), "band_id", "band_value")
    pairs = (
        a.join(b, ["band_id", "band_value"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__sa", "__sb")
        .distinct()
    )
    out = pairs.withColumn("hamming", F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))))
    if max_hamming is not None:
        out = out.filter(F.col("hamming") <= max_hamming)
    return out.select("id_a", "id_b", "hamming")
