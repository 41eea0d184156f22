"""Product quantization (PQ) for embedding search — the memory-side
scale path, completing the ANN family (:mod:`.similarity` RP-LSH,
:mod:`.ivf` cell probing; engine extension, the reference has no
vector search — SURVEY.md §2 extensions, BASELINE.json north-star).

At 100 TB the dominant ANN cost is *moving vectors*: a 1024-dim float
embedding is 4 KB/row, so candidate scoring drags TBs through the
shuffle. PQ stores an m-byte code per vector instead (here m
subspace codes of ``2^nbits`` centroids each): dim/ m-fold
compression, and approximate scoring that touches only codes.

Spark-first shape (no UDFs anywhere, mirrors :mod:`.ivf`):

- **Train** (:func:`train_pq`): per subspace, the same deterministic
  Lloyd loop as IVF training over the sliced vectors — m small models
  (m x 2^nbits x dim/m floats) on the driver, never data rows.
  Standard practice trains on a sample: pass ``train_fraction``.
- **Encode** (:func:`pq_encode`): nearest-centroid argmin per
  subspace with codebooks inlined as literals — a pure
  whole-stage-codegen projection, pipelined with the scan.
- **Score** (:func:`adc_scores`): asymmetric distance computation.
  Each QUERY precomputes a lookup table (LUT): the dot of its j-th
  subvector with every centroid of codebook j — m x 2^nbits doubles,
  computed once per query as an array expression. Scoring a candidate
  is then m array lookups + adds (vs dim multiplies for a true dot):
  the classic ADC trade, expressed entirely in Spark SQL functions.
- **Search** (:func:`pq_topk`): ADC-rank all (query, candidate)
  pairs, keep a ``rescore_factor * k`` shortlist per query, then
  exact-rescore the shortlist with :mod:`.similarity`'s quantized
  cosine and emit the ``brute_force_topk`` output contract. With
  approximation error bounded by the shortlist, recall@k is tunable
  by ``rescore_factor`` alone (pinned by test ≥ 0.9 at 4x).

Compose with IVF for the full 100 TB posture: probe cells first
(partition-pruned scan), ADC within cells, exact-rescore the
shortlist — candidates never ship raw vectors, only codes.
"""

from __future__ import annotations

import json
import warnings

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .index_commit import (
    _hadoop_fs,
    commit_generation,
    load_existing_index,
    read_index,
    require_manifest_target,
    resolve_index_path,
)
from .ivf import (
    _cell_dists,
    _write_layout,
    assign_list_id,
    global_mean_dist2,
    probe_list_ids,
    train_centroids,
)
from .similarity import as_double_array, dot_int, quantize

Codebooks = list[list[list[float]]]  # [subspace][centroid][component]

#: per-index properties sidecar, written INSIDE each generation
#: directory before its manifest pointer publishes, so every committed
#: generation carries its own. The leading underscore hides it from
#: Spark's parquet reader.
PQ_META_FILE = "_pq_meta.json"


def _write_pq_meta(spark, data_dir: str, nbits: int, m: int) -> None:
    """Persist the index's pinned code geometry next to its data.
    Write-once per directory: generations are immutable, and the meta
    never changes within one (appends encode with the same books)."""
    fs, hpath = _hadoop_fs(spark, data_dir)
    target = hpath(data_dir.rstrip("/") + "/" + PQ_META_FILE)
    if fs.exists(target):
        return
    out = fs.create(target, True)
    try:
        out.write(json.dumps({"nbits": nbits, "m": m}).encode("utf-8"))
    finally:
        out.close()


def read_pq_meta(spark, path: str) -> dict | None:
    """The committed index's persisted code geometry
    (``{"nbits", "m"}``), or None for a virgin path or an index
    written before the meta existed. Resolves the manifest generation
    first, so the answer always describes the data a reader would
    scan; raises on data outside the manifest layout
    (:func:`.index_commit.require_manifest_target`)."""
    if require_manifest_target(spark, path) is None:
        return None
    data_dir = resolve_index_path(spark, path)
    fs, hpath = _hadoop_fs(spark, data_dir)
    target = hpath(data_dir.rstrip("/") + "/" + PQ_META_FILE)
    if not fs.exists(target):
        return None
    stream = fs.open(target)
    try:
        raw = bytes(stream.readAllBytes())
    finally:
        stream.close()
    meta = json.loads(raw.decode("utf-8"))
    return {"nbits": int(meta["nbits"]), "m": int(meta["m"])}


def _subvec(vec: Column, j: int, dsub: int) -> Column:
    return F.slice(vec, j * dsub + 1, dsub)


def train_pq(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 8,
    nbits: int = 4,
    iters: int = 3,
    train_fraction: float | None = None,
) -> Codebooks:
    """m codebooks of ``2^nbits`` centroids over dim/m-sized
    subspaces. Vector dim must divide evenly by m (standard PQ
    constraint). ``train_fraction`` subsamples the training set by a
    deterministic hash of the id (the model stays reproducible)."""
    dim = len(corpus.select(as_double_array(vec_col).alias("v")).first()["v"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    v = corpus.select(
        F.col(id_col).alias("__id"), as_double_array(vec_col).alias("__v")
    )
    if train_fraction is not None:
        bound = int(train_fraction * (1 << 32))
        v = v.filter(F.pmod(F.xxhash64("__id"), F.lit(1 << 32)) < F.lit(bound))
    v = v.persist()
    try:
        books: Codebooks = []
        for j in range(m):
            sub = v.select("__id", _subvec(F.col("__v"), j, dsub).alias("__s"))
            books.append(
                train_centroids(sub, "__s", "__id", k=1 << nbits, iters=iters)
            )
    finally:
        v.unpersist()
    return books


def pq_encode(vec_col: Column | str, codebooks: Codebooks) -> Column:
    """array<int> of per-subspace nearest-centroid codes — a pure
    projection (codebooks are literals), no join or shuffle."""
    v = as_double_array(vec_col)
    dsub = len(codebooks[0][0])
    return F.array(
        *[
            F.array_min(_cell_dists(_subvec(v, j, dsub), book))["i"]
            for j, book in enumerate(codebooks)
        ]
    )


def _lut(qvec: Column, codebooks: Codebooks) -> Column:
    """Per-query ADC lookup table: LUT[j][c] = <q_sub_j, centroid_c>
    as array<array<double>> — m x 2^nbits dots, once per query."""
    dsub = len(codebooks[0][0])

    def dot_lit(sub: Column, cent: list[float]) -> Column:
        lit = F.array(*[F.lit(float(x)) for x in cent])
        return F.aggregate(
            F.zip_with(sub, lit, lambda x, c: x * c), F.lit(0.0), lambda a, x: a + x
        )

    return F.array(
        *[
            F.array(*[dot_lit(_subvec(qvec, j, dsub), c) for c in book])
            for j, book in enumerate(codebooks)
        ]
    )


def adc_scores(lut: Column, codes: Column, m: int) -> Column:
    """Approximate dot product: sum over subspaces of the LUT entry
    the candidate's code selects — m lookups + adds per pair."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(F.element_at(lut, j + 1), F.element_at(codes, j + 1) + 1),
    )


def pq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    codebooks: Codebooks,
    k: int = 5,
    rescore_factor: int = 4,
    code_col: str = "pq_code",
    quant_scale: int = 1000,
) -> DataFrame:
    """Top-k per query: ADC shortlist, exact rescore, brute-force
    output contract (query_id, neighbor_id, rank, cosine_sim).

    ``encoded`` must carry ``code_col`` (:func:`pq_encode`) alongside
    the original vectors (the shortlist rescore reads them; at scale
    the codes column rides the same files, and only shortlist rows
    ever evaluate the full-width dot).
    """
    m = len(codebooks)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _lut(as_double_array(vec_col), codebooks).alias("__lut"),
        quantize(vec_col, quant_scale).alias("__qv"),
    ).withColumn("__qn", F.sqrt(dot_int(F.col("__qv"), F.col("__qv")).cast("double")))
    c = encoded.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(code_col).alias("__code"),
        quantize(vec_col, quant_scale).alias("__cv"),
    ).withColumn("__cn", F.sqrt(dot_int(F.col("__cv"), F.col("__cv")).cast("double")))

    shortlist_w = Window.partitionBy("query_id").orderBy(
        F.col("__adc").desc(), F.col("neighbor_id").asc()
    )
    shortlisted = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("__adc", adc_scores(F.col("__lut"), F.col("__code"), m))
        .withColumn("__srank", F.row_number().over(shortlist_w))
        .filter(F.col("__srank") <= rescore_factor * k)
    )
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        shortlisted.select(
            "query_id",
            "neighbor_id",
            (
                dot_int(F.col("__qv"), F.col("__cv")).cast("double")
                / (F.col("__qn") * F.col("__cn"))
            ).alias("cosine_sim"),
        )
        .withColumn("rank", F.row_number().over(rank_w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def ivf_pq_topk(
    encoded_index: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[float]],
    codebooks: Codebooks,
    k: int = 5,
    nprobe: int = 4,
    rescore_factor: int = 4,
    code_col: str = "pq_code",
    list_col: str = "list_id",
    quant_scale: int = 1000,
) -> DataFrame:
    """The composed 100 TB search path: IVF probe -> PQ ADC -> exact
    rescore (the composition :mod:`.ivf` and this module's docstrings
    promise).

    ``encoded_index`` carries BOTH ``list_col`` (:func:`.ivf
    .build_ivf_index` cell assignment — ``partitionBy(list_id)`` files
    make the probe a partition-pruned scan) and ``code_col``
    (:func:`pq_encode`). Per query: the nprobe nearest cells select
    candidates via an equi-join on ``list_col`` (queries broadcast —
    the big side never shuffles); ADC ranks candidates touching only
    m-byte codes; the ``rescore_factor * k`` shortlist alone evaluates
    the full-width exact quantized cosine. Output contract and
    tie-break match ``brute_force_topk`` — with ``nprobe`` = all cells
    and a corpus-sized shortlist the result is row-identical to brute
    force (the tests' exactness anchor).
    """
    m = len(codebooks)
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        _lut(as_double_array(vec_col), codebooks).alias("__lut"),
        quantize(vec_col, quant_scale).alias("__qv"),
        F.explode(probe_list_ids(vec_col, centroids, nprobe)).alias(list_col),
    ).withColumn("__qn", F.sqrt(dot_int(F.col("__qv"), F.col("__qv")).cast("double")))
    cand = encoded_index.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(list_col),
        F.col(code_col).alias("__code"),
        quantize(vec_col, quant_scale).alias("__cv"),
    ).withColumn("__cn", F.sqrt(dot_int(F.col("__cv"), F.col("__cv")).cast("double")))

    shortlist_w = Window.partitionBy("query_id").orderBy(
        F.col("__adc").desc(), F.col("neighbor_id").asc()
    )
    shortlisted = (
        # probes hold distinct cells per query, so (query, neighbor)
        # pairs are unique — no post-join dedup needed
        cand.join(F.broadcast(probes), list_col)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("__adc", adc_scores(F.col("__lut"), F.col("__code"), m))
        .withColumn("__srank", F.row_number().over(shortlist_w))
        .filter(F.col("__srank") <= rescore_factor * k)
    )
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        shortlisted.select(
            "query_id",
            "neighbor_id",
            (
                dot_int(F.col("__qv"), F.col("__cv")).cast("double")
                / (F.col("__qn") * F.col("__cn"))
            ).alias("cosine_sim"),
        )
        .withColumn("rank", F.row_number().over(rank_w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def build_ivf_pq_index(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[float]],
    codebooks: Codebooks,
    path: str | None = None,
    code_col: str = "pq_code",
    list_col: str = "list_id",
    nbits: int | None = None,
) -> DataFrame:
    """Corpus + cell assignment + PQ codes in ONE projection pass,
    written ``partitionBy(list_col)`` when ``path`` is given — the
    persisted form :func:`ivf_pq_topk` searches, committed as the next
    generation of a manifest-committed index (:mod:`.index_commit`).

    The code geometry (``nbits``, subspace count) is persisted as
    ``_pq_meta.json`` inside the written layout, so a later bare
    :func:`maintain_ivf_pq_index` call reads the pinned width back
    from committed state instead of inferring it from in-memory
    codebooks. Pass ``nbits`` when the configured width exceeds what
    the current codebooks happen to hold (``train_pq`` seeds at most
    one centroid per training row)."""
    encoded = corpus.withColumn(code_col, pq_encode(vec_col, codebooks)).withColumn(
        list_col, assign_list_id(vec_col, centroids)
    )
    if path is None:
        return encoded
    if nbits is None:
        nbits = (len(codebooks[0]) - 1).bit_length()
        if len(codebooks[0]) != 1 << nbits:
            warnings.warn(
                f"build_ivf_pq_index: nbits={nbits} inferred from codebooks "
                f"holding {len(codebooks[0])} centroids (not a full 2**nbits) "
                "— NOT persisting the inferred width; pass nbits explicitly "
                "to pin the configured width in the index meta",
                stacklevel=2,
            )
            # the books are not exactly full, so the inference may be
            # NARROWER than the configured width — persisting it would
            # permanently suppress the maintenance-time warning this
            # meta exists to make unnecessary (the append-path rule)
            nbits = None
    spark = corpus.sparkSession
    commit_generation(
        spark, path, _pq_layout_writer(encoded, list_col, nbits, len(codebooks))
    )
    return read_index(spark, path)


def _pq_layout_writer(encoded: DataFrame, list_col: str, nbits: int | None, m: int):
    """``write_fn`` for :func:`.index_commit.commit_generation`: the
    partitioned layout, then — when the width is pinned — its
    ``_pq_meta.json``. The meta lands before the manifest pointer
    publishes, so a committed generation always carries its
    geometry."""
    write_layout = _write_layout(encoded, list_col)

    def write(gen_dir: str) -> None:
        write_layout(gen_dir)
        if nbits is not None:
            _write_pq_meta(encoded.sparkSession, gen_dir, nbits, m)

    return write


def maintain_ivf_pq_index(
    new_vectors: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[float]],
    codebooks: Codebooks,
    path: str,
    baseline_mean_dist2: float,
    retrain_factor: float = 2.0,
    k: int | None = None,
    iters: int = 3,
    train_fraction: float | None = None,
    code_col: str = "pq_code",
    list_col: str = "list_id",
    nbits: int | None = None,
    compact_on_retrain: bool = True,
) -> dict:
    """The PQ-layer extension of :func:`.ivf.maintain_ivf_index`: the
    drift gate covers BOTH models that age together — the cell bank
    and the subspace codebooks. In-distribution batches encode against
    the frozen bank+codebooks (one projection, partition-local
    append); a drifted batch retrains both on existing+batch and
    rebuilds the layout, so codes and cell assignments always come
    from one model generation (ADC scores against stale codebooks
    would silently degrade recall — the failure mode this guards).

    ``nbits`` pins the retrained code width explicitly; when omitted,
    the width persisted in the index's own ``_pq_meta.json`` (written
    by every :func:`build_ivf_pq_index` layout) is read back, so bare
    maintenance calls cannot narrow the width across generations. Only
    a pre-meta legacy index falls back to inferring from the current
    codebook size — with a warning at retrain time, because that
    inference silently SHRINKS the width if a prior retrain produced
    fewer than ``2**nbits`` centroids (``train_pq`` seeds at most one
    centroid per training row).

    ``compact_on_retrain`` mirrors :func:`.ivf.maintain_ivf_index`:
    the retrain rewrite collapses byte-identical replay copies from
    at-least-once appends before re-encoding (codes and cell ids are
    recomputed from the vectors, so the dedup runs on the raw
    vector rows).

    Every rewrite publishes a new generation (:mod:`.index_commit`),
    with the same fresh-path and foreign-data handling as
    :func:`.ivf.maintain_ivf_index`.

    Returns ``{"centroids", "codebooks", "baseline_mean_dist2",
    "retrained", "batch_mean_dist2", "nbits"}``.
    """
    spark = new_vectors.sparkSession
    nbits_inferred = nbits is None
    if nbits_inferred:
        # committed state first: every layout build_ivf_pq_index wrote
        # carries _pq_meta.json, so a bare maintenance call reads the
        # pinned width back instead of inferring from in-memory books
        meta = read_pq_meta(spark, path)
        if meta is not None:
            if meta["m"] != len(codebooks):
                raise ValueError(
                    f"maintain_ivf_pq_index: index at {path!r} persists "
                    f"m={meta['m']} subspaces but the passed codebooks hold "
                    f"m={len(codebooks)} — ADC codes are incompatible; pass "
                    "the index's own codebooks (the sidecar generation)"
                )
            nbits = meta["nbits"]
            nbits_inferred = False
        else:
            nbits = (len(codebooks[0]) - 1).bit_length()
    batch_fit = global_mean_dist2(new_vectors, vec_col, centroids)
    if batch_fit <= retrain_factor * baseline_mean_dist2:
        # appends land inside the current generation directory, like
        # append_to_ivf_index; a VIRGIN path initializes generation 1
        # instead (an append needs a committed generation to land in).
        # Neither persists an INFERRED width: pinning a possibly-narrowed
        # inference into state would be worse than re-inferring
        if require_manifest_target(spark, path) is None:
            encoded = build_ivf_pq_index(
                new_vectors, vec_col, id_col, centroids, codebooks,
                code_col=code_col, list_col=list_col,
            )
            commit_generation(
                spark,
                path,
                _pq_layout_writer(
                    encoded, list_col, None if nbits_inferred else nbits, len(codebooks)
                ),
            )
        else:
            data_path = resolve_index_path(spark, path)
            build_ivf_pq_index(
                new_vectors, vec_col, id_col, centroids, codebooks,
                code_col=code_col, list_col=list_col,
            ).write.mode("append").partitionBy(list_col).parquet(data_path)
            # upgrade a pre-meta layout in place (write-once: no-op on
            # any index build_ivf_pq_index produced)
            if not nbits_inferred:
                _write_pq_meta(spark, data_path, nbits, len(codebooks))
        return {
            "centroids": centroids,
            "codebooks": codebooks,
            "baseline_mean_dist2": baseline_mean_dist2,
            "retrained": False,
            "batch_mean_dist2": batch_fit,
            "nbits": nbits,
        }
    if nbits_inferred:
        # the decay bites exactly here: a retrain seeded with an
        # inferred width bakes it into the NEXT generation's codebooks
        warnings.warn(
            f"maintain_ivf_pq_index: retraining with nbits={nbits} inferred "
            "from the current codebook size — if a prior retrain produced "
            "fewer than 2**nbits centroids this silently narrows the code "
            "width for every later generation; pass nbits explicitly to pin "
            "the configured width (the streaming wrapper does)",
            stacklevel=2,
        )
    # explicit existence probe, never a broad exception catch: a
    # schema mismatch must raise from the select below
    existing = load_existing_index(spark, path)
    if existing is None:
        full = new_vectors
    else:
        full = existing.select(*new_vectors.columns).unionByName(new_vectors)
    if compact_on_retrain:
        full = full.dropDuplicates()
    full = full.localCheckpoint(eager=True)
    new_centroids = train_centroids(
        full, vec_col, id_col, k=k or len(centroids), iters=iters
    )
    new_books = train_pq(
        full,
        vec_col,
        id_col,
        m=len(codebooks),
        nbits=nbits,
        iters=iters,
        train_fraction=train_fraction,
    )
    encoded = build_ivf_pq_index(
        full, vec_col, id_col, new_centroids, new_books,
        code_col=code_col, list_col=list_col,
    )
    # new_books were trained AT nbits, so the meta records the width
    # this generation was built with (an inferred one warned above),
    # and later bare calls read it back instead of narrowing further
    commit_generation(
        spark, path, _pq_layout_writer(encoded, list_col, nbits, len(codebooks))
    )
    return {
        "centroids": new_centroids,
        "codebooks": new_books,
        "baseline_mean_dist2": global_mean_dist2(full, vec_col, new_centroids),
        "retrained": True,
        "batch_mean_dist2": batch_fit,
        "nbits": nbits,
    }
