"""IVF (inverted-file) ANN index — the cell-probing scale path for
embedding search, complementing :mod:`.similarity`'s RP-LSH variant
(engine extension; the reference has no vector search — SURVEY.md §2
extensions, BASELINE.json north-star).

Design, Spark-first:

- **Train** (:func:`train_centroids`): deterministic Lloyd iterations.
  Seeds are the k vectors with smallest ``xxhash64(id)`` (pseudo-random
  but reproducible); each iteration is one *projection* (argmin over
  centroid literals — no join, no shuffle) plus one ``groupBy(list,
  pos)`` mean. Only the model (k x dim floats, a few KB) ever reaches
  the driver — never data rows.
- **Assign** (:func:`assign_list_id`): the centroid bank is inlined as
  array literals, so cell assignment is a pure whole-stage-codegen
  expression over the scan — at 100 TB it pipelines with the read and
  shuffles nothing.
- **Index** (:func:`build_ivf_index`): ``(row, list_id)`` written
  ``partitionBy("list_id")`` — a probe of nprobe cells becomes a
  partition-pruned scan reading nprobe/k of the corpus. Every
  persisted layout is a manifest-committed generation
  (:mod:`.index_commit`).
- **Search** (:func:`ivf_topk`): per query, the nprobe nearest cells
  (same expression bank, ``array_sort`` + ``slice``), a broadcast
  equi-join on ``list_id`` to fetch candidates, then exact quantized
  -cosine rescoring with :mod:`.similarity`'s arithmetic and the same
  (query_id, neighbor_id, rank, cosine_sim) output contract as
  ``brute_force_topk`` — with ``nprobe == k`` the result is
  row-identical to brute force (exact rescore, identical tie-break),
  which is the correctness anchor the tests pin.

Scale notes: candidate volume is sum of probed cell sizes (~q *
nprobe/k of the corpus); skewed cells are bounded by re-training with
larger k or splitting hot cells (standard IVF practice). All stages
are built-in expressions — no UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .index_commit import (
    commit_generation,
    load_existing_index,
    read_index,
    require_manifest_target,
    resolve_index_path,
)
from .similarity import as_double_array, dot_int, quantize


def _dist2(vec: Column, centroid: list[float]) -> Column:
    """Squared L2 distance to one centroid literal (sequential fold —
    deterministic order)."""
    lit = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec, lit, lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cell_dists(vec: Column, centroids: list[list[float]]) -> Column:
    """Array of (distance, cell_id) structs — struct ordering breaks
    ties toward the lower cell id, deterministically."""
    return F.array(
        *[
            F.named_struct(F.lit("d"), _dist2(vec, c), F.lit("i"), F.lit(i))
            for i, c in enumerate(centroids)
        ]
    )


def assign_list_id(vec: Column | str, centroids: list[list[float]]) -> Column:
    """Nearest-centroid cell id as a pure projection (no join/shuffle)."""
    v = as_double_array(vec)
    return F.array_min(_cell_dists(v, centroids))["i"]


def probe_list_ids(vec: Column | str, centroids: list[list[float]], nprobe: int) -> Column:
    """The ``nprobe`` nearest cell ids (ascending distance)."""
    v = as_double_array(vec)
    ordered = F.array_sort(_cell_dists(v, centroids))
    return F.transform(F.slice(ordered, 1, nprobe), lambda s: s["i"])


def train_centroids(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 16,
    iters: int = 3,
) -> list[list[float]]:
    """Deterministic k-means cell centroids.

    Per iteration: assignment is a projection; means are one
    ``groupBy(list_id, pos)`` over pos-exploded vectors; only the
    k x dim mean table is collected (the model). Cells that lose all
    members keep their previous centroid.
    """
    v = corpus.select(as_double_array(vec_col).alias("__v"), F.col(id_col).alias("__id"))
    seeds = (
        v.select("__v", F.xxhash64("__id").alias("__h"))
        .orderBy("__h")
        .limit(k)
        .collect()
    )
    centroids = [list(r["__v"]) for r in seeds]
    if not centroids:
        raise ValueError("train_centroids: training frame is empty")
    # fewer training rows than k (reachable via the maintenance paths'
    # fresh-index retrain on a tiny first batch): every row is its own
    # cell — clamp rather than index past the seed list below
    k = min(k, len(centroids))
    for _ in range(iters):
        assigned = v.select(
            assign_list_id(F.col("__v"), centroids).alias("__list"),
            F.posexplode("__v").alias("__pos", "__x"),
        )
        means = (
            assigned.groupBy("__list", "__pos")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        table: dict[int, dict[int, float]] = {}
        for r in means:
            table.setdefault(r["__list"], {})[r["__pos"]] = r["__m"]
        centroids = [
            [table[i][p] for p in range(len(centroids[i]))] if i in table else centroids[i]
            for i in range(k)
        ]
    return centroids


def _write_layout(frame: DataFrame, list_col: str = "list_id"):
    """The ``write_fn`` an index commit hands
    :func:`.index_commit.commit_generation`: a plain
    ``partitionBy(list_col)`` parquet write into the fresh generation
    directory."""
    return (
        lambda gen_dir: frame.write.mode("overwrite")
        .partitionBy(list_col)
        .parquet(gen_dir)
    )


def build_ivf_index(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[float]],
    path: str | None = None,
) -> DataFrame:
    """Corpus + ``list_id`` cell assignment; written
    ``partitionBy("list_id")`` when ``path`` is given so probes become
    partition-pruned scans. The layout is committed as the next
    generation of a manifest-committed index (:mod:`.index_commit`):
    generation 1 on a fresh path, a full rebuild on an existing
    index."""
    indexed = corpus.withColumn("list_id", assign_list_id(vec_col, centroids))
    if path is None:
        return indexed
    spark = corpus.sparkSession
    commit_generation(spark, path, _write_layout(indexed))
    return read_index(spark, path)


def append_to_ivf_index(
    new_vectors: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[float]],
    path: str,
) -> None:
    """Incremental index maintenance: assign the NEW batch to the
    existing centroid bank and append into the partitioned layout —
    cell assignment stays a codegen projection, the append touches
    only the partitions the batch lands in, and nothing re-reads the
    existing index. The standard IVF operations posture: append
    between retrains; when :func:`index_drift_stats` says the bank has
    drifted, retrain + rebuild.

    At-least-once ingestion note: parquet append cannot dedup retries
    by itself — dedup the batch on ``id_col`` upstream (the corpus
    funnel's exact-dedup discipline), rely on the retrain-time
    compaction (:func:`maintain_ivf_index` ``compact_on_retrain``,
    on by default), or run :func:`compact_ivf_index` between retrains.

    The batch lands inside the CURRENT generation directory
    (:func:`.index_commit.resolve_index_path`), which raises on a path
    with no committed index — build it first with
    :func:`build_ivf_index` (:func:`maintain_ivf_index` does that for a
    fresh path). An append is never a commit — replayed appends are
    the at-least-once duplicates compaction collapses.
    """
    data_path = resolve_index_path(new_vectors.sparkSession, path)
    new_vectors.withColumn("list_id", assign_list_id(vec_col, centroids)).write.mode(
        "append"
    ).partitionBy("list_id").parquet(data_path)


def compact_ivf_index(
    spark,
    path: str,
    id_col: str,
    on_conflict: str = "error",
    list_col: str = "list_id",
) -> dict:
    """Restore exactly-once contents after at-least-once appends.

    :func:`append_to_ivf_index` (and the streaming wrapper replaying a
    micro-batch after a crash) re-appends byte-identical rows; this is
    the compaction the append contract defers to retrain time, as its
    own maintenance operator (:func:`maintain_ivf_index` also invokes
    the same dedup inside its retrain rewrite by default —
    ``compact_on_retrain``). One ``dropDuplicates`` over the index
    collapses replay copies (identical rows — one keyed shuffle).

    The rewrite is never an in-place overwrite: the compacted layout
    is published as a new generation of the index
    (:mod:`.index_commit`), so readers see the previous generation
    until the pointer lands and a crash mid-rewrite loses nothing.

    An id surviving with MORE than one distinct row is not a replay —
    it is a genuine conflict (the upstream sent two payloads for one
    id). ``on_conflict="error"`` (default) raises with a bounded
    sample; ``on_conflict="min"`` keeps the lexicographically smallest
    payload per id — deterministic, but a policy the caller must opt
    into. Returns ``{"rows_before", "rows_after", "replay_rows",
    "conflict_ids"}``.
    """
    if on_conflict not in ("error", "min"):
        raise ValueError(f"unknown on_conflict {on_conflict!r}")
    idx = read_index(spark, path)
    before = idx.count()
    # localCheckpoint for reuse across the 3 consumers (conflict
    # count, resolution, rewrite) — the rewrite targets a fresh
    # generation directory, never the data being read
    deduped = idx.dropDuplicates().localCheckpoint(eager=True)
    replay_rows = before - deduped.count()
    payload_cols = [c for c in deduped.columns if c != id_col]
    counts = deduped.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    n_conflicts = counts.filter(F.col("__n") > 1).count()
    if n_conflicts and on_conflict == "error":
        sample = [
            r[id_col]
            for r in counts.filter(F.col("__n") > 1).limit(5).collect()
        ]
        raise ValueError(
            f"compact_ivf_index: {n_conflicts} ids carry multiple distinct "
            f"payloads (sample: {sample}) — not replay duplicates; rerun "
            "with on_conflict='min' to keep a deterministic one per id"
        )
    if n_conflicts:
        w = Window.partitionBy(id_col).orderBy(
            *[F.col(c) for c in payload_cols]
        )
        deduped = (
            deduped.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    after = deduped.count()
    commit_generation(spark, path, _write_layout(deduped, list_col))
    return {
        "rows_before": before,
        "rows_after": after,
        "replay_rows": replay_rows,
        "conflict_ids": n_conflicts,
    }


def index_drift_stats(
    vectors: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
) -> DataFrame:
    """One row per cell: how well the centroid bank still fits
    ``vectors`` (run on a fresh batch before appending it). Columns:
    ``list_id, n, mean_dist2, max_dist2`` — a capacity planner
    compares a new batch's ``mean_dist2`` against the training-time
    value; a sustained rise means the data distribution moved and the
    bank needs retraining. One projection + one groupBy, no joins."""
    v = as_double_array(vec_col)
    nearest = F.array_min(_cell_dists(v, centroids))
    assigned = vectors.select(
        nearest["i"].alias("list_id"), nearest["d"].alias("__d2")
    )
    return assigned.groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("__d2").alias("mean_dist2"),
        F.max("__d2").alias("max_dist2"),
    )


def global_mean_dist2(
    vectors: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
) -> float:
    """Scalar fit of the bank to ``vectors``: mean nearest-centroid
    squared distance (the cell-weighted rollup of
    :func:`index_drift_stats`). One projection + one agg; only the
    scalar reaches the driver. Record it at train time as the baseline
    the retrain policy compares batches against."""
    d2 = F.array_min(_cell_dists(as_double_array(vec_col), centroids))["d"]
    row = vectors.agg(F.avg(d2).alias("m")).first()
    return float(row["m"]) if row["m"] is not None else 0.0


def maintain_ivf_index(
    new_vectors: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[float]],
    path: str,
    baseline_mean_dist2: float,
    retrain_factor: float = 2.0,
    k: int | None = None,
    iters: int = 3,
    compact_on_retrain: bool = True,
) -> dict:
    """The retrain policy on top of :func:`index_drift_stats` /
    :func:`append_to_ivf_index` (round-6 gap: drift was measured but
    nothing acted on it).

    Appends ``new_vectors`` when the bank still fits them
    (``batch mean_dist2 <= retrain_factor * baseline``); otherwise
    retrains on existing-index + batch and rebuilds the partitioned
    layout, remapping EVERY row to the new bank — so the probe-all ==
    brute-force invariant holds across the retrain boundary (the index
    is always a complete single-bank assignment, never a mix of two
    banks).

    ``compact_on_retrain`` (default on) honors the append contract's
    "compact at retrain time": the retrain rewrite first collapses
    byte-identical replay copies (at-least-once re-appends, including
    a replayed batch that is ALREADY in the index) with one
    ``dropDuplicates`` over existing+batch — the same dedup
    :func:`compact_ivf_index` applies between retrains. Genuine
    id-payload conflicts are out of scope here (two distinct rows both
    survive); run :func:`compact_ivf_index` for the policy-controlled
    resolution.

    Every rewrite publishes a new generation (:mod:`.index_commit`).
    Fresh-path handling is explicit: a fitting first batch on a virgin
    path initializes generation 1, and a drifted one retrains on the
    batch alone (the streaming entry point makes both reachable). A
    path holding data outside the manifest layout raises instead of
    being treated as fresh, and a missing/renamed column raises from
    the select — existence is probed, not caught broadly.

    Returns ``{"centroids", "baseline_mean_dist2", "retrained",
    "batch_mean_dist2"}`` — the caller's next-round state. Scale
    shape: the no-retrain path touches only the batch (one agg + a
    partition-local append); the retrain path pays one full index
    read + k-means + rewrite, which is the point of thresholding it.
    """
    spark = new_vectors.sparkSession
    batch_fit = global_mean_dist2(new_vectors, vec_col, centroids)
    if batch_fit <= retrain_factor * baseline_mean_dist2:
        if require_manifest_target(spark, path) is None:
            # virgin path: initialize generation 1 from the batch (an
            # append needs a committed generation to land in)
            build_ivf_index(new_vectors, vec_col, id_col, centroids, path)
        else:
            append_to_ivf_index(new_vectors, vec_col, id_col, centroids, path)
        return {
            "centroids": centroids,
            "baseline_mean_dist2": baseline_mean_dist2,
            "retrained": False,
            "batch_mean_dist2": batch_fit,
        }
    existing = load_existing_index(spark, path)
    if existing is None:
        full = new_vectors
    else:
        full = existing.select(*new_vectors.columns).unionByName(new_vectors)
    if compact_on_retrain:
        full = full.dropDuplicates()
    # materialize once: k-means, the rewrite and the new baseline all
    # read it
    full = full.localCheckpoint(eager=True)
    new_centroids = train_centroids(
        full, vec_col, id_col, k=k or len(centroids), iters=iters
    )
    commit_generation(
        spark,
        path,
        _write_layout(build_ivf_index(full, vec_col, id_col, new_centroids)),
    )
    return {
        "centroids": new_centroids,
        "baseline_mean_dist2": global_mean_dist2(full, vec_col, new_centroids),
        "retrained": True,
        "batch_mean_dist2": batch_fit,
    }


def cell_stats(
    index: DataFrame,
    list_col: str = "list_id",
    min_size: int = 1,
) -> DataFrame:
    """(list_id, cell_size) for cells holding >= ``min_size`` rows —
    the skew audit for IVF, mirroring :func:`.text_dedup
    .band_bucket_stats`: the top rows are the hot cells a
    ``max_cell_size`` cap trims, and sum of their sizes over the
    probed set is the per-query candidate mass they would contribute.
    One groupBy over the index (k rows out), never collected here.
    """
    return (
        index.groupBy(list_col)
        .agg(F.count(F.lit(1)).alias("cell_size"))
        .filter(F.col("cell_size") >= min_size)
    )


def cap_hot_cells(
    index: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[float]],
    max_cell_size: int,
    list_col: str = "list_id",
) -> DataFrame:
    """Bound every cell to its ``max_cell_size`` members nearest the
    cell centroid (ties broken by id — deterministic).

    The LSH analogue (:func:`.text_dedup.candidates_from_shingled`
    ``max_bucket_size``) drops oversized buckets outright because a
    hot LSH bucket is near-useless (everything collides); a hot IVF
    cell is real data in a dense region, so dropping it whole would
    crater recall there. Keeping the centroid-nearest members instead
    caps per-query candidate volume at ``nprobe * max_cell_size``
    while retaining the cell's core. The within-cell ranking is one
    window keyed on ``list_col`` — the same shuffle key as the
    ``partitionBy(list_id)`` index write, so at build time it rides
    the shuffle the index already pays.
    """
    d2 = F.array_min(_cell_dists(as_double_array(vec_col), centroids))["d"]
    w = Window.partitionBy(list_col).orderBy(d2.asc(), F.col(id_col).asc())
    return (
        index.withColumn("__crank", F.row_number().over(w))
        .filter(F.col("__crank") <= max_cell_size)
        .drop("__crank")
    )


def ivf_topk(
    index: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    quant_scale: int = 1000,
    max_cell_size: int | None = None,
) -> DataFrame:
    """Top-k per query over the probed cells only, exact-rescored.

    Output contract matches ``brute_force_topk``; with ``nprobe`` =
    number of cells (and no cap), output IS brute force (tested
    invariant). ``max_cell_size`` applies :func:`cap_hot_cells` to the
    index first — bounded candidate volume on skewed corpora.
    """
    if max_cell_size is not None:
        index = cap_hot_cells(
            index, vec_col, id_col, centroids, max_cell_size, "list_id"
        )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        quantize(vec_col, quant_scale).alias("__qv"),
        F.explode(probe_list_ids(vec_col, centroids, nprobe)).alias("list_id"),
    ).withColumn("__qn", F.sqrt(dot_int(F.col("__qv"), F.col("__qv")).cast("double")))
    cand = index.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("list_id"),
        quantize(vec_col, quant_scale).alias("__cv"),
    ).withColumn("__cn", F.sqrt(dot_int(F.col("__cv"), F.col("__cv")).cast("double")))
    scored = (
        cand.join(F.broadcast(probes), "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_int(F.col("__qv"), F.col("__cv")).cast("double")
                / (F.col("__qn") * F.col("__cn"))
            ).alias("cosine_sim"),
        )
        # a neighbor can sit in several probed cells only if the index
        # holds duplicates; probes are distinct cells so pairs are unique
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )
