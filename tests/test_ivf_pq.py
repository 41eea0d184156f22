"""IVF+PQ composed search (the full 100 TB path) and the IVF hot-cell
cap (VERDICT r4 tasks #4 and #7).

Exactness anchor first, as for IVF and PQ alone: with every cell
probed and a corpus-sized shortlist, ``ivf_pq_topk`` must be
ROW-IDENTICAL to ``brute_force_topk`` (the ADC ordering only picks
the shortlist; the rescore is the same exact quantized cosine with
the same tie-break). Sparse-probe recall is then measured against the
IVF-only result at the same nprobe — what the PQ stage *loses* —
and against brute force for the end-to-end curve.

Hot-cell cap: candidate volume must be bounded by nprobe *
max_cell_size even on an adversarially skewed corpus, and
``cell_stats`` must report the skew the cap trims.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from open_data_pipelines_spark.operators.index_commit import (
    read_index,
    resolve_index_path,
)
from open_data_pipelines_spark.operators.ivf import (
    build_ivf_index,
    cap_hot_cells,
    cell_stats,
    ivf_topk,
    probe_list_ids,
    train_centroids,
)
from open_data_pipelines_spark.operators.pq import ivf_pq_topk, pq_encode, train_pq
from open_data_pipelines_spark.operators.similarity import brute_force_topk
from open_data_pipelines_spark.session import load_tables

from conftest import SF_SMOKE

K_CELLS, M, NBITS, TOP_K, N_QUERIES = 8, 8, 4, 5, 10
COLS = ["query_id", "neighbor_id", "rank", "cosine_sim"]


@pytest.fixture(scope="module")
def ivfpq(spark):
    emb = load_tables(spark, SF_SMOKE, register_views=False)["embeddings"]
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    cents = train_centroids(emb, "embedding", "vec_id", k=K_CELLS, iters=1)
    books = train_pq(emb, "embedding", "vec_id", m=M, nbits=NBITS, iters=1)
    idx = (
        build_ivf_index(emb, "embedding", "vec_id", cents)
        .withColumn("pq_code", pq_encode("embedding", books))
        .persist()
    )
    idx.count()
    yield emb, queries, cents, books, idx
    idx.unpersist()


def test_full_probe_full_shortlist_is_brute_force(spark, ivfpq):
    emb, queries, cents, books, idx = ivfpq
    bf = {tuple(r) for r in brute_force_topk(emb, queries, "embedding", "vec_id", k=TOP_K).select(COLS).collect()}
    got = {
        tuple(r)
        for r in ivf_pq_topk(
            idx, queries, "embedding", "vec_id", cents, books,
            k=TOP_K, nprobe=K_CELLS, rescore_factor=500,
        ).select(COLS).collect()
    }
    assert got == bf


def test_sparse_probe_recall_vs_ivf_and_brute(spark, ivfpq):
    emb, queries, cents, books, idx = ivfpq
    nprobe = 4
    ivf_only = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(idx, queries, "embedding", "vec_id", cents, k=TOP_K, nprobe=nprobe).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in ivf_pq_topk(
            idx, queries, "embedding", "vec_id", cents, books,
            k=TOP_K, nprobe=nprobe, rescore_factor=8,
        ).collect()
    }
    # vs IVF at the same probes: what ADC shortlisting loses
    recall_vs_ivf = len(got & ivf_only) / len(ivf_only)
    true = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, "embedding", "vec_id", k=TOP_K).collect()
    }
    recall_e2e = len(got & true) / len(true)
    # uniform-random embeddings are PQ's worst case (see test_pq.py);
    # measured ~0.74 vs-IVF / ~0.56 end-to-end on the harness data
    assert recall_vs_ivf >= 0.5, f"PQ stage recall {recall_vs_ivf:.0%}"
    assert recall_e2e >= 0.35, f"end-to-end recall {recall_e2e:.0%}"


def test_hot_cell_cap_bounds_candidates(spark, ivfpq):
    """Adversarial skew: clone one vector 200x so a single cell holds
    >half the corpus; the cap must bound per-query candidate volume to
    nprobe * max_cell_size."""
    emb, _, _, _, _ = ivfpq
    base = emb.limit(40)
    hot = (
        emb.filter(F.col("vec_id") == 0)
        .crossJoin(spark.range(200).select((F.col("id") + 10_000).alias("__new_id")))
        .select(F.col("__new_id").alias("vec_id"), "embedding")
    )
    skewed = base.select("vec_id", "embedding").unionByName(hot)
    cents = train_centroids(skewed, "embedding", "vec_id", k=4, iters=1)
    idx = build_ivf_index(skewed, "embedding", "vec_id", cents)

    stats = {r["list_id"]: r["cell_size"] for r in cell_stats(idx).collect()}
    assert max(stats.values()) >= 200, f"fixture not skewed: {stats}"

    cap = 25
    capped = cap_hot_cells(idx, "embedding", "vec_id", cents, cap)
    capped_stats = {r["list_id"]: r["cell_size"] for r in cell_stats(capped).collect()}
    assert max(capped_stats.values()) <= cap
    # cold cells untouched
    for lid, n in stats.items():
        if n <= cap:
            assert capped_stats.get(lid) == n

    # end-to-end: ivf_topk(max_cell_size=cap) must SEARCH the capped
    # index — row-identical to searching cap_hot_cells' output, and
    # the cap must be load-bearing on the hot-cell query (the old
    # block only re-derived the bound from test-side arithmetic, which
    # could not fail even if the parameter were ignored — round-9
    # test-review find)
    nprobe = 2
    queries = skewed.filter(F.col("vec_id") < 3)
    res = ivf_topk(
        idx, queries, "embedding", "vec_id", cents,
        k=TOP_K, nprobe=nprobe, max_cell_size=cap,
    )
    res_precapped = ivf_topk(
        capped, queries, "embedding", "vec_id", cents, k=TOP_K, nprobe=nprobe
    )
    assert sorted(map(tuple, res.collect())) == sorted(
        map(tuple, res_precapped.collect())
    )
    # and the cap genuinely bounds the candidate pool: at a k larger
    # than the capped cells can supply, the uncapped search fills k
    # from the 200 hot duplicates while the capped search cannot
    # return more than nprobe * cap candidates
    big_k = 60
    q0 = queries.filter(F.col("vec_id") == 0)
    n_uncapped = ivf_topk(
        idx, q0, "embedding", "vec_id", cents, k=big_k, nprobe=nprobe
    ).count()
    n_capped = ivf_topk(
        idx, q0, "embedding", "vec_id", cents,
        k=big_k, nprobe=nprobe, max_cell_size=cap,
    ).count()
    assert n_uncapped == big_k
    assert n_capped <= nprobe * cap < big_k


def test_path_built_index_probe_gets_dynamic_partition_pruning(spark, ivfpq, tmp_path):
    """The scale claim behind ``build_ivf_index(path=...)``: probing a
    ``partitionBy(list_id)`` index must compile to a scan with a
    dynamic-pruning subquery on list_id (only probed cells are read —
    nprobe/k of the corpus at 100 TB), not a full-index scan."""
    emb, queries, cents, books, _ = ivfpq
    from open_data_pipelines_spark.operators.ivf import build_ivf_index

    idx = build_ivf_index(emb, "embedding", "vec_id", cents, path=str(tmp_path / "ivf"))
    res = ivf_topk(idx, queries, "embedding", "vec_id", cents, k=TOP_K, nprobe=2)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, "index scan is not partition-pruned by the probe"

    enc = idx.withColumn("pq_code", pq_encode("embedding", books))
    res2 = ivf_pq_topk(
        enc, queries, "embedding", "vec_id", cents, books, k=TOP_K, nprobe=2
    )
    plan2 = res2._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan2


def test_cap_keeps_centroid_nearest_deterministically(spark, ivfpq):
    emb, _, cents, _, idx = ivfpq
    a = cap_hot_cells(idx, "embedding", "vec_id", cents, 10).select("vec_id").collect()
    b = cap_hot_cells(idx, "embedding", "vec_id", cents, 10).select("vec_id").collect()
    assert sorted(r["vec_id"] for r in a) == sorted(r["vec_id"] for r in b)


def test_maintain_ivf_pq_retrains_both_models_on_drift(spark, tmp_path):
    """PQ-layer maintenance: in-distribution batches encode against the
    frozen bank+codebooks and append; a drifted batch retrains BOTH and
    rebuilds, with the composed probe-all + corpus-sized-shortlist
    search still row-identical to brute force afterwards."""
    from open_data_pipelines_spark.operators.ivf import global_mean_dist2
    from open_data_pipelines_spark.operators.pq import (
        build_ivf_pq_index,
        maintain_ivf_pq_index,
    )

    def vecs(ids, offset=0.0):
        rows = [
            (
                i,
                [
                    float(i % 7) + 1.0 + offset,
                    float((i * 3) % 5) + 1.0 + offset,
                    float((i * 5) % 9) + 1.0 + offset,
                    float((i * 11) % 4) + 1.0 + offset,
                ],
            )
            for i in ids
        ]
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    k_cells, m, nbits = 4, 2, 3
    base = vecs(range(100))
    cents = train_centroids(base, "embedding", "vec_id", k=k_cells, iters=5)
    books = train_pq(base, "embedding", "vec_id", m=m, nbits=nbits, iters=3)
    path = str(tmp_path / "ivfpq")
    build_ivf_pq_index(base, "embedding", "vec_id", cents, books, path)
    baseline = global_mean_dist2(base, "embedding", cents)

    calm = vecs(range(100, 120))
    st = maintain_ivf_pq_index(
        calm, "embedding", "vec_id", cents, books, path, baseline, retrain_factor=2.0
    )
    assert st["retrained"] is False
    assert st["codebooks"] == books
    assert read_index(spark, path).count() == 120

    drifted = vecs(range(200, 240), offset=50.0)
    st2 = maintain_ivf_pq_index(
        drifted,
        "embedding",
        "vec_id",
        st["centroids"],
        st["codebooks"],
        path,
        st["baseline_mean_dist2"],
        retrain_factor=2.0,
    )
    assert st2["retrained"] is True
    assert st2["codebooks"] != books and st2["centroids"] != cents
    assert len(st2["codebooks"]) == m and len(st2["codebooks"][0]) == 1 << nbits
    index = read_index(spark, path)
    assert index.count() == 160

    full = base.unionByName(calm).unionByName(drifted)
    queries = vecs([0, 101, 205])
    cols = ["query_id", "neighbor_id", "rank", "cosine_sim"]
    bf = {
        tuple(r)
        for r in brute_force_topk(full, queries, "embedding", "vec_id", k=5)
        .select(cols)
        .collect()
    }
    got = {
        tuple(r)
        for r in ivf_pq_topk(
            index,
            queries,
            "embedding",
            "vec_id",
            st2["centroids"],
            st2["codebooks"],
            k=5,
            nprobe=k_cells,
            rescore_factor=1000,
        )
        .select(cols)
        .collect()
    }
    assert got == bf


def test_pq_retrain_schema_mismatch_fails_loud(spark, tmp_path):
    """PQ twin of the ivf schema-mismatch guard (round-9 review find):
    a drifted batch with a column the on-disk index lacks must raise,
    not silently rebuild the index from that one batch."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.errors import AnalysisException

    from open_data_pipelines_spark.operators.ivf import global_mean_dist2
    from open_data_pipelines_spark.operators.pq import (
        build_ivf_pq_index,
        maintain_ivf_pq_index,
    )

    rows = [
        (i, [float(i % 7) + 1.0, float((i * 3) % 5) + 1.0]) for i in range(60)
    ]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = train_centroids(base, "embedding", "vec_id", k=3, iters=3)
    books = train_pq(base, "embedding", "vec_id", m=2, nbits=2, iters=2)
    path = str(tmp_path / "ivfpq")
    build_ivf_pq_index(base, "embedding", "vec_id", cents, books, path)
    baseline = global_mean_dist2(base, "embedding", cents)

    drifted = spark.createDataFrame(
        [(1000 + i, [90.0 + i, 95.0 - i]) for i in range(10)],
        ["vec_id", "embedding"],
    ).withColumn("ts", F.lit("2026-01-01"))
    with pytest.raises(AnalysisException):
        maintain_ivf_pq_index(
            drifted, "embedding", "vec_id", cents, books, path, baseline,
            retrain_factor=2.0, nbits=2,
        )
    assert read_index(spark, path).count() == 60


def test_pq_meta_pins_nbits_across_bare_maintenance(spark, tmp_path):
    """VERDICT r10 task #2: the persisted ``_pq_meta.json`` carries the
    configured code width, so a bare (no-nbits) maintenance call after
    a degenerate retrain reads the pinned width back from committed
    state instead of inferring a NARROWER one from the in-memory
    codebooks — the silent ADC-width-decay hazard."""
    import warnings as w

    from open_data_pipelines_spark.operators.ivf import global_mean_dist2
    from open_data_pipelines_spark.operators.pq import (
        build_ivf_pq_index,
        maintain_ivf_pq_index,
        read_pq_meta,
    )

    # only 4 training ROWS -> train_pq(nbits=3) seeds at most 4
    # centroids per subspace; the legacy inference would report
    # (4-1).bit_length() == 2, narrowing the configured width of 3
    rows = [(i, [float(i % 4) + 1.0, float((i * 3) % 4) + 1.0]) for i in range(4)]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = train_centroids(base, "embedding", "vec_id", k=2, iters=2)
    books = train_pq(base, "embedding", "vec_id", m=2, nbits=3, iters=2)
    assert len(books[0]) < (1 << 3)  # the degenerate premise
    path = str(tmp_path / "ivfpq")
    build_ivf_pq_index(base, "embedding", "vec_id", cents, books, path, nbits=3)
    assert read_pq_meta(spark, path) == {"nbits": 3, "m": 2}
    baseline = global_mean_dist2(base, "embedding", cents)

    drifted = spark.createDataFrame(
        [(1000 + i, [90.0 + i, 95.0 - i]) for i in range(12)],
        ["vec_id", "embedding"],
    )
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        st = maintain_ivf_pq_index(
            drifted, "embedding", "vec_id", cents, books, path, baseline,
            retrain_factor=2.0,  # nbits deliberately omitted: the bare call
        )
    assert st["retrained"] is True
    assert st["nbits"] == 3  # read back from meta, not inferred as 2
    assert not [c for c in caught if "inferred" in str(c.message)]
    # the retrained generation re-persists the pinned width
    assert read_pq_meta(spark, path) == {"nbits": 3, "m": 2}

    # a second bare call (calm batch) still resolves 3 from the meta
    calm = spark.createDataFrame(
        [(2000 + i, [90.0 + i, 95.0 - i]) for i in range(4)],
        ["vec_id", "embedding"],
    )
    st2 = maintain_ivf_pq_index(
        calm, "embedding", "vec_id", st["centroids"], st["codebooks"], path,
        st["baseline_mean_dist2"], retrain_factor=2.0,
    )
    assert st2["retrained"] is False and st2["nbits"] == 3


def test_fresh_path_maintenance_never_persists_inferred_nbits(spark, tmp_path):
    """A bare maintenance call that initializes a VIRGIN path writes no
    width it only inferred: 4 training rows leave train_pq(nbits=3)
    with 4 centroids per subspace, whose inferred width (2) would
    narrow the configured 3 if generation 1 recorded it. An explicit
    ``nbits`` is persisted."""
    from open_data_pipelines_spark.operators.ivf import global_mean_dist2
    from open_data_pipelines_spark.operators.pq import (
        maintain_ivf_pq_index,
        read_pq_meta,
    )

    rows = [(i, [float(i % 4) + 1.0, float((i * 3) % 4) + 1.0]) for i in range(4)]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = train_centroids(base, "embedding", "vec_id", k=2, iters=2)
    books = train_pq(base, "embedding", "vec_id", m=2, nbits=3, iters=2)
    assert len(books[0]) == 4  # inferred width 2, configured 3
    baseline = global_mean_dist2(base, "embedding", cents)

    for name, pinned, want in (("bare", None, None), ("pinned", 3, {"nbits": 3, "m": 2})):
        path = str(tmp_path / name)
        st = maintain_ivf_pq_index(
            base, "embedding", "vec_id", cents, books, path, baseline,
            retrain_factor=2.0, nbits=pinned,
        )
        assert st["retrained"] is False
        assert read_index(spark, path).count() == 4
        assert read_pq_meta(spark, path) == want, name


def test_pq_meta_survives_manifest_generations(spark, tmp_path):
    """Generation twin: the meta is written INSIDE each generation
    directory before the pointer publishes, so read_pq_meta always
    describes the committed generation a reader would scan."""
    from open_data_pipelines_spark.operators.ivf import global_mean_dist2
    from open_data_pipelines_spark.operators.pq import (
        build_ivf_pq_index,
        maintain_ivf_pq_index,
        read_pq_meta,
    )

    rows = [(i, [float(i % 4) + 1.0, float((i * 3) % 4) + 1.0]) for i in range(40)]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = train_centroids(base, "embedding", "vec_id", k=2, iters=2)
    books = train_pq(base, "embedding", "vec_id", m=2, nbits=3, iters=2)
    path = str(tmp_path / "ivfpq_manifest")
    build_ivf_pq_index(base, "embedding", "vec_id", cents, books, path, nbits=3)
    assert read_pq_meta(spark, path) == {"nbits": 3, "m": 2}
    baseline = global_mean_dist2(base, "embedding", cents)

    drifted = spark.createDataFrame(
        [(1000 + i, [90.0 + i, 95.0 - i]) for i in range(12)],
        ["vec_id", "embedding"],
    )
    st = maintain_ivf_pq_index(
        drifted, "embedding", "vec_id", cents, books, path, baseline,
        retrain_factor=2.0,
    )
    assert st["retrained"] is True and st["nbits"] == 3
    assert read_pq_meta(spark, path) == {"nbits": 3, "m": 2}


def test_pq_meta_legacy_index_still_warns_and_m_mismatch_raises(spark, tmp_path):
    """A pre-meta layout (meta file removed) falls back to the old
    inference WITH its warning; and a persisted-m mismatch against the
    passed codebooks fails loud instead of encoding incompatibly."""
    import os

    from open_data_pipelines_spark.operators.ivf import global_mean_dist2
    from open_data_pipelines_spark.operators.pq import (
        build_ivf_pq_index,
        maintain_ivf_pq_index,
        read_pq_meta,
        train_pq,
    )

    rows = [(i, [float(i % 4) + 1.0, float((i * 3) % 4) + 1.0]) for i in range(40)]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = train_centroids(base, "embedding", "vec_id", k=2, iters=2)
    books = train_pq(base, "embedding", "vec_id", m=2, nbits=3, iters=2)
    path = str(tmp_path / "ivfpq_legacy")
    build_ivf_pq_index(base, "embedding", "vec_id", cents, books, path, nbits=3)
    # simulate a legacy index: a generation written before the meta existed
    os.remove(os.path.join(resolve_index_path(spark, path), "_pq_meta.json"))
    assert read_pq_meta(spark, path) is None
    baseline = global_mean_dist2(base, "embedding", cents)
    drifted = spark.createDataFrame(
        [(1000 + i, [90.0 + i, 95.0 - i]) for i in range(12)],
        ["vec_id", "embedding"],
    )
    with pytest.warns(UserWarning, match="inferred"):
        st = maintain_ivf_pq_index(
            drifted, "embedding", "vec_id", cents, books, path, baseline,
            retrain_factor=2.0,
        )
    assert st["nbits"] == (len(books[0]) - 1).bit_length()

    # m mismatch vs persisted meta fails loud (retrained index now has meta)
    wrong_m_books = train_pq(base, "embedding", "vec_id", m=1, nbits=3, iters=1)
    with pytest.raises(ValueError, match="subspaces"):
        maintain_ivf_pq_index(
            base, "embedding", "vec_id", st["centroids"], wrong_m_books, path,
            st["baseline_mean_dist2"], retrain_factor=2.0,
        )
