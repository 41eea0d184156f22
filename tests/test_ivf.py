"""IVF ANN index: exactness anchor, recall, pruning, determinism.

The load-bearing invariant is probe-all == brute force: ivf_topk's
rescore is exact quantized cosine with brute_force_topk's tie-break,
so with nprobe == k the result must be ROW-IDENTICAL regardless of
training quality. Recall at sparse probes is then a measured curve
(38% @ 2/8 cells, 76% @ 4/8 on the harness embeddings), not a leap of
faith.
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
    ivf_topk,
    probe_list_ids,
    train_centroids,
)
from open_data_pipelines_spark.operators.similarity import brute_force_topk
from open_data_pipelines_spark.session import load_tables

from conftest import SF_SMOKE

K_CELLS = 8
TOP_K = 5
N_QUERIES = 10


@pytest.fixture(scope="module")
def ivf(spark):
    emb = load_tables(spark, SF_SMOKE, register_views=False)["embeddings"]
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    cents = train_centroids(emb, "embedding", "vec_id", k=K_CELLS, iters=1)
    idx = build_ivf_index(emb, "embedding", "vec_id", cents).persist()
    idx.count()
    yield emb, queries, cents, idx
    idx.unpersist()


def test_full_probe_is_row_identical_to_brute_force(spark, ivf):
    emb, queries, cents, idx = ivf
    cols = ["query_id", "neighbor_id", "rank", "cosine_sim"]
    bf = {tuple(r) for r in brute_force_topk(emb, queries, "embedding", "vec_id", k=TOP_K).select(cols).collect()}
    full = {
        tuple(r)
        for r in ivf_topk(
            idx, queries, "embedding", "vec_id", cents, k=TOP_K, nprobe=K_CELLS
        ).select(cols).collect()
    }
    assert full == bf


def test_sparse_probe_recall_and_pruning(spark, ivf):
    emb, queries, cents, idx = ivf
    nprobe = K_CELLS // 2
    true = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, "embedding", "vec_id", k=TOP_K).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(
            idx, queries, "embedding", "vec_id", cents, k=TOP_K, nprobe=nprobe
        ).collect()
    }
    recall = len(true & got) / len(true)
    assert recall >= 0.5, f"IVF recall@{TOP_K} {recall:.0%} < 50% at nprobe={nprobe}"

    # pruning proof: candidates scored = sum of probed cell sizes,
    # strictly less than |corpus| per query
    cell_sizes = {r["list_id"]: r["n"] for r in idx.groupBy("list_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    probed = queries.select(
        "vec_id", F.explode(probe_list_ids("embedding", cents, nprobe)).alias("list_id")
    ).collect()
    n_corpus = emb.count()
    per_query: dict[int, int] = {}
    for r in probed:
        per_query[r["vec_id"]] = per_query.get(r["vec_id"], 0) + cell_sizes.get(r["list_id"], 0)
    assert len(per_query) == N_QUERIES
    assert all(0 < n < n_corpus for n in per_query.values())


def test_training_is_deterministic(spark, ivf):
    emb, _queries, cents, _idx = ivf
    again = train_centroids(emb, "embedding", "vec_id", k=K_CELLS, iters=1)
    assert again == cents


def test_partitioned_index_prunes_cells(spark, tmp_path, ivf):
    emb, _queries, cents, _idx = ivf
    path = str(tmp_path / "ivf_index")
    idx = build_ivf_index(emb, "embedding", "vec_id", cents, path=path)
    # layout: one directory per cell inside the committed generation
    # -> probing nprobe cells is a partition-pruned scan
    import os

    dirs = {
        d
        for d in os.listdir(resolve_index_path(spark, path))
        if d.startswith("list_id=")
    }
    assert len(dirs) == len({r["list_id"] for r in idx.select("list_id").distinct().collect()})
    plan = idx.filter(F.col("list_id") == 3)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(list_id" in plan
    assert idx.count() == emb.count()


def test_append_to_ivf_index_and_drift(spark, tmp_path):
    """Incremental maintenance: appended vectors are probe-visible
    without rebuilding; drift stats flag a shifted batch."""
    from pyspark.sql import functions as F

    from open_data_pipelines_spark.operators.ivf import (
        append_to_ivf_index,
        build_ivf_index,
        index_drift_stats,
        ivf_topk,
        train_centroids,
    )

    def vecs(ids, offset=0.0):
        rows = [(i, [float(i % 7) + 1.0 + offset, float((i * 3) % 5) + 1.0 + offset]) for i in ids]
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    base = vecs(range(100))
    cents = train_centroids(base, "embedding", "vec_id", k=4, iters=5)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, "embedding", "vec_id", cents, path=path)
    n0 = read_index(spark, path).count()

    # offset 0.25 keeps the batch in-distribution but gives id 100 the
    # direction [3.25, 1.25] (ratio 13/5), which NO base grid vector
    # [1..7, 1..5] is colinear with — so under cosine ranking the
    # appended vector is the unique exact match, not a tie the
    # neighbor_id tie-break hands to a base id (the old assertion
    # ended in `or True`, which passed even with append broken —
    # round-9 test-review find)
    batch = vecs(range(100, 120), offset=0.25)
    append_to_ivf_index(batch, "embedding", "vec_id", cents, path)
    index = read_index(spark, path)
    assert index.count() == n0 + 20

    # an appended vector is findable via probes on the refreshed index
    q = spark.createDataFrame([(200, [3.25, 1.25])], ["vec_id", "embedding"])
    hits = ivf_topk(index, q, "embedding", "vec_id", cents, k=5, nprobe=4)
    assert hits.count() == 5
    top1 = hits.filter(F.col("rank") == 1).first()["neighbor_id"]
    assert top1 == 100  # the appended vector itself, via the probes

    # drift: a far-shifted batch shows much larger mean_dist2
    ok = index_drift_stats(batch, "embedding", cents).agg(F.avg("mean_dist2")).first()[0]
    shifted = index_drift_stats(vecs(range(20), offset=50.0), "embedding", cents).agg(
        F.avg("mean_dist2")
    ).first()[0]
    assert shifted > ok * 10


def test_maintain_ivf_index_retrain_policy(spark, tmp_path):
    """Verdict r6 task: drift-triggered retrain. An in-distribution
    batch appends without retraining; a far-shifted batch trips the
    threshold, retrains+remaps, and the rebuilt index at probe-all is
    still ROW-IDENTICAL to brute force over the full corpus — the
    invariant must survive the retrain boundary."""
    from open_data_pipelines_spark.operators.ivf import (
        global_mean_dist2,
        maintain_ivf_index,
    )

    def vecs(ids, offset=0.0):
        rows = [
            (i, [float(i % 7) + 1.0 + offset, float((i * 3) % 5) + 1.0 + offset])
            for i in ids
        ]
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    k_cells = 4
    base = vecs(range(100))
    cents = train_centroids(base, "embedding", "vec_id", k=k_cells, iters=5)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, "embedding", "vec_id", cents, path=path)
    baseline = global_mean_dist2(base, "embedding", cents)

    # in-distribution batch: appended, no retrain, state unchanged
    calm = vecs(range(100, 120))
    st = maintain_ivf_index(
        calm, "embedding", "vec_id", cents, path, baseline, retrain_factor=2.0
    )
    assert st["retrained"] is False
    assert st["centroids"] == cents and st["baseline_mean_dist2"] == baseline
    assert read_index(spark, path).count() == 120

    # drifted batch: retrain fires, the whole index is remapped
    drifted = vecs(range(200, 240), offset=50.0)
    st2 = maintain_ivf_index(
        drifted, "embedding", "vec_id", st["centroids"], path, st["baseline_mean_dist2"],
        retrain_factor=2.0,
    )
    assert st2["retrained"] is True
    assert st2["centroids"] != cents
    index = read_index(spark, path)
    assert index.count() == 160

    # the new bank actually fits the union better than the old one did
    full = base.unionByName(calm).unionByName(drifted)
    assert global_mean_dist2(full, "embedding", st2["centroids"]) < global_mean_dist2(
        full, "embedding", cents
    )

    # probe-all == brute force across the retrain boundary
    queries = vecs([0, 101, 205], offset=0.0)
    cols = ["query_id", "neighbor_id", "rank", "cosine_sim"]
    bf = {
        tuple(r)
        for r in brute_force_topk(full, queries, "embedding", "vec_id", k=5)
        .select(cols)
        .collect()
    }
    got = {
        tuple(r)
        for r in ivf_topk(
            index, queries, "embedding", "vec_id", st2["centroids"], k=5, nprobe=k_cells
        )
        .select(cols)
        .collect()
    }
    assert got == bf


def _mk_vecs(spark, ids, offset=0.0):
    rows = [
        (i, [float(i % 7) + 1.0 + offset, float((i * 3) % 5) + 1.0 + offset])
        for i in ids
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_compact_removes_replayed_appends(spark, tmp_path):
    """Round 8: the compaction the at-least-once append contract
    defers — a replayed batch's byte-identical rows collapse, the
    partitioned layout survives, and probe-all stays row-identical to
    the exactly-once corpus."""
    from open_data_pipelines_spark.operators.ivf import (
        append_to_ivf_index,
        compact_ivf_index,
    )

    base = _mk_vecs(spark, range(80))
    cents = train_centroids(base, "embedding", "vec_id", k=4, iters=3)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, "embedding", "vec_id", cents, path=path)

    batch = _mk_vecs(spark, range(80, 100))
    append_to_ivf_index(batch, "embedding", "vec_id", cents, path)
    append_to_ivf_index(batch, "embedding", "vec_id", cents, path)  # replay

    assert read_index(spark, path).count() == 120
    res = compact_ivf_index(spark, path, "vec_id")
    assert res == {
        "rows_before": 120,
        "rows_after": 100,
        "replay_rows": 20,
        "conflict_ids": 0,
    }
    idx = read_index(spark, path)
    assert idx.count() == 100
    assert "list_id" in idx.columns  # partitioned layout rewritten

    full = base.unionByName(batch)
    queries = _mk_vecs(spark, [0, 85])
    cols = ["query_id", "neighbor_id", "rank", "cosine_sim"]
    bf = {
        tuple(r)
        for r in brute_force_topk(full, queries, "embedding", "vec_id", k=5)
        .select(cols)
        .collect()
    }
    got = {
        tuple(r)
        for r in ivf_topk(idx, queries, "embedding", "vec_id", cents, k=5, nprobe=4)
        .select(cols)
        .collect()
    }
    assert got == bf


def test_compact_conflicting_payloads(spark, tmp_path):
    """Same id with two DIFFERENT payloads is not a replay: default
    raises with a bounded sample; on_conflict='min' keeps the
    lexicographically smallest payload, deterministically."""
    from open_data_pipelines_spark.operators.ivf import (
        append_to_ivf_index,
        compact_ivf_index,
    )

    base = _mk_vecs(spark, range(40))
    cents = train_centroids(base, "embedding", "vec_id", k=4, iters=3)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, "embedding", "vec_id", cents, path=path)
    # id 7 re-sent with a different vector
    conflict = spark.createDataFrame([(7, [99.0, 99.0])], ["vec_id", "embedding"])
    append_to_ivf_index(conflict, "embedding", "vec_id", cents, path)

    with pytest.raises(ValueError, match="multiple distinct payloads"):
        compact_ivf_index(spark, path, "vec_id")

    res = compact_ivf_index(spark, path, "vec_id", on_conflict="min")
    assert res["conflict_ids"] == 1 and res["rows_after"] == 40
    kept = (
        read_index(spark, path).filter(F.col("vec_id") == 7).collect()
    )
    assert len(kept) == 1
    # lexicographic min of the two payload vectors is the original
    assert list(kept[0]["embedding"]) == [float(7 % 7) + 1.0, float((7 * 3) % 5) + 1.0]


def test_retrain_compacts_replayed_appends(spark, tmp_path):
    """VERDICT r8 task #2: the append contract defers replay-dedup to
    retrain time — so the retrain rewrite itself must drop replay
    copies (compact_on_retrain default), not just the standalone
    compact operator. Replay a batch, then force a retrain: the
    rebuilt index holds exactly-once contents."""
    from open_data_pipelines_spark.operators.ivf import (
        append_to_ivf_index,
        global_mean_dist2,
        maintain_ivf_index,
    )

    base = _mk_vecs(spark, range(100))
    cents = train_centroids(base, "embedding", "vec_id", k=4, iters=5)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, "embedding", "vec_id", cents, path=path)
    baseline = global_mean_dist2(base, "embedding", cents)

    batch = _mk_vecs(spark, range(100, 120))
    append_to_ivf_index(batch, "embedding", "vec_id", cents, path)
    append_to_ivf_index(batch, "embedding", "vec_id", cents, path)  # replay
    assert read_index(spark, path).count() == 140

    drifted = _mk_vecs(spark, range(200, 240), offset=50.0)
    st = maintain_ivf_index(
        drifted, "embedding", "vec_id", cents, path, baseline, retrain_factor=2.0
    )
    assert st["retrained"] is True
    idx = read_index(spark, path)
    assert idx.count() == 160  # 100 + 20 (replay collapsed) + 40
    assert idx.select("vec_id").distinct().count() == 160

    # probe-all over the compacted, retrained index == brute force
    full = base.unionByName(batch).unionByName(drifted)
    queries = _mk_vecs(spark, [0, 101, 205])
    cols = ["query_id", "neighbor_id", "rank", "cosine_sim"]
    bf = {
        tuple(r)
        for r in brute_force_topk(full, queries, "embedding", "vec_id", k=5)
        .select(cols)
        .collect()
    }
    got = {
        tuple(r)
        for r in ivf_topk(
            idx, queries, "embedding", "vec_id", st["centroids"], k=5, nprobe=4
        )
        .select(cols)
        .collect()
    }
    assert got == bf

    # opt-out keeps the at-least-once rows (the caller's policy)
    drifted2 = _mk_vecs(spark, range(300, 320), offset=-50.0)
    st2 = maintain_ivf_index(
        drifted2,
        "embedding",
        "vec_id",
        st["centroids"],
        path,
        st["baseline_mean_dist2"],
        retrain_factor=2.0,
        compact_on_retrain=False,
    )
    assert st2["retrained"] is True
    assert read_index(spark, path).count() == 180


def test_retrain_schema_mismatch_fails_loud_not_silent_rebuild(spark, tmp_path):
    """Round-9 review find: the 'no index at path yet' AnalysisException
    guard must NOT swallow column-resolution failures on an EXISTING
    index — a drifted batch whose schema gained a column the on-disk
    index lacks used to fall through the handler, silently replacing
    the entire historical index with that one batch. Now only the read
    is guarded: the mismatch raises and the index is untouched."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.errors import AnalysisException

    from open_data_pipelines_spark.operators.ivf import (
        global_mean_dist2,
        maintain_ivf_index,
    )

    rows = [(i, [float(i % 7) + 1.0, float((i * 3) % 5) + 1.0]) for i in range(60)]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = train_centroids(base, "embedding", "vec_id", k=3, iters=3)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, "embedding", "vec_id", cents, path=path)
    baseline = global_mean_dist2(base, "embedding", cents)

    drifted = (
        spark.createDataFrame(
            [(1000 + i, [90.0 + i, 95.0 - i]) for i in range(10)],
            ["vec_id", "embedding"],
        )
        # the schema drift: a metadata column the index never had
        .withColumn("ts", F.lit("2026-01-01"))
    )
    with pytest.raises(AnalysisException):
        maintain_ivf_index(
            drifted, "embedding", "vec_id", cents, path, baseline, retrain_factor=2.0
        )
    # the on-disk index is untouched — all 60 historical rows survive
    assert read_index(spark, path).count() == 60
