"""Streaming IVF maintenance: in-distribution batches append against
the frozen bank; a drifted batch triggers retrain+remap inside its
micro-batch; probe-all stays row-identical to brute force after the
drain."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from open_data_pipelines_spark.operators.index_commit import (
    latest_manifest,
    read_index,
)
from open_data_pipelines_spark.operators.ivf import (
    build_ivf_index,
    global_mean_dist2,
    ivf_topk,
    train_centroids,
)
from open_data_pipelines_spark.operators.similarity import brute_force_topk
from open_data_pipelines_spark.streaming.ivf_stream import stream_embeddings_to_ivf

K_CELLS = 4


def _vecs(spark, ids, offset=0.0):
    rows = [
        (i, [float(i % 7) + 1.0 + offset, float((i * 3) % 5) + 1.0 + offset])
        for i in ids
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_stream_maintains_index_and_retrains_on_drift(spark, tmp_path):
    base = _vecs(spark, range(100))
    cents = train_centroids(base, "embedding", "vec_id", k=K_CELLS, iters=5)
    index_path = str(tmp_path / "ivf")
    build_ivf_index(base, "embedding", "vec_id", cents, path=index_path)
    baseline = global_mean_dist2(base, "embedding", cents)

    # two drops, one file each (maxFilesPerTrigger=1 -> two batches):
    # calm batch then a far-shifted one
    landing = str(tmp_path / "landing")
    calm = _vecs(spark, range(100, 120))
    drifted = _vecs(spark, range(200, 240), offset=50.0)
    calm.repartition(1).write.parquet(landing)
    # 1.1s gap: FileStreamSource orders files by modification time,
    # and equal ms-resolution stamps can process the drifted file
    # FIRST, retraining before the calm batch arrives (round-9
    # test-review find; same guard as test_scd2_stream)
    time.sleep(1.1)
    drifted.repartition(1).write.mode("append").parquet(landing)

    stream = (
        spark.readStream.format("parquet")
        .schema(calm.schema)
        .option("maxFilesPerTrigger", 1)
        .load(landing)
    )
    q, state = stream_embeddings_to_ivf(
        stream,
        "embedding",
        "vec_id",
        index_path,
        str(tmp_path / "ckpt"),
        cents,
        baseline,
        retrain_factor=2.0,
    )
    q.awaitTermination(120)

    assert state["batches"] == 2
    assert state["retrains"] == 1  # only the drifted batch trips the gate
    assert state["centroids"] != cents

    index = read_index(spark, index_path)
    assert index.count() == 160

    full = base.unionByName(calm).unionByName(drifted)
    queries = _vecs(spark, [0, 101])
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
            index, queries, "embedding", "vec_id", state["centroids"], k=5,
            nprobe=K_CELLS,
        )
        .select(cols)
        .collect()
    }
    assert got == bf


def test_drift_first_batch_on_fresh_index_path(spark, tmp_path):
    """Code-review r7 finding: a drifted FIRST batch on an index path
    nothing has written yet must retrain on the batch alone, not crash
    inside foreachBatch on the missing parquet."""
    base = _vecs(spark, range(100))
    cents = train_centroids(base, "embedding", "vec_id", k=K_CELLS, iters=5)
    baseline = global_mean_dist2(base, "embedding", cents)

    landing = str(tmp_path / "landing")
    drifted = _vecs(spark, range(300, 340), offset=50.0)
    drifted.repartition(1).write.parquet(landing)

    index_path = str(tmp_path / "fresh_ivf")  # never built
    stream = (
        spark.readStream.format("parquet").schema(drifted.schema).load(landing)
    )
    q, state = stream_embeddings_to_ivf(
        stream,
        "embedding",
        "vec_id",
        index_path,
        str(tmp_path / "ckpt"),
        cents,
        baseline,
        retrain_factor=2.0,
    )
    q.awaitTermination(120)
    assert state["retrains"] == 1 and state["batches"] == 1

    index = read_index(spark, index_path)
    assert index.count() == 40
    queries = _vecs(spark, [301], offset=50.0)
    cols = ["query_id", "neighbor_id", "rank", "cosine_sim"]
    bf = {
        tuple(r)
        for r in brute_force_topk(drifted, queries, "embedding", "vec_id", k=5)
        .select(cols)
        .collect()
    }
    got = {
        tuple(r)
        for r in ivf_topk(
            index, queries, "embedding", "vec_id", state["centroids"], k=5,
            nprobe=K_CELLS,
        )
        .select(cols)
        .collect()
    }
    assert got == bf


def test_bank_state_survives_restart(spark, tmp_path):
    """VERDICT r7 task #3: with state_path, a restarted stream resumes
    against the PERSISTED bank — the second session is handed a
    deliberately bogus seed bank (which WOULD trip the drift gate) and
    must ignore it in favour of the sidecar: no spurious retrain, and
    probe-all stays row-identical to brute force."""
    base = _vecs(spark, range(100))
    cents = train_centroids(base, "embedding", "vec_id", k=K_CELLS, iters=5)
    index_path = str(tmp_path / "ivf")
    build_ivf_index(base, "embedding", "vec_id", cents, path=index_path)
    baseline = global_mean_dist2(base, "embedding", cents)

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    bank = str(tmp_path / "bank.json")

    # session 1: one calm batch, persisting the bank sidecar
    calm1 = _vecs(spark, range(100, 120))
    calm1.repartition(1).write.parquet(landing)
    stream = (
        spark.readStream.format("parquet").schema(calm1.schema).load(landing)
    )
    q, s1 = stream_embeddings_to_ivf(
        stream, "embedding", "vec_id", index_path, ckpt,
        cents, baseline, retrain_factor=2.0, state_path=bank,
    )
    q.awaitTermination(120)
    assert s1["batches"] == 1 and s1["retrains"] == 0

    # session 2 (restart): second calm file; the seed args are a bogus
    # far-off bank + near-zero baseline that WOULD force a retrain if
    # the sidecar were ignored
    calm2 = _vecs(spark, range(120, 140))
    calm2.repartition(1).write.mode("append").parquet(landing)
    bogus_cents = [[1e6, 1e6] for _ in range(K_CELLS)]
    stream2 = (
        spark.readStream.format("parquet").schema(calm2.schema).load(landing)
    )
    q2, s2 = stream_embeddings_to_ivf(
        stream2, "embedding", "vec_id", index_path, ckpt,
        bogus_cents, 1e-12, retrain_factor=2.0, state_path=bank,
    )
    q2.awaitTermination(120)
    assert s2["centroids"] == cents  # resumed the persisted bank
    assert s2["retrains"] == 0       # calm batch against the true bank
    assert s2["batches"] == 2        # counter carried across sessions

    index = read_index(spark, index_path)
    assert index.count() == 140
    full = base.unionByName(calm1).unionByName(calm2)
    queries = _vecs(spark, [0, 101, 121])
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
            index, queries, "embedding", "vec_id", s2["centroids"], k=5,
            nprobe=K_CELLS,
        )
        .select(cols)
        .collect()
    }
    assert got == bf


# ---------------------------------------------------------------- PQ twin


def _vecs4(spark, ids, offset=0.0):
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


def test_pq_bank_survives_restart(spark, tmp_path):
    """VERDICT r8 task #1: the PQ twin of the IVF bank sidecar — a
    restarted PQ-maintained stream resumes BOTH the cell bank and the
    codebooks from the sidecar (the second session's seeds are
    deliberately bogus and would both trip the drift gate and corrupt
    ADC if used), no spurious retrain fires, and the composed
    probe-all + corpus-sized-shortlist search over the maintained
    index is row-identical to brute force across sessions, scoring ADC
    against the PERSISTED generation's codebooks."""
    from open_data_pipelines_spark.operators.pq import (
        build_ivf_pq_index,
        ivf_pq_topk,
        train_pq,
    )
    from open_data_pipelines_spark.streaming.ivf_stream import (
        stream_embeddings_to_ivf_pq,
    )

    m, nbits = 2, 3
    base = _vecs4(spark, range(100))
    cents = train_centroids(base, "embedding", "vec_id", k=K_CELLS, iters=5)
    books = train_pq(base, "embedding", "vec_id", m=m, nbits=nbits, iters=3)
    index_path = str(tmp_path / "ivfpq")
    build_ivf_pq_index(base, "embedding", "vec_id", cents, books, index_path)
    baseline = global_mean_dist2(base, "embedding", cents)

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    bank = str(tmp_path / "bank.json")

    # session 1: one calm batch, persisting bank + codebooks + width
    calm1 = _vecs4(spark, range(100, 120))
    calm1.repartition(1).write.parquet(landing)
    stream = (
        spark.readStream.format("parquet").schema(calm1.schema).load(landing)
    )
    q, s1 = stream_embeddings_to_ivf_pq(
        stream, "embedding", "vec_id", index_path, ckpt,
        cents, books, baseline, retrain_factor=2.0, nbits=nbits,
        state_path=bank,
    )
    q.awaitTermination(120)
    assert s1["batches"] == 1 and s1["retrains"] == 0 and s1["generation"] == 0
    assert s1["nbits"] == nbits

    # session 2 (restart): bogus seeds that would retrain AND mis-score
    # ADC if the sidecar were ignored
    calm2 = _vecs4(spark, range(120, 140))
    calm2.repartition(1).write.mode("append").parquet(landing)
    bogus_cents = [[1e6] * 4 for _ in range(K_CELLS)]
    bogus_books = [[[1e6, 1e6] for _ in range(1 << nbits)] for _ in range(m)]
    stream2 = (
        spark.readStream.format("parquet").schema(calm2.schema).load(landing)
    )
    q2, s2 = stream_embeddings_to_ivf_pq(
        stream2, "embedding", "vec_id", index_path, ckpt,
        bogus_cents, bogus_books, 1e-12, retrain_factor=2.0, nbits=nbits,
        state_path=bank,
    )
    q2.awaitTermination(120)
    assert s2["centroids"] == cents    # resumed the persisted bank
    assert s2["codebooks"] == books    # ...and the persisted codebooks
    assert s2["retrains"] == 0 and s2["generation"] == 0
    assert s2["batches"] == 2          # counter carried across sessions

    index = read_index(spark, index_path)
    assert index.count() == 140
    full = base.unionByName(calm1).unionByName(calm2)
    queries = _vecs4(spark, [0, 101, 121])
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
            index, queries, "embedding", "vec_id",
            s2["centroids"], s2["codebooks"],
            k=5, nprobe=K_CELLS, rescore_factor=1000,
        )
        .select(cols)
        .collect()
    }
    assert got == bf


def test_pq_stream_retrain_bumps_generation_and_persists(spark, tmp_path):
    """A drifted batch retrains both models inside its micro-batch;
    the sidecar's generation counter increments and the NEXT session
    scores ADC against the retrained codebooks, not the originals."""
    from open_data_pipelines_spark.operators.pq import (
        build_ivf_pq_index,
        ivf_pq_topk,
        train_pq,
    )
    from open_data_pipelines_spark.streaming.ivf_stream import (
        load_bank_state,
        stream_embeddings_to_ivf_pq,
    )

    m, nbits = 2, 3
    base = _vecs4(spark, range(100))
    cents = train_centroids(base, "embedding", "vec_id", k=K_CELLS, iters=5)
    books = train_pq(base, "embedding", "vec_id", m=m, nbits=nbits, iters=3)
    index_path = str(tmp_path / "ivfpq")
    build_ivf_pq_index(base, "embedding", "vec_id", cents, books, index_path)
    baseline = global_mean_dist2(base, "embedding", cents)

    landing = str(tmp_path / "landing")
    bank = str(tmp_path / "bank.json")
    drifted = _vecs4(spark, range(200, 240), offset=50.0)
    drifted.repartition(1).write.parquet(landing)
    stream = (
        spark.readStream.format("parquet").schema(drifted.schema).load(landing)
    )
    q, st = stream_embeddings_to_ivf_pq(
        stream, "embedding", "vec_id", index_path, str(tmp_path / "ckpt"),
        cents, books, baseline, retrain_factor=2.0, nbits=nbits,
        state_path=bank,
    )
    q.awaitTermination(120)
    assert st["retrains"] == 1 and st["generation"] == 1
    assert st["codebooks"] != books
    # retrained width stays pinned at the configured nbits
    assert all(len(book) == 1 << nbits for book in st["codebooks"])

    persisted = load_bank_state(bank)
    assert persisted["generation"] == 1
    assert persisted["codebooks"] == st["codebooks"]

    # search with the persisted generation is exact at probe-all
    index = read_index(spark, index_path)
    full = base.unionByName(drifted)
    queries = _vecs4(spark, [0, 205])
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
            index, queries, "embedding", "vec_id",
            persisted["centroids"], persisted["codebooks"],
            k=5, nprobe=K_CELLS, rescore_factor=1000,
        )
        .select(cols)
        .collect()
    }
    assert got == bf


def test_sidecar_validation_rejects_stale_banks(spark, tmp_path):
    """ADVICE r8: a loaded sidecar must be structurally compatible
    with the seeds — wrong dim, wrong index path, an IVF-only sidecar
    feeding a PQ stream, or a different pinned nbits all fail loud
    instead of silently resuming the wrong model."""
    import json

    import pytest

    from open_data_pipelines_spark.streaming.ivf_stream import (
        stream_embeddings_to_ivf,
        stream_embeddings_to_ivf_pq,
    )

    landing = str(tmp_path / "landing")
    _vecs(spark, range(5)).repartition(1).write.parquet(landing)

    def mk_stream():
        return (
            spark.readStream.format("parquet")
            .schema(_vecs(spark, [0]).schema)
            .load(landing)
        )

    index_path = str(tmp_path / "ivf")
    bank = str(tmp_path / "bank.json")
    cents2d = [[0.0, 0.0] for _ in range(K_CELLS)]

    # dim mismatch: sidecar written for a 4-dim space
    with open(bank, "w") as fh:
        json.dump(
            {
                "centroids": [[0.0] * 4 for _ in range(K_CELLS)],
                "baseline_mean_dist2": 1.0,
                "retrains": 0,
                "batches": 1,
                "index_path": index_path,
            },
            fh,
        )
    with pytest.raises(ValueError, match="persisted dim 4 != seed dim 2"):
        stream_embeddings_to_ivf(
            mk_stream(), "embedding", "vec_id", index_path,
            str(tmp_path / "c1"), cents2d, 1.0, state_path=bank,
        )

    # wrong index path
    with open(bank, "w") as fh:
        json.dump(
            {
                "centroids": cents2d,
                "baseline_mean_dist2": 1.0,
                "retrains": 0,
                "batches": 1,
                "index_path": str(tmp_path / "some_other_index"),
            },
            fh,
        )
    with pytest.raises(ValueError, match="wrong sidecar"):
        stream_embeddings_to_ivf(
            mk_stream(), "embedding", "vec_id", index_path,
            str(tmp_path / "c2"), cents2d, 1.0, state_path=bank,
        )

    # IVF-only sidecar cannot seed a PQ stream
    books = [[[0.0] for _ in range(4)]]  # m=1, dsub=1, nbits=2
    with open(bank, "w") as fh:
        json.dump(
            {
                "centroids": cents2d,
                "baseline_mean_dist2": 1.0,
                "retrains": 0,
                "batches": 1,
                "index_path": index_path,
            },
            fh,
        )
    with pytest.raises(ValueError, match="IVF-only sidecar"):
        stream_embeddings_to_ivf_pq(
            mk_stream(), "embedding", "vec_id", index_path,
            str(tmp_path / "c3"), cents2d, books, 1.0, state_path=bank,
        )

    # pinned nbits mismatch
    with open(bank, "w") as fh:
        json.dump(
            {
                "centroids": cents2d,
                "codebooks": books,
                "nbits": 3,
                "generation": 0,
                "baseline_mean_dist2": 1.0,
                "retrains": 0,
                "batches": 1,
                "index_path": index_path,
            },
            fh,
        )
    with pytest.raises(ValueError, match="nbits=3 != configured nbits=2"):
        stream_embeddings_to_ivf_pq(
            mk_stream(), "embedding", "vec_id", index_path,
            str(tmp_path / "c4"), cents2d, books, 1.0, nbits=2,
            state_path=bank,
        )

    # k mismatch only warns (legit after retrain with explicit k)
    with open(bank, "w") as fh:
        json.dump(
            {
                "centroids": cents2d + [[0.0, 0.0]],
                "baseline_mean_dist2": 1.0,
                "retrains": 0,
                "batches": 1,
                "index_path": index_path,
            },
            fh,
        )
    with pytest.warns(UserWarning, match="persisted k=5 != seed k=4"):
        q, _ = stream_embeddings_to_ivf(
            mk_stream(), "embedding", "vec_id", index_path,
            str(tmp_path / "c5"), cents2d, 1e9, state_path=bank,
        )
        q.awaitTermination(120)


def test_stream_manifest_commit_end_to_end(spark, tmp_path):
    """The manifest commit through the REAL foreachBatch path, starting
    from a VIRGIN index path (the round-10 review's silent-discard
    scenario): fit batch 1 initializes generation 1, fit batch 2
    appends inside it, the drifted batch retrains to generation 2 with
    ALL prior rows, and probe-all == brute force after the drain."""
    base = _vecs(spark, range(100))
    cents = train_centroids(base, "embedding", "vec_id", k=K_CELLS, iters=5)
    baseline = global_mean_dist2(base, "embedding", cents)
    index_path = str(tmp_path / "ivf")  # never pre-built: virgin path

    landing = str(tmp_path / "landing")
    calm = _vecs(spark, range(100, 120))
    drifted = _vecs(spark, range(200, 240), offset=50.0)
    base.repartition(1).write.parquet(landing)
    time.sleep(1.1)  # mtime-ordered batches (see the first test)
    calm.repartition(1).write.mode("append").parquet(landing)
    time.sleep(1.1)
    drifted.repartition(1).write.mode("append").parquet(landing)

    stream = (
        spark.readStream.format("parquet")
        .schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .load(landing)
    )
    q, state = stream_embeddings_to_ivf(
        stream,
        "embedding",
        "vec_id",
        index_path,
        str(tmp_path / "ckpt"),
        cents,
        baseline,
        retrain_factor=2.0,
    )
    q.awaitTermination()

    assert state["batches"] == 3 and state["retrains"] == 1
    assert latest_manifest(spark, index_path)["generation"] == 2
    index = read_index(spark, index_path)
    assert index.count() == 160  # nothing discarded across the retrain

    full = base.unionByName(calm).unionByName(drifted)
    queries = _vecs(spark, [0, 101, 205])
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
            index, queries, "embedding", "vec_id", state["centroids"],
            k=5, nprobe=K_CELLS,
        )
        .select(cols)
        .collect()
    }
    assert got == bf
