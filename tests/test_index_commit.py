"""The index commit protocol: every persisted IVF / IVF-PQ index is a
manifest-committed generation.

The load-bearing invariants:

- a reader NEVER sees a partial index — an unpublished generation
  (crash before the pointer write) is invisible and the previous
  generation keeps resolving;
- probe-all == brute force holds across a committed retrain;
- data outside the manifest layout at an index path is never treated
  as a fresh index: maintenance, appends and first commits refuse,
  and the data is left untouched.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from open_data_pipelines_spark.operators.index_commit import (
    MANIFEST_DIR,
    commit_generation,
    latest_manifest,
    load_existing_index,
    read_index,
    resolve_index_path,
)
from open_data_pipelines_spark.operators.ivf import (
    append_to_ivf_index,
    build_ivf_index,
    compact_ivf_index,
    global_mean_dist2,
    ivf_topk,
    maintain_ivf_index,
    train_centroids,
)
from open_data_pipelines_spark.operators.similarity import brute_force_topk


def _vecs(spark, ids, offset=0.0):
    rows = [
        (i, [float(i % 7) + 1.0 + offset, float((i * 3) % 5) + 1.0 + offset])
        for i in ids
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def _topk_sets(spark, corpus, index, cents, queries, k_cells):
    cols = ["query_id", "neighbor_id", "rank", "cosine_sim"]
    bf = {
        tuple(r)
        for r in brute_force_topk(corpus, queries, "embedding", "vec_id", k=5)
        .select(cols)
        .collect()
    }
    got = {
        tuple(r)
        for r in ivf_topk(
            index, queries, "embedding", "vec_id", cents, k=5, nprobe=k_cells
        )
        .select(cols)
        .collect()
    }
    return bf, got


def test_manifest_build_layout_and_read(spark, tmp_path):
    """Generation-1 layout: _manifests/manifest-00000001.json points at
    gen-00000001/; read_index resolves it; the raw path itself holds no
    parquet (nothing to mistake for a bare layout)."""
    base = _vecs(spark, range(60))
    cents = train_centroids(base, "embedding", "vec_id", k=4, iters=2)
    path = str(tmp_path / "ivf")
    idx = build_ivf_index(base, "embedding", "vec_id", cents, path=path)
    assert idx.count() == 60

    m = latest_manifest(spark, path)
    assert m == {"generation": 1, "dir": "gen-00000001"}
    assert resolve_index_path(spark, path) == path + "/gen-00000001"
    assert sorted(os.listdir(path)) == [MANIFEST_DIR, "gen-00000001"]
    # partitioned layout inside the generation dir
    assert any(
        d.startswith("list_id=") for d in os.listdir(path + "/gen-00000001")
    )
    assert read_index(spark, path).count() == 60


def test_manifest_append_lands_in_current_generation(spark, tmp_path):
    base = _vecs(spark, range(60))
    cents = train_centroids(base, "embedding", "vec_id", k=4, iters=2)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, "embedding", "vec_id", cents, path=path)
    append_to_ivf_index(_vecs(spark, range(60, 80)), "embedding", "vec_id", cents, path)
    assert read_index(spark, path).count() == 80
    # still one generation — an append is not a commit
    assert latest_manifest(spark, path)["generation"] == 1


def test_manifest_retrain_probe_all_equals_brute_force(spark, tmp_path):
    """The verdict's done-criterion: probe-all == brute force across a
    manifest-committed retrain."""
    k_cells = 4
    base = _vecs(spark, range(100))
    cents = train_centroids(base, "embedding", "vec_id", k=k_cells, iters=5)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, "embedding", "vec_id", cents, path=path)
    baseline = global_mean_dist2(base, "embedding", cents)

    drifted = _vecs(spark, range(200, 240), offset=50.0)
    st = maintain_ivf_index(
        drifted, "embedding", "vec_id", cents, path, baseline,
        retrain_factor=2.0,
    )
    assert st["retrained"] is True
    m = latest_manifest(spark, path)
    assert m["generation"] == 2

    index = read_index(spark, path)
    assert index.count() == 140
    full = base.unionByName(drifted)
    queries = _vecs(spark, [0, 55, 205])
    bf, got = _topk_sets(spark, full, index, st["centroids"], queries, k_cells)
    assert got == bf


def test_manifest_crash_before_pointer_is_invisible(spark, tmp_path):
    """Crash injection: a fully-written generation directory with NO
    pointer file must be invisible to readers (they keep resolving the
    committed generation), and the next real commit must GC the orphan
    and take a fresh generation number above it."""
    base = _vecs(spark, range(60))
    cents = train_centroids(base, "embedding", "vec_id", k=4, iters=2)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, "embedding", "vec_id", cents, path=path)

    # simulate the crash: gen-2 layout written, pointer never published
    orphan = _vecs(spark, range(1000, 1010))
    orphan.withColumn("list_id", F.lit(0)).write.partitionBy("list_id").parquet(
        path + "/gen-00000002"
    )
    assert latest_manifest(spark, path)["generation"] == 1
    assert read_index(spark, path).count() == 60  # reader never sees gen-2

    # the next commit publishes atop the committed generation and GCs
    # the orphan (same number is reused: delete-then-write)
    deduped = read_index(spark, path)
    commit_generation(
        spark,
        path,
        lambda d: deduped.write.mode("overwrite").partitionBy("list_id").parquet(d),
    )
    assert latest_manifest(spark, path)["generation"] == 2
    assert read_index(spark, path).count() == 60


def test_manifest_partial_pointer_tmp_is_ignored(spark, tmp_path):
    """A crashed pointer write leaves manifest-N.json.tmp — readers
    must ignore it (only renamed-final pointers are commits)."""
    base = _vecs(spark, range(40))
    cents = train_centroids(base, "embedding", "vec_id", k=2, iters=1)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, "embedding", "vec_id", cents, path=path)
    stray = path + f"/{MANIFEST_DIR}/manifest-00000009.json.tmp"
    with open(stray, "w") as fh:
        fh.write(json.dumps({"generation": 9, "dir": "gen-00000009"})[:10])
    assert latest_manifest(spark, path)["generation"] == 1
    assert read_index(spark, path).count() == 40


def test_manifest_missing_generation_dir_raises(spark, tmp_path):
    """A pointer at a missing generation is corruption — the reader
    must refuse, never fall back to a stale or partial layout."""
    base = _vecs(spark, range(40))
    cents = train_centroids(base, "embedding", "vec_id", k=2, iters=1)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, "embedding", "vec_id", cents, path=path)
    import shutil

    shutil.rmtree(path + "/gen-00000001")
    with pytest.raises(IOError, match="does not exist"):
        resolve_index_path(spark, path)


def test_manifest_gc_keeps_two_generations(spark, tmp_path):
    """After repeated commits only the newest `keep=2` generations and
    pointers remain — in-flight readers of the previous generation
    survive, older ones are GC'd."""
    base = _vecs(spark, range(40))
    cents = train_centroids(base, "embedding", "vec_id", k=2, iters=1)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, "embedding", "vec_id", cents, path=path)
    for _ in range(3):
        snap = read_index(spark, path).localCheckpoint(eager=True)
        commit_generation(
            spark,
            path,
            lambda d, s=snap: s.write.mode("overwrite").partitionBy("list_id").parquet(d),
        )
    assert latest_manifest(spark, path)["generation"] == 4
    gens = sorted(d for d in os.listdir(path) if d.startswith("gen-"))
    assert gens == ["gen-00000003", "gen-00000004"]
    manifests = sorted(
        f
        for f in os.listdir(path + "/" + MANIFEST_DIR)
        if f.startswith("manifest-")  # Hadoop local FS adds .crc sidecars
    )
    assert manifests == ["manifest-00000003.json", "manifest-00000004.json"]
    assert read_index(spark, path).count() == 40


def test_manifest_compact_publishes_new_generation(spark, tmp_path):
    base = _vecs(spark, range(50))
    cents = train_centroids(base, "embedding", "vec_id", k=4, iters=2)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, "embedding", "vec_id", cents, path=path)
    batch = _vecs(spark, range(50, 70))
    append_to_ivf_index(batch, "embedding", "vec_id", cents, path)
    append_to_ivf_index(batch, "embedding", "vec_id", cents, path)  # replay
    assert read_index(spark, path).count() == 90
    res = compact_ivf_index(spark, path, "vec_id")
    assert res["rows_after"] == 70 and res["replay_rows"] == 20
    assert latest_manifest(spark, path)["generation"] == 2
    assert read_index(spark, path).count() == 70


def test_manifest_pq_retrain_probe_all(spark, tmp_path):
    """PQ layer: a manifest-committed retrain re-encodes everything
    with one model generation; probe-all ADC over the rebuilt index
    covers the whole corpus (count + per-query candidate sanity)."""
    from open_data_pipelines_spark.operators.pq import (
        build_ivf_pq_index,
        ivf_pq_topk,
        maintain_ivf_pq_index,
        train_pq,
    )

    k_cells = 4
    base = _vecs(spark, range(80))
    cents = train_centroids(base, "embedding", "vec_id", k=k_cells, iters=3)
    books = train_pq(base, "embedding", "vec_id", m=2, nbits=2, iters=2)
    path = str(tmp_path / "ivfpq")
    build_ivf_pq_index(base, "embedding", "vec_id", cents, books, path=path)
    baseline = global_mean_dist2(base, "embedding", cents)

    drifted = _vecs(spark, range(200, 230), offset=40.0)
    st = maintain_ivf_pq_index(
        drifted, "embedding", "vec_id", cents, books, path, baseline,
        retrain_factor=2.0, nbits=2,
    )
    assert st["retrained"] is True
    assert latest_manifest(spark, path)["generation"] == 2
    index = read_index(spark, path)
    assert index.count() == 110
    got = ivf_pq_topk(
        index, _vecs(spark, [0, 205]), "embedding", "vec_id",
        st["centroids"], st["codebooks"], k=5, nprobe=k_cells,
    )
    by_q = {r["query_id"] for r in got.collect()}
    assert by_q == {0, 205}


def test_manifest_fit_batches_on_virgin_path_initialize_generation(spark, tmp_path):
    """Round-10 review find (the silent-discard hazard, end to end):
    in the streaming maintenance order, FIT batches can arrive before
    any index exists. They must initialize generation 1 — a bare-path append would strand rows outside the
    manifest layout, and the eventual drift retrain would either
    refuse or (pre-fix) silently rebuild from the drifting batch
    alone, discarding every appended vector."""
    base = _vecs(spark, range(100))
    cents = train_centroids(base, "embedding", "vec_id", k=4, iters=3)
    baseline = global_mean_dist2(base, "embedding", cents)
    path = str(tmp_path / "ivf")
    assert load_existing_index(spark, path) is None  # genuinely fresh

    # fit batch on a VIRGIN path: initializes gen-1, never a bare append
    st = maintain_ivf_index(
        base, "embedding", "vec_id", cents, path, baseline,
        retrain_factor=2.0,
    )
    assert st["retrained"] is False
    assert latest_manifest(spark, path)["generation"] == 1
    assert read_index(spark, path).count() == 100

    # second fit batch appends INSIDE the committed generation
    calm = _vecs(spark, range(100, 120))
    maintain_ivf_index(
        calm, "embedding", "vec_id", cents, path, baseline,
        retrain_factor=2.0,
    )
    assert latest_manifest(spark, path)["generation"] == 1
    assert read_index(spark, path).count() == 120

    # the drift retrain sees ALL prior rows — the original bug dropped
    # them and rebuilt from the 40-row batch
    drifted = _vecs(spark, range(200, 240), offset=50.0)
    st2 = maintain_ivf_index(
        drifted, "embedding", "vec_id", cents, path, baseline,
        retrain_factor=2.0,
    )
    assert st2["retrained"] is True
    assert read_index(spark, path).count() == 160


def test_manifest_mode_refuses_unmanifested_data(spark, tmp_path):
    """Bare parquet at the path (stranded appends, or a layout from an
    older directory-swapping release) must make maintenance, appends,
    rebuilds and compaction raise — never treat the index as fresh and
    abandon it, and never publish a generation beside it."""
    base = _vecs(spark, range(60))
    cents = train_centroids(base, "embedding", "vec_id", k=4, iters=2)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, "embedding", "vec_id", cents).write.partitionBy(
        "list_id"
    ).parquet(path)
    layout = sorted(os.listdir(path))

    with pytest.raises(IOError, match="committed manifest"):
        load_existing_index(spark, path)

    drifted = _vecs(spark, range(200, 240), offset=50.0)
    with pytest.raises(IOError, match="committed manifest"):
        maintain_ivf_index(
            drifted, "embedding", "vec_id", cents, path,
            global_mean_dist2(base, "embedding", cents),
            retrain_factor=2.0,
        )
    # the fit path refuses too (it would strand MORE rows)
    with pytest.raises(IOError, match="committed manifest"):
        maintain_ivf_index(
            base, "embedding", "vec_id", cents, path,
            global_mean_dist2(base, "embedding", cents),
            retrain_factor=2.0,
        )
    with pytest.raises(IOError, match="no committed index"):
        append_to_ivf_index(
            _vecs(spark, range(60, 70)), "embedding", "vec_id", cents, path
        )
    # initialization onto the DIRTY root refuses at the commit
    # chokepoint instead of silently converting it
    with pytest.raises(IOError, match="non-manifest content"):
        build_ivf_index(base, "embedding", "vec_id", cents, path=path)
    with pytest.raises(IOError, match="no committed index"):
        compact_ivf_index(spark, path, "vec_id")
    # the bare layout is untouched by the refusals
    assert sorted(os.listdir(path)) == layout
    assert spark.read.parquet(path).count() == 60


def test_append_without_committed_manifest_raises_and_writes_nothing(spark, tmp_path):
    """An append to a path with no committed index raises instead of
    leaving bare rows outside the layout, which the next commit would
    then refuse to initialize over."""
    base = _vecs(spark, range(20))
    cents = train_centroids(base, "embedding", "vec_id", k=2, iters=1)
    path = str(tmp_path / "ivf")
    with pytest.raises(IOError, match="no committed index"):
        append_to_ivf_index(base, "embedding", "vec_id", cents, path)
    assert not os.path.exists(path)

    # orphan generations only (a crashed first commit): still no index
    orphan = path + "/gen-00000001"
    base.withColumn("list_id", F.lit(0)).write.partitionBy("list_id").parquet(orphan)
    with pytest.raises(IOError, match="no committed index"):
        append_to_ivf_index(base, "embedding", "vec_id", cents, path)
    assert os.listdir(path) == ["gen-00000001"]
    assert spark.read.parquet(orphan).count() == 20


def test_manifest_protocol_model_based(spark, tmp_path):
    """Randomized interleaving of the protocol's four events — commit,
    crash-before-pointer (orphan generation), crash-during-pointer
    (stray .tmp), append — against a driver-side model of what a
    reader must see. The invariant after EVERY step: read_index
    returns exactly the last committed content plus in-generation
    appends, and the committed generation number never goes backward.
    Deterministic seed; ~12 Spark writes."""
    import random

    from pyspark.sql import functions as F

    rnd = random.Random(20260815)
    path = str(tmp_path / "ivf")
    next_id = [0]

    def batch(n):
        ids = list(range(next_id[0], next_id[0] + n))
        next_id[0] += n
        return ids

    def frame(ids):
        return spark.createDataFrame(
            [(i, i % 3) for i in ids], ["vec_id", "list_id"]
        )

    visible: set[int] | None = None  # None = no commit yet
    last_gen = 0
    ops_done = {"commit": 0, "crash_gen": 0, "crash_tmp": 0, "append": 0}
    for _ in range(12):
        choices = ["commit", "crash_gen", "crash_tmp"]
        if visible is not None:
            choices += ["append", "append"]
        op = rnd.choice(choices)
        ops_done[op] += 1
        if op == "commit":
            ids = set(batch(rnd.randint(3, 8)))
            snap = frame(sorted(ids))
            commit_generation(
                spark,
                path,
                lambda d, s=snap: s.write.mode("overwrite")
                .partitionBy("list_id")
                .parquet(d),
            )
            visible = ids
        elif op == "crash_gen":
            # fully-written generation dir, pointer never published
            gen = last_gen + 1
            frame(batch(4)).write.mode("overwrite").partitionBy("list_id").parquet(
                f"{path}/gen-{gen:08d}"
            )
        elif op == "crash_tmp":
            os.makedirs(f"{path}/{MANIFEST_DIR}", exist_ok=True)
            with open(
                f"{path}/{MANIFEST_DIR}/manifest-{last_gen + 7:08d}.json.tmp", "w"
            ) as fh:
                fh.write('{"generation":')  # torn write
        else:  # append
            ids = set(batch(rnd.randint(1, 4)))
            frame(sorted(ids)).write.mode("append").partitionBy("list_id").parquet(
                resolve_index_path(spark, path)
            )
            visible = visible | ids

        m = latest_manifest(spark, path)
        if visible is None:
            assert m is None
            continue
        assert m is not None and m["generation"] >= last_gen
        last_gen = m["generation"]
        got = {r["vec_id"] for r in read_index(spark, path).collect()}
        assert got == visible, (op, sorted(got ^ visible))
    # the run must have exercised every event kind at least once
    assert all(ops_done.values()), ops_done
