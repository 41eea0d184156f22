"""Streaming IVF / IVF+PQ index maintenance (engine extension):
embeddings arrive continuously (the vector-side twin of
:mod:`.media_stream` / :mod:`.corpus_stream`), and each micro-batch
flows through the drift-gated policy of
:func:`..operators.ivf.maintain_ivf_index` (or its PQ-layer extension
:func:`..operators.pq.maintain_ivf_pq_index`):

- in-distribution batches assign against the FROZEN centroid bank (a
  pure codegen projection — streaming-safe by construction) and append
  into the ``partitionBy(list_id)`` layout, touching only the
  partitions the batch lands in;
- a batch whose mean nearest-centroid distance trips
  ``retrain_factor``x the training-time baseline triggers a retrain on
  existing+batch and a full remap inside that batch's ``foreachBatch``
  call, so the index is always a single-model-generation assignment and
  probe-all stays row-identical to brute force between batches.

Delivery posture is the same at-least-once append as the other bronze
sinks: a replayed batch re-appends rows (parquet cannot dedup by
itself) — dedup the stream on the id upstream, or rely on the
retrain-time compaction (``compact_on_retrain``, on by default) /
:func:`..operators.ivf.compact_ivf_index` between retrains, exactly
the contract documented on ``append_to_ivf_index``.

The model is driver-side state (O(k x dim) floats for the cell bank,
plus m x 2^nbits x dim/m for the PQ codebooks — the model, never
data), carried across batches in the returned state box and — when
``state_path`` is given — persisted to a JSON sidecar after every
batch, so a restarted stream resumes against the SAME model generation
it left off with (no spurious retrain, no manual re-handoff; for PQ,
ADC scoring after a restart uses the persisted generation's codebooks,
never the seed's): the restart twin of the Structured Streaming
checkpoint, for the model the checkpoint cannot carry. The sidecar
write is atomic (tmp + rename); after a crash between a batch's index
append and its sidecar write, the replayed batch re-runs against the
previous generation — the same at-least-once posture as the data
append. A loaded sidecar is validated against the seed arguments
(vector dim, PQ shape, index path) before it overrides them — a stale
``bank.json`` from a different index cannot silently resume the wrong
model; delete the sidecar to force a fresh bank from the seeds.
Reference anchor: the run-metadata evidence discipline
(``src/data_processors/utils/metadata_logger.py:35-137``).
"""

from __future__ import annotations

import json
import os
import warnings

from pyspark.sql import DataFrame

from ..operators.ivf import maintain_ivf_index
from ..operators.pq import Codebooks, maintain_ivf_pq_index


def load_bank_state(state_path: str) -> dict | None:
    """Persisted model sidecar or None when no stream has written one
    yet. IVF streams persist {centroids, baseline_mean_dist2, retrains,
    batches, index_path}; PQ streams add {codebooks, nbits,
    generation}."""
    try:
        with open(state_path) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def _save_bank_state(state_path: str, state: dict) -> None:
    tmp = state_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(state, fh)
    os.replace(tmp, state_path)


def _validate_bank_state(
    persisted: dict,
    state_path: str,
    index_path: str,
    seed_centroids: list[list[float]],
    seed_codebooks: Codebooks | None = None,
    nbits: int | None = None,
) -> None:
    """Structural compatibility of a loaded sidecar with the seed
    arguments — the persisted VALUES legitimately differ (that is the
    point of resuming), but the persisted SHAPE must match what the
    caller's queries expect. Hard failures (delete ``state_path`` to
    force a fresh bank from the seeds): vector dim, PQ subspace
    count / code width, or a sidecar recorded for a different
    ``index_path``. A cell-count (k) difference only warns: a retrain
    with an explicit ``k`` legitimately changes it across sessions."""
    p_cents = persisted.get("centroids") or []
    if p_cents and seed_centroids:
        p_dim, s_dim = len(p_cents[0]), len(seed_centroids[0])
        if p_dim != s_dim:
            raise ValueError(
                f"bank sidecar {state_path}: persisted dim {p_dim} != seed "
                f"dim {s_dim} — this sidecar belongs to a different embedding "
                "space; delete it to force a fresh bank"
            )
        if len(p_cents) != len(seed_centroids):
            warnings.warn(
                f"bank sidecar {state_path}: persisted k={len(p_cents)} != "
                f"seed k={len(seed_centroids)} (legitimate after a retrain "
                "with an explicit k; resuming the persisted bank)",
                stacklevel=3,
            )
    p_index = persisted.get("index_path")
    if p_index is not None and p_index != index_path:
        raise ValueError(
            f"bank sidecar {state_path}: recorded for index {p_index!r}, "
            f"stream targets {index_path!r} — wrong sidecar; delete it or "
            "point state_path at this index's own bank"
        )
    if seed_codebooks is not None:
        p_books = persisted.get("codebooks")
        if p_books is None:
            raise ValueError(
                f"bank sidecar {state_path}: an IVF-only sidecar cannot seed "
                "a PQ stream (no codebooks persisted); delete it to retrain "
                "from the seed codebooks"
            )
        if len(p_books) != len(seed_codebooks):
            raise ValueError(
                f"bank sidecar {state_path}: persisted m={len(p_books)} != "
                f"seed m={len(seed_codebooks)} subspaces — ADC codes are "
                "incompatible; delete the sidecar to force a fresh model"
            )
        p_nbits = persisted.get("nbits")
        if nbits is not None and p_nbits is not None and p_nbits != nbits:
            raise ValueError(
                f"bank sidecar {state_path}: persisted nbits={p_nbits} != "
                f"configured nbits={nbits} — code width is pinned per index; "
                "delete the sidecar to re-encode at the new width"
            )


def stream_embeddings_to_ivf(
    stream: DataFrame,
    vec_col: str,
    id_col: str,
    index_path: str,
    checkpoint_dir: str,
    centroids: list[list[float]],
    baseline_mean_dist2: float,
    retrain_factor: float = 2.0,
    k: int | None = None,
    iters: int = 3,
    state_path: str | None = None,
    compact_on_retrain: bool = True,
):
    """availableNow drain of an embedding stream into a maintained IVF
    index. Returns ``(query, state)``; ``state`` is updated per batch:
    ``centroids``, ``baseline_mean_dist2``, ``retrains`` (count), and
    ``batches``. With ``state_path`` (conventionally a ``bank.json``
    NEXT TO — not inside — ``checkpoint_dir``, which Spark owns) the
    sidecar is loaded on start when present — validated against the
    seed shape, then the passed ``centroids``/``baseline_mean_dist2``
    only seed the FIRST session — and saved after every batch. Delete
    the sidecar to force a fresh bank from the seeds.

    The index is manifest-committed (:mod:`..operators.index_commit`):
    appends land in the current generation and every retrain publishes
    a new one, so a reader never sees a half-rewritten index. A fresh
    ``index_path`` is initialized by the first batch."""
    state = {
        "centroids": centroids,
        "baseline_mean_dist2": baseline_mean_dist2,
        "retrains": 0,
        "batches": 0,
        "index_path": index_path,
    }
    if state_path is not None:
        persisted = load_bank_state(state_path)
        if persisted is not None:
            _validate_bank_state(persisted, state_path, index_path, centroids)
            state.update(persisted)
            state["index_path"] = index_path

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = maintain_ivf_index(
            batch_df,
            vec_col,
            id_col,
            state["centroids"],
            index_path,
            state["baseline_mean_dist2"],
            retrain_factor=retrain_factor,
            k=k,
            iters=iters,
            compact_on_retrain=compact_on_retrain,
        )
        state["centroids"] = res["centroids"]
        state["baseline_mean_dist2"] = res["baseline_mean_dist2"]
        state["retrains"] += int(res["retrained"])
        state["batches"] += 1
        if state_path is not None:
            _save_bank_state(state_path, state)

    query = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return query, state


def stream_embeddings_to_ivf_pq(
    stream: DataFrame,
    vec_col: str,
    id_col: str,
    index_path: str,
    checkpoint_dir: str,
    centroids: list[list[float]],
    codebooks: Codebooks,
    baseline_mean_dist2: float,
    retrain_factor: float = 2.0,
    k: int | None = None,
    iters: int = 3,
    train_fraction: float | None = None,
    nbits: int | None = None,
    state_path: str | None = None,
    compact_on_retrain: bool = True,
):
    """The PQ twin of :func:`stream_embeddings_to_ivf` (VERDICT r8
    task #1): each micro-batch flows through
    :func:`..operators.pq.maintain_ivf_pq_index`, so the drift gate
    covers BOTH models that age together — the cell bank and the
    subspace codebooks — and the sidecar persists both, plus the code
    width and a ``generation`` counter that increments on every
    retrain. After a restart, ADC scoring must use
    ``state["codebooks"]`` (the persisted generation), never the seed
    codebooks: the index's ``pq_code`` column was written by that
    generation, and scoring codes against any other codebook silently
    degrades recall — the exact failure the sidecar exists to prevent.

    ``nbits`` defaults to the width of the seed codebooks and is
    PINNED in the sidecar thereafter — retrains always pass it
    explicitly, so the width never decays across generations (the
    ``maintain_ivf_pq_index`` inference hazard).

    Returns ``(query, state)`` with state keys ``centroids``,
    ``codebooks``, ``baseline_mean_dist2``, ``nbits``, ``generation``,
    ``retrains``, ``batches``, ``index_path``. Delete the sidecar to
    force a fresh model from the seeds. The index commit protocol is
    the one :func:`stream_embeddings_to_ivf` documents."""
    if nbits is None:
        nbits = (len(codebooks[0]) - 1).bit_length()
        if len(codebooks[0]) != 1 << nbits:
            # seed books are not exactly full (train_pq seeds at most
            # one centroid per training row), so the inferred width is
            # SMALLER than the configured one and gets pinned in the
            # sidecar for every future generation — plus a later
            # restart passing the true nbits explicitly would fail
            # sidecar validation on a healthy index. Pass nbits.
            warnings.warn(
                f"stream_embeddings_to_ivf_pq: inferring nbits={nbits} from "
                f"seed codebooks holding {len(codebooks[0])} centroids "
                f"(not a full 2**nbits) — the inferred width is pinned in "
                "the sidecar; pass nbits explicitly to pin the configured "
                "width",
                stacklevel=2,
            )
    state = {
        "centroids": centroids,
        "codebooks": codebooks,
        "baseline_mean_dist2": baseline_mean_dist2,
        "nbits": nbits,
        "generation": 0,
        "retrains": 0,
        "batches": 0,
        "index_path": index_path,
    }
    if state_path is not None:
        persisted = load_bank_state(state_path)
        if persisted is not None:
            _validate_bank_state(
                persisted, state_path, index_path, centroids, codebooks, nbits
            )
            state.update(persisted)
            state["index_path"] = index_path

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = maintain_ivf_pq_index(
            batch_df,
            vec_col,
            id_col,
            state["centroids"],
            state["codebooks"],
            index_path,
            state["baseline_mean_dist2"],
            retrain_factor=retrain_factor,
            k=k,
            iters=iters,
            train_fraction=train_fraction,
            nbits=state["nbits"],
            compact_on_retrain=compact_on_retrain,
        )
        state["centroids"] = res["centroids"]
        state["codebooks"] = res["codebooks"]
        state["baseline_mean_dist2"] = res["baseline_mean_dist2"]
        state["retrains"] += int(res["retrained"])
        state["generation"] += int(res["retrained"])
        state["batches"] += 1
        if state_path is not None:
            _save_bank_state(state_path, state)

    query = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return query, state
