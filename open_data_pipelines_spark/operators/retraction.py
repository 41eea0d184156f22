"""Document retraction (engine extension): remove a tombstone list of
doc ids from a built corpus — the takedown/GDPR operation a
production training-data pipeline must support without rebuilding the
corpus from scratch.

Three layers, cheapest first:

- **Un-packed frames** (bronze, chunk tables): one broadcast
  anti-join on the id — tombstone lists are small by nature (takedown
  requests, opt-outs).
- **Packed frames**: dropping a doc's chunks breaks the affected
  packs' integrity (``pack_tokens`` would lie, and a pack is a
  training unit). :func:`retract_from_packed` drops tombstoned rows
  and RE-PACKS ONLY the packing domains that contained them —
  surviving domains keep their pack ids byte-for-byte, so the blast
  radius is |affected domains|, not the corpus.
- **Audit**: :func:`retraction_audit` counts what was removed and
  which domains were touched — the evidence row a takedown process
  files.

Determinism: re-packing a domain uses the same greedy key order as
:func:`.packing.pack_chunks`, so the operation is reproducible and
idempotent (retracting an absent id is a no-op).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .packing import pack_chunks


def _tombstone_ids(tombstones: DataFrame, id_col: str) -> DataFrame:
    """Normalize the tombstone frame to one distinct id column (the
    'first column is the id' convention, in ONE place) — broadcast-
    hinted, since takedown lists are dim-sized by nature."""
    ids = tombstones.select(F.col(tombstones.columns[0]).alias(id_col)).distinct()
    return F.broadcast(ids)


def _tombstone_join(df: DataFrame, tombstones: DataFrame, id_col: str) -> DataFrame:
    return df.join(_tombstone_ids(tombstones, id_col), id_col, "left_anti")


def retract_documents(
    df: DataFrame,
    tombstones: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove every row whose ``id_col`` appears in ``tombstones``
    (first column of the frame). Schema unchanged."""
    return _tombstone_join(df, tombstones, id_col)


def retract_from_packed(
    packed: DataFrame,
    tombstones: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    key_col: str = "__ck",
    tokens_col: str = "__ct",
    pack_col: str = "pack_id",
    pack_tokens_col: str = "pack_tokens",
) -> DataFrame:
    """Retract docs from a packed corpus, re-packing ONLY the domains
    that lost rows.

    ``packed`` must carry the packer's key/token columns (the
    ``prepare_corpus`` pack stage drops them — run packing with
    ``keep_keys=True`` semantics by packing explicitly when retraction
    is a requirement). The pack id encodes the domain as the prefix
    before ``/``; untouched domains pass through unchanged (pack ids
    stable), affected domains re-pack greedily in the same key order.
    """
    # domain = everything before the LAST '/': pack_id is
    # "<domain>/<seq>" and the domain itself may contain '/' (the
    # corpus packer nests shard domains inside splits, "train/17").
    # Taking the FIRST segment collapsed every such domain into its
    # split — one tombstone re-packed the whole split and rewrote
    # every surviving pack id in it (round-9 review find)
    dom = F.regexp_replace(F.col(pack_col), "/[^/]*$", "")
    with_dom = packed.withColumn("__dom", dom)
    survivors = _tombstone_join(with_dom, tombstones, id_col)

    affected = (
        with_dom.join(_tombstone_ids(tombstones, id_col), id_col, "left_semi")
        .select("__dom")
        .distinct()
    )
    untouched = survivors.join(F.broadcast(affected), "__dom", "left_anti").drop("__dom")
    missing = {pack_col, pack_tokens_col} - set(packed.columns)
    if missing:
        raise ValueError(f"packed frame lacks columns {sorted(missing)}")
    to_repack = survivors.join(F.broadcast(affected), "__dom", "left_semi").drop(
        pack_col, pack_tokens_col
    )
    repacked = pack_chunks(
        to_repack, key_col, tokens_col, max_tokens, group_col="__dom"
    ).drop("__dom")
    # pack_chunks emits its standard column names; align to the
    # caller's when they differ so the union stays by-name correct
    if pack_col != "pack_id":
        repacked = repacked.withColumnRenamed("pack_id", pack_col)
    if pack_tokens_col != "pack_tokens":
        repacked = repacked.withColumnRenamed("pack_tokens", pack_tokens_col)
    return untouched.unionByName(repacked)


def retract_and_reissue(
    df: DataFrame,
    tombstones: DataFrame,
    manifest_path: str,
    id_col: str = "doc_id",
    max_tokens: int | None = None,
    **packed_kwargs,
):
    """Run a retraction AND close the evidence chain: re-sign the
    stored manifest so a takedown can never leave a stale release
    record (the round-6 gap — ``retract_documents`` removed docs while
    the manifest silently kept signing the pre-takedown corpus). Same
    evidence discipline as the reference's run-metadata logger
    (``src/data_processors/utils/metadata_logger.py:35-137``).

    ``max_tokens`` set -> packed mode (:func:`retract_from_packed`,
    forwarding ``packed_kwargs``); otherwise :func:`retract_documents`.

    Returns ``(retracted_df, report)`` where ``report`` carries the
    per-id diff vs the stored manifest: the exact ids removed, row
    counts before/after, and both signatures. Semantics:

    - ids actually present are removed; the manifest is rewritten with
      the fresh signature plus an appended ``retractions`` history
      entry (the original ``config``/``funnel_stats`` stay — they
      describe the build; the history records what was taken down);
    - retracting only absent ids is a no-op: the manifest file is NOT
      rewritten (byte-identical on disk) and ``changed`` is False.
    """
    import json

    from ..plans.manifest import manifests_equal, write_corpus_manifest

    with open(manifest_path) as fh:
        old = json.load(fh)

    t = _tombstone_ids(tombstones, id_col)
    # bounded driver read: |hit ids| <= |tombstones|, dim-sized by nature
    removed_ids = sorted(
        r[0] for r in df.join(t, id_col, "left_semi").select(id_col).distinct().collect()
    )

    if max_tokens is not None:
        out = retract_from_packed(df, tombstones, max_tokens, id_col=id_col, **packed_kwargs)
    else:
        if packed_kwargs:
            raise ValueError(
                f"packed-mode kwargs {sorted(packed_kwargs)} need max_tokens"
            )
        out = retract_documents(df, tombstones, id_col)

    if not removed_ids:
        return out, {
            "changed": False,
            "removed_ids": [],
            "rows_before": old["signature"]["rows"],
            "rows_after": old["signature"]["rows"],
            "old_signature": old["signature"],
            "new_signature": old["signature"],
        }

    # the signature aggregation below fully executes the retraction
    # plan (in packed mode: the anti-join + per-domain re-pack);
    # persist first so the caller's own write/count on the returned
    # frame reuses that execution instead of re-packing from scratch —
    # the same persist-before-sign discipline as prepare_corpus's
    # observe path. The handle IS returned: callers .unpersist() when
    # done.
    out = out.persist()
    history = list(old.get("retractions", [])) + [{"removed_ids": removed_ids}]
    new = write_corpus_manifest(
        manifest_path,
        out,
        config=old.get("config"),
        stats=old.get("funnel_stats"),
        extra={"retractions": history},
    )
    return out, {
        "changed": not manifests_equal(old, new),
        "removed_ids": removed_ids,
        "rows_before": old["signature"]["rows"],
        "rows_after": new["signature"]["rows"],
        "old_signature": old["signature"],
        "new_signature": new["signature"],
    }


def retraction_audit(
    packed: DataFrame,
    tombstones: DataFrame,
    id_col: str = "doc_id",
    pack_col: str = "pack_id",
) -> DataFrame:
    """One row: rows_removed, docs_removed, domains_touched — the
    takedown evidence record."""
    hit = packed.join(_tombstone_ids(tombstones, id_col), id_col, "left_semi")
    return hit.agg(
        F.count(F.lit(1)).alias("rows_removed"),
        F.count_distinct(F.col(id_col)).alias("docs_removed"),
        F.count_distinct(F.regexp_replace(F.col(pack_col), "/[^/]*$", "")).alias(
            "domains_touched"
        ),
    )
