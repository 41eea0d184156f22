"""Streaming twin of document retraction (``operators/retraction.py``):
a tombstone STREAM (takedown/GDPR requests as they arrive) applied
continuously to a stored packed corpus.

Shape: ``foreachBatch`` over the tombstone stream; each micro-batch

1. discovers the packing domains the batch's ids touch (a column-
   pruned ``(id, __dom)`` scan — the honest cost without an inverted
   doc->domain index; at real scale keep domains derivable from the
   id, as ``pack_chunks``'s default hash-shard domain is, and this
   discovery scan disappears),
2. re-reads ONLY those partitions (partition-pruned on the ``__dom``
   partition column), drops tombstoned rows, re-packs the survivors
   greedily in key order (``pack_chunks`` — same order as the batch
   twin, so pack ids are reproducible),
3. rewrites exactly the affected partitions with DYNAMIC partition
   overwrite; domains left EMPTY are deleted explicitly (dynamic
   overwrite only replaces partitions present in the output — an
   emptied domain would otherwise keep its stale files, serving
   retracted data forever).

Blast radius per batch = |affected domains|, same as the batch twin.

Delivery semantics: at-least-once application converging to
exactly-once EFFECT. Retraction is idempotent (retracting an absent
id is a no-op) and the re-pack is deterministic (greedy in key
order), so a replayed batch — including one replayed after a crash
midway through the multi-partition overwrite, which is not atomic —
recomputes the same survivors and overwrites partitions with
byte-identical content. The optional audit log is append-only and
keyed by ``batch_id``; readers dedup on it (a replayed batch appends
a duplicate audit row — evidence of the replay, not corruption).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import lazy_checkpoint
from ..operators.index_commit import _hadoop_fs
from ..operators.packing import pack_chunks

DOMAIN_COL = "__dom"


def write_packed_corpus(
    packed: DataFrame,
    corpus_dir: str,
    pack_col: str = "pack_id",
    mode: str = "overwrite",
) -> None:
    """Lay a packed frame down as domain-partitioned parquet — the
    storage layout :func:`stream_retractions_to_packed` mutates.
    Domain = the ``pack_id`` prefix before the LAST '/' (domains may
    contain '/', the round-9 rule in ``retract_from_packed``)."""
    dom = F.regexp_replace(F.col(pack_col), "/[^/]*$", "")
    (
        packed.withColumn(DOMAIN_COL, dom)
        .write.mode(mode)
        .partitionBy(DOMAIN_COL)
        .parquet(corpus_dir)
    )


def _escape_partition_value(spark, value: str) -> str:
    """Escape a partition value exactly as Spark's writer does, so an
    emptied domain's directory can be located for deletion."""
    return spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(
        value
    )


def stream_retractions_to_packed(
    tombstone_stream: DataFrame,
    corpus_dir: str,
    checkpoint_dir: str,
    max_tokens: int,
    id_col: str = "doc_id",
    key_col: str = "__ck",
    tokens_col: str = "__ct",
    pack_col: str = "pack_id",
    pack_tokens_col: str = "pack_tokens",
    audit_dir: str | None = None,
):
    """Apply a tombstone stream (first column = doc ids) to the
    domain-partitioned packed corpus at ``corpus_dir``. Returns the
    started StreamingQuery (availableNow trigger — drain-and-stop; a
    live takedown queue would swap the trigger)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ids = (
            batch_df.select(F.col(batch_df.columns[0]).alias(id_col))
            .distinct()
        )
        corpus = spark.read.parquet(corpus_dir)
        affected = sorted(
            r[0]
            for r in corpus.select(id_col, DOMAIN_COL)
            .join(F.broadcast(ids), id_col, "left_semi")
            .select(DOMAIN_COL)
            .distinct()
            .collect()
        )
        removed = 0
        emptied: list[str] = []
        if affected:
            part = corpus.where(F.col(DOMAIN_COL).isin(affected))
            survivors = part.join(F.broadcast(ids), id_col, "left_anti")
            repacked = pack_chunks(
                survivors.drop(pack_col, pack_tokens_col),
                key_col,
                tokens_col,
                max_tokens,
                group_col=DOMAIN_COL,
            )
            if pack_col != "pack_id":
                repacked = repacked.withColumnRenamed("pack_id", pack_col)
            if pack_tokens_col != "pack_tokens":
                repacked = repacked.withColumnRenamed(
                    "pack_tokens", pack_tokens_col
                )
            # the re-pack (an applyInPandas pass) feeds the audit count
            # AND the partition overwrite — compute it once
            repacked = lazy_checkpoint(repacked)
            # one pass over the (dim-sized) affected slice serves the
            # audit count and the emptied-domain set
            before = {
                r[0]: r[1]
                for r in part.groupBy(DOMAIN_COL).count().collect()
            }
            after = {
                r[0]: r[1]
                for r in repacked.groupBy(DOMAIN_COL).count().collect()
            }
            removed = sum(before.values()) - sum(after.values())
            emptied = sorted(set(before) - set(after))
            (
                repacked.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(DOMAIN_COL)
                .parquet(corpus_dir)
            )
            if emptied:
                fs, hpath = _hadoop_fs(spark, corpus_dir)
                for dom in emptied:
                    p = hpath(
                        corpus_dir.rstrip("/")
                        + "/"
                        + DOMAIN_COL
                        + "="
                        + _escape_partition_value(spark, dom)
                    )
                    if not fs.exists(p):
                        raise RuntimeError(
                            f"emptied domain {dom!r}: expected partition "
                            f"directory {p} not found — corpus layout does "
                            "not match write_packed_corpus conventions"
                        )
                    fs.delete(p, True)
        if audit_dir is not None:
            spark.createDataFrame(
                [
                    (
                        int(batch_id),
                        ids.count(),
                        len(affected),
                        int(removed),
                        emptied,
                    )
                ],
                "batch_id LONG, n_tombstones LONG, n_affected_domains LONG,"
                " rows_removed LONG, emptied_domains ARRAY<STRING>",
            ).write.mode("append").parquet(audit_dir)

    return (
        tombstone_stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
