"""Streaming corpus ingest — the LLM training-data funnel's front end
as a Structured Streaming pipeline (engine extension; streaming
counterpart of :mod:`..plans.corpus_prep`).

A corpus at 100 TB is not re-read per crawl drop: new document files
land continuously and the cheap, row-local funnel stages should run
ON ARRIVAL, with only the stages that need global state deferred.
The streaming/batch split falls out of Spark's own execution model:

- **streaming-safe** (pure projections + bounded-state dedup):
  PII redaction, normalization, lang-id, quality scoring, token
  counting, quality/lang filtering, and EXACT dedup via fingerprint
  ``dropDuplicatesWithinWatermark`` (state bounded by the watermark
  horizon — duplicates across crawl drops inside the horizon drop,
  re-ingested ancient dups are caught by the batch compaction).
- **batch compaction** (self-joins Structured Streaming cannot run):
  MinHash/SimHash/embedding near-dup clustering and anything
  all-pairs-shaped runs periodically over the bronze output via
  :func:`..plans.corpus_prep.prepare_corpus` — the standard
  stream-ingest + batch-compact layout, same as the reference's
  monthly re-build converging with its streaming-ish ingest
  (I2/I4 idempotency, ``section_58.py:233-246``).
- **online near-dup admission** (round 11, optional): near-dup
  REJECTION — unlike clustering — needs no self-join, only a probe
  against the admitted set, so
  :func:`stream_corpus_with_near_dedup` composes the funnel prefix
  with :mod:`..operators.minhash_index`'s persisted band index and
  rejects near-duplicates at ingest; batch compaction then has only
  the genuinely global stages (mixing, packing) left.

Deduplication keeps the FIRST-SEEN copy of a fingerprint (arrival
order), where the batch stage keeps the min doc id — both are valid
canonical choices; the parity test compares surviving fingerprint
SETS, which agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.text_analysis import (
    annotate_text,
    doc_fingerprint,
    normalize_text,
    redact_pii,
)

DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_document_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: T.StructType = DOCUMENT_SCHEMA,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-arrival document stream over a landing directory (each
    crawl drop = one or more files = micro-batches)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(landing_dir)


def streaming_corpus_bronze(
    stream: DataFrame,
    quality_min: float = 0.5,
    keep_langs: tuple[str, ...] = ("en", "fr", "de"),
    dedup_watermark: str = "24 hours",
    quality_model=None,
    quality_model_min: float = 0.5,
    perplexity_lm=None,
    perplexity_max: float | None = None,
    lang_model=None,
    content_blocklist: tuple[str, ...] | None = None,
    content_blocklist_max_hits: int = 0,
) -> DataFrame:
    """The streaming-safe funnel prefix: clean -> annotate -> filter ->
    exact dedup [-> LM perplexity gate], mirroring ``prepare_corpus``
    stages 1-3b exactly (same expressions, same thresholds, same
    stage ORDER — the LM gate runs after exact dedup, the batch
    pipeline's round-12 order).

    ``perplexity_lm`` + ``perplexity_max`` enable the CCNet LM gate
    on arrival: the batch form (explode + model joins + per-doc agg)
    is a stateful aggregation on a stream, so the gate uses
    :func:`..operators.lm_score.perplexity_pandas_scorer` — the
    dim-sized model ships to the workers and each document scores in
    one Arrow-batched pass; only the threshold form applies
    (head/middle/tail buckets are corpus-distribution-relative and
    belong in batch compaction, though a cutoff LEARNED there can be
    passed here as the threshold).

    ``lang_model`` (a trained ``fit_lang_classifier`` model) enables
    the trained-langid gate on arrival against the same
    ``keep_langs`` whitelist — batch-order (before annotate), model
    shipped in the UDF closure via
    :func:`..operators.lang_classifier.lang_pandas_predictor`.

    Exact dedup state is keyed on the content fingerprint and bounded
    by ``dedup_watermark`` over INGEST time (documents carry no event
    time; arrival time is the natural horizon for "recent drops
    repeat themselves" dedup). Output columns match the batch
    pipeline's pre-near-dup frame: (doc_id, text, lang, quality,
    n_tokens, source) + ingest_ts — ``source`` rides along so the
    batch compaction can run the domain-mix stages
    (source_weights/upsample_weights) over bronze.
    """
    if (perplexity_lm is None) != (perplexity_max is None):
        raise ValueError("perplexity_lm and perplexity_max come together "
                         "(the streaming gate is threshold-only)")
    if lang_model is not None:
        if not keep_langs:
            raise ValueError("lang_model needs a non-empty keep_langs whitelist")
        from ..operators.lang_classifier import lang_pandas_predictor

        # trained-langid gate on arrival, batch-order: in
        # prepare_corpus the gate scores text BEFORE the
        # redact+normalize clean stage, so it must gate the RAW
        # stream here — scoring the redacted text instead would flip
        # boundary docs and break stream-then-compact == batch
        # (round-12 review). The batch path's explode + model join +
        # per-doc agg is a stateful aggregation on a stream, so the
        # model ships in the UDF closure (the
        # perplexity_pandas_scorer pattern) — same keep_langs
        # whitelist as the claimed-lang filter below, exact label
        # parity with predict_language pinned at margined corpora.
        predictor = lang_pandas_predictor(lang_model)
        stream = stream.filter(predictor(F.col("text")).isin(*keep_langs))
    if content_blocklist is not None:
        from ..operators.text_analysis import filter_content_blockwords

        # pure-expression row-local filter — stateless, so the batch
        # funnel stage applies verbatim on the stream
        stream = filter_content_blockwords(
            stream, "text", content_blocklist, content_blocklist_max_hits
        )
    cleaned = stream.select(
        "doc_id", normalize_text(redact_pii("text")).alias("text"), "source"
    )
    # fused annotate (shared tokenization + pushdown barrier) — the
    # explode(array(struct)) it uses is stateless and streaming-safe;
    # re-select to the documented bronze column order (annotate_text
    # moves carry columns first)
    annotated = annotate_text(cleaned, "text").select(
        "doc_id", "text", "lang", "quality", "n_tokens", "source"
    )
    kept = annotated.filter(
        (F.col("quality") >= quality_min) & F.col("lang").isin(*keep_langs)
    )
    if quality_model is not None:
        # the learned filter is a pure projection (inlined weights), so
        # it is streaming-safe and belongs in the on-arrival prefix
        kept = kept.filter(quality_model.score_expr("text") >= quality_model_min)
    keyed = kept.withColumn("__fp", doc_fingerprint("text")).withColumn(
        "ingest_ts", F.current_timestamp()
    )
    deduped = (
        keyed.withWatermark("ingest_ts", dedup_watermark)
        .dropDuplicatesWithinWatermark(["__fp"])
        .drop("__fp")
    )
    if perplexity_lm is not None:
        from ..operators.lm_score import perplexity_pandas_scorer

        # after the dedup (batch stage order): a pure row filter —
        # NULL perplexity (empty doc) fails the <= and drops, the
        # batch perplexity_filter contract
        scorer = perplexity_pandas_scorer(perplexity_lm)
        deduped = deduped.filter(scorer(F.col("text")) <= F.lit(perplexity_max))
    return deduped


def stream_corpus_to_bronze(
    stream: DataFrame,
    bronze_path: str,
    checkpoint_dir: str,
    **funnel_kwargs,
):
    """availableNow drain of the streaming funnel into the bronze
    corpus directory the batch compaction (near-dup clustering,
    chunking, packing) later reads. At-least-once parquet append —
    the fingerprint dedup upstream makes re-appends of a replayed
    micro-batch collapse at compaction."""
    bronze = streaming_corpus_bronze(stream, **funnel_kwargs)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(bronze_path)

    return (
        bronze.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_corpus_with_near_dedup(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    funnel_kwargs: dict | None = None,
    **near_kwargs,
):
    """The online-admission variant (VERDICT r10 task #4 applied to
    the corpus front end): the streaming-safe funnel prefix (clean ->
    annotate -> filter -> watermarked exact dedup) feeds
    :func:`..streaming.dedup_stream.stream_near_dedup_to_parquet`, so
    near-duplicates of previously ADMITTED documents are rejected AT
    INGEST against the persisted MinHash band index instead of
    waiting for batch compaction. ``near_kwargs`` pass through to the
    admission stream (n/k/bands/min_agreement/...); crash protocol
    and greedy-vs-batch semantics are documented there. Returns the
    StreamingQuery; read results with
    :func:`..streaming.dedup_stream.read_admitted`."""
    from .dedup_stream import stream_near_dedup_to_parquet

    bronze = streaming_corpus_bronze(stream, **(funnel_kwargs or {}))
    return stream_near_dedup_to_parquet(
        bronze, index_path, out_path, checkpoint_dir, "text", "doc_id",
        **near_kwargs,
    )


def compact_bronze(
    spark: SparkSession,
    bronze_path: str,
    sf_dir: str | None = None,
    **corpus_kwargs,
):
    """Periodic batch compaction over the streamed bronze output: the
    deferred all-pairs-shaped stages (MinHash/SimHash/embedding
    near-dup clustering + connected components, chunking, domain mix,
    packing) run via :func:`..plans.corpus_prep.prepare_corpus` on
    the accumulated bronze directory.

    The funnel's row-local stages are idempotent on bronze rows
    (normalize/redact re-produce the same text; lang/quality/token
    counts re-derive the same values), so stream-ingest-then-compact
    equals the one-shot batch pipeline on the same input files —
    pinned by ``tests/test_corpus_stream.py``. ``sf_dir`` is only
    needed for the ``near_dup="embedding"`` backend's default
    embeddings table.
    """
    from ..plans.corpus_prep import prepare_corpus

    bronze = spark.read.parquet(bronze_path)
    cols = ["doc_id", "text"] + (["source"] if "source" in bronze.columns else [])
    return prepare_corpus(
        spark, sf_dir or "", docs=bronze.select(*cols), **corpus_kwargs
    )


def drain_and_compact(
    spark: SparkSession,
    landing_dir: str,
    bronze_path: str,
    checkpoint_dir: str,
    funnel_kwargs: dict | None = None,
    timeout_sec: int = 300,
    **corpus_kwargs,
) -> DataFrame:
    """The full stream-then-compact cycle: availableNow drain of the
    streaming funnel into bronze, then the deferred batch compaction —
    the operational loop a scheduler runs per crawl drop."""
    q = stream_corpus_to_bronze(
        read_document_stream(spark, landing_dir),
        bronze_path,
        checkpoint_dir,
        **(funnel_kwargs or {}),
    )
    if not q.awaitTermination(timeout_sec):
        # compacting a partially-drained bronze would silently miss
        # documents (and race the still-running writer)
        q.stop()
        raise TimeoutError(
            f"stream drain did not finish within {timeout_sec}s; "
            "bronze is partial — raise timeout_sec and re-run"
        )
    return compact_bronze(spark, bronze_path, **corpus_kwargs)
