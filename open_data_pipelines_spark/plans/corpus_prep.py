"""End-to-end LLM training-corpus preparation pipeline (engine
extension; the composition target of the text/dedup/graph operator
packs over the ``documents`` table).

Stages, in the order a production corpus pipeline runs them:

1. **normalize + redact** — whitespace canonicalization and PII
   redaction as one codegen'd projection (``text_analysis``).
2. **annotate + quality-filter** — lang-id, quality score, token
   count; drop below-threshold and undetermined-language docs.
2b. **repetition filter** (opt-in) — Gopher duplicate-line /
   top-n-gram cutoffs (``operators.repetition``); boilerplate-heavy
   docs drop before the dedup stages they would otherwise flood.
3. **exact dedup FIRST** — fingerprint ``top1_per_key``; collapses
   mass duplicates in one linear pass so the near-dup stage's LSH
   bucket cap is lossless in practice (see ``STRESS.md``).
3b. **LM perplexity stage** (opt-in) — CCNet threshold filter or
   head/middle/tail buckets over the DEDUPLICATED docs (round 12:
   moved after exact dedup — the token explode must not pay for mass
   duplicates, and CCNet's cutoffs describe the deduped corpus).
4. **near-dup clustering** — MinHash-LSH pairs (bucket-capped) →
   connected components → keep each cluster's canonical minimum.
5. **decontaminate** (opt-in) — drop docs sharing n-grams with a
   benchmark set (``operators.contamination``; broadcast probe).
6. **rebalance** (opt-in) — downsample to a target per-source mix
   (``operators.sampling.rebalance_to_mix``).
7. **split** (opt-in) — leak-proof train/val/test labels from the
   doc key hash, assigned at DOC level so every chunk of a document
   lands in the same split (``operators.sampling.assign_split``).
   Assigned on the ORIGINAL doc key, BEFORE any repetition re-keying,
   so duplicated text can never straddle an eval boundary.
8. **upsample** (opt-in) — repeat under-represented sources toward a
   target mix (``upsample_to_mix``). When splits are requested only
   the first (training) split is upsampled — repeating eval items is
   never useful — and every copy inherits its original's split, then
   is re-keyed with a string composite ``"<doc_id>#<copy_idx>"`` so
   it chunks/packs as its own document without numeric-overflow
   collisions.
9. **chunk** — overlapping token windows, one row per chunk.
10. **pack** (opt-in) — greedy sequence packing of chunks into
   fixed-token contexts, packing domains nested inside splits so a
   pack never crosses an eval boundary (``operators.packing``).

Every stage is DataFrame-native; the only actions are the optional
stage-count audit and the rebalance stage's per-stratum count. Stage
order matters at 100 TB: cheap row-local filters run before any
shuffle, exact dedup (one shuffle) runs before LSH (banding joins),
decontamination probes the already-deduped survivors, and chunking
(explode, no shuffle) runs last on the smallest surviving set.

The audit itself has two modes (``stats_via``): ``"count"`` runs one
``count()`` action per stage — each re-executes the pipeline prefix,
O(stages^2) work, fine for debugging — and ``"observe"`` attaches a
``CollectMetrics`` node per stage and harvests every stage count from
ONE action at the end: the full funnel for one pipeline execution
(Spark deduplicates the metrics even where a stage output feeds two
branches, e.g. the exact-dedup anti-join or the split/upsample
union — verified by ``tests/test_corpus_prep.py``). At 100 TB the
observe audit is the only affordable one; its dict plugs straight
into ``MetadataLogger(**extras)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..caching import lazy_checkpoint
from ..operators.graph import cluster_members
from ..operators.text_analysis import (
    annotate_text,
    chunk_tokens,
    normalize_text,
    redact_pii,
    token_count_ws,
)
from ..operators.text_dedup import dedup_exact_text, minhash_lsh_dedup, scale_out
from ..session import load_tables


def prepare_corpus(
    spark: SparkSession,
    sf_dir: str,
    *,
    quality_min: float = 0.5,
    keep_langs: tuple[str, ...] = ("en", "fr", "de"),
    boilerplate_min_docs: int | None = None,
    paragraph_policy: str | None = None,
    paragraph_max_docs: int = 1,
    substring_k: int | None = None,
    substring_max_occurrences: int | None = None,
    quality_model=None,
    quality_model_min: float = 0.5,
    perplexity_lm=None,
    perplexity_max: float | None = None,
    perplexity_keep_buckets: tuple[str, ...] | None = None,
    perplexity_bucket_exact: bool = False,
    repetition_thresholds: dict[str, float] | None = None,
    url_col: str | None = None,
    url_blocklist=None,
    url_quality: bool = False,
    html: bool = False,
    fix_encoding: bool = False,
    unicode_form: str | None = None,
    lang_model=None,
    content_blocklist: tuple[str, ...] | None = None,
    content_blocklist_max_hits: int = 0,
    near_dup: str = "minhash",
    simhash_max_hamming: int = 3,
    embedding_threshold: float = 0.95,
    embeddings: DataFrame | None = None,
    semantic_k: int = 64,
    semantic_max_cluster_size: int | None = 512,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = 1000,
    chunk_size: int = 64,
    overlap: int | None = None,
    chunking: str = "window",
    with_stats: bool = False,
    benchmark: DataFrame | None = None,
    benchmark_embeddings: DataFrame | None = None,
    benchmark_embedding_threshold: float = 0.95,
    contamination_n: int = 8,
    source_weights: dict[str, float] | None = None,
    domain_cap: int | None = None,
    mix_temperature: float | None = None,
    upsample_weights: dict[str, float] | None = None,
    splits: tuple[tuple[str, float], ...] | None = None,
    pack_budget: int | None = None,
    bpe_merges: list | None = None,
    seed: str = "corpus",
    stats_via: str = "count",
    docs: DataFrame | None = None,
    manifest_path: str | None = None,
) -> DataFrame | tuple[DataFrame, dict[str, int]]:
    """documents -> deduplicated, filtered, chunked training rows.

    Returns (doc_id, lang, quality, chunk_idx, chunk); opt-in stages
    append columns: ``splits`` adds ``split``, ``pack_budget`` adds
    ``pack_id``/``pack_tokens``. ``paragraph_policy`` enables
    CCNet-style paragraph dedup on the raw prefix
    (``"keep_first"``/``"max_docs"``); ``substring_k`` enables Lee et
    al. 2022 duplicated-span removal on the normalized text. With ``with_stats=True`` also a
    per-stage row-count audit: ``stats_via="count"`` is one action
    per stage (debug mode); ``stats_via="observe"`` harvests the
    whole funnel from a single action on the final frame (production
    mode — the pipeline runs once and the returned frame is persisted
    so the caller's own write/collect reuses that execution; call
    ``.unpersist()`` on it when done).

    ``url_col`` (+ ``url_blocklist`` / ``url_quality=True``) enables
    the web-curation URL gate as the FIRST stage (pure expressions +
    broadcast anti-join; the later ``input`` audit then counts gate
    survivors). ``perplexity_keep_buckets`` (e.g. ``("head",
    "middle")``) is the CCNet distribution-relative alternative to
    ``perplexity_max``: per-language head/middle/tail cutoffs from
    the corpus itself. ``perplexity_bucket_exact=True`` swaps the
    cutoff aggregation from ``percentile_approx`` to exact
    ``percentile`` — the cross-engine-reproducible form the driver
    oracle uses; approx stays the 100 TB default.

    ``overlap`` defaults to 8 in window chunking; sentence chunking
    takes no overlap (passing an explicit nonzero value errors).

    ``html=True`` runs :func:`..operators.html_text.html_to_text`
    over the text column before every text stage (after the URL gate,
    which reads no text) — the extraction step a WARC-shaped corpus
    needs; pre-extracted corpora skip it.

    ``fix_encoding=True`` repairs UTF-8-as-cp1252 mojibake (pure
    expressions) and ``unicode_form`` ("NFC"/"NFKC"/...) normalizes
    Unicode (Arrow-batched pandas UDF with an ASCII fast path) —
    both via :func:`..operators.text_norm.with_normalized_text`,
    AFTER extraction (the repair keys on raw byte structure the
    entity-decode already preserved) and BEFORE every dedup/LM stage
    so visually-identical texts hash identically.

    ``lang_model`` (a trained
    :func:`..operators.lang_classifier.fit_lang_classifier` model)
    additionally gates documents by PREDICTED language against the
    same ``keep_langs`` whitelist the claimed-lang quality filter
    uses — the CCNet trained-langid cut, run right after
    normalization via an ids-only scoring pass and a left_semi join
    (a claimed 'en' doc whose text scores as another language drops).

    ``bpe_merges`` (a trained :func:`..operators.bpe.train_bpe` merge
    table) makes the packing stage budget in LEARNED subword tokens
    instead of whitespace tokens — the budget the training run
    actually pays when its tokenizer is BPE.

    ``benchmark`` is a (bench_id, text) frame of eval items to
    decontaminate against; ``benchmark_embeddings`` (a (bench_id,
    embedding) frame, requires ``embeddings``) adds the SEMANTIC
    second pass — cosine >= ``benchmark_embedding_threshold`` to any
    eval vector drops the doc, catching paraphrases n-grams miss; ``source_weights`` a target domain mix over
    the raw ``source`` column (downsampling), ``domain_cap`` a
    per-domain document bound applied post-dedup (driver-dict-free, so
    it survives web-scale domain cardinality), ``upsample_weights``
    the repetition-based alternative; ``splits`` e.g.
    ``(("train", .98), ("val", .01), ("test", .01))``.
    """
    def _resolve_model(m):
        """Optimization seam (round-15, guide §2.6): the two trained
        gates may arrive as concurrent futures — the corpus PREFIX
        (URL gate, extraction, mojibake repair, blockwords, the first
        reuse checkpoint) is model-independent, so its construction
        and the checkpoint's construction-time materialization overlap
        the training collects instead of serializing after them
        (~1.5 s of the sf0.1 funnel pass). Resolved exactly at first
        use; a future must resolve to a real (non-None) model.
        isinstance, not duck-typing (round-16 advice): a model class
        that legitimately carries a ``result()`` method must be
        treated as a model, not invoked."""
        import concurrent.futures

        return m.result() if isinstance(m, concurrent.futures.Future) else m

    if stats_via not in ("count", "observe"):
        raise ValueError(f"unknown stats_via {stats_via!r}")
    if bpe_merges is not None and pack_budget is None:
        # fail loud: the merge table only drives the PACKING budget —
        # silently ignoring it would let a caller believe BPE budgeting
        # was applied
        raise ValueError("bpe_merges drives the packing budget — pass pack_budget")
    if mix_temperature is not None and source_weights:
        raise ValueError("mix_temperature derives source_weights - pass one, not both")
    if docs is None:
        docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    if embeddings is not None and "doc_id" not in embeddings.columns:
        # ONE id-column contract for every embedding consumer: the
        # near-dup backends key on doc_id while semantic decon
        # defaulted to vec_id, so a caller-supplied frame could never
        # satisfy both (round-12 advice, reproduced as an
        # AnalysisException on near_dup='embedding' +
        # benchmark_embeddings). Normalize once on entry, exactly as
        # the default-table load does.
        if "vec_id" not in embeddings.columns:
            raise ValueError(
                "embeddings needs a doc_id (or vec_id) column keyed to documents"
            )
        embeddings = embeddings.withColumnRenamed("vec_id", "doc_id")
    stats: dict[str, int] = {}
    observations: dict[str, Observation] = {}

    def note(name: str, df: DataFrame) -> DataFrame:
        if not with_stats:
            return df
        if stats_via == "observe":
            obs = Observation(f"corpus_{name}")
            observations[name] = obs
            return df.observe(obs, F.count(F.lit(1)).alias("rows"))
        stats[name] = df.count()
        return df

    # Fan the corpus across the cluster BEFORE the row-local gate/text
    # chain (URL parsing, extraction regexes, mojibake repair, n-gram
    # scoring). A single-file corpus scans as 1-4 partitions, and every
    # stage derived from it — including the reuse checkpoints below,
    # whose RDD blocks freeze the partitioning — then runs the
    # regex/HOF work on that many cores (round-15 event-log audit: the
    # funnel's extraction materialization ran 4 tasks on 32 cores,
    # 3.2 s of its wall). scale_out is the same guard the dedup/lang
    # operators use: keyed on doc_id, no-op when the input is already
    # at least defaultParallelism wide (the 100 TB case — file splits
    # provide parallelism; no corpus-wide shuffle is introduced at
    # scale). It sits ABOVE the URL gate so the whole gate+extraction
    # prefix is the exchange-free lazy tail of the first reuse
    # checkpoint: an exchange between the spread and the checkpoint
    # would make the checkpoint's toRdd (AQE materializes every stage
    # below the last exchange) execute the gate narrow at construction.
    # fence=True: without it the optimizer pushes the URL-gate filters
    # back through the repartition onto the narrow input (round-15
    # event log: 1.6 s of gate regexes on one core below the exchange)
    docs = scale_out(docs, "doc_id", fence=True)

    if url_col is not None and (url_blocklist is not None or url_quality):
        from ..operators.url_filter import filter_domain_blocklist, filter_url_quality

        # URL gating is the cheapest cut there is (no text touched:
        # pure expressions + a broadcast anti-join), so it runs FIRST
        # — before boilerplate/paragraph stages ever see the rows
        if url_blocklist is not None:
            docs = filter_domain_blocklist(docs, url_col, url_blocklist)
        if url_quality:
            docs = filter_url_quality(docs, url_col)
        docs = note("url_kept", docs)
    elif (url_blocklist is not None or url_quality) and url_col is None:
        raise ValueError("url_blocklist/url_quality need url_col")

    if html:
        from ..operators.html_text import html_to_text

        # extraction precedes every text stage: the line structure the
        # boilerplate/paragraph stages key on EXISTS only after block
        # tags become newlines; runs after the URL gate (which reads
        # no text) so gated-out docs never pay the regex chain
        docs = docs.withColumn("text", html_to_text("text"))

    if fix_encoding or unicode_form is not None:
        from ..operators.text_norm import with_normalized_text

        # normalization precedes every dedup/LM stage: mojibake twins
        # ("Café" vs "CafÃ©") and composed/decomposed twins must hash
        # to the SAME fingerprint or exact dedup silently keeps both
        docs = with_normalized_text(
            docs, "text", fix_encoding=fix_encoding, form=unicode_form
        )

    if content_blocklist is not None:
        from ..operators.text_analysis import filter_content_blockwords

        # the C4 page-level bad-words cut: row-local pure expression,
        # so it runs BEFORE the lang-model scoring shuffles (the two
        # gates commute; scoring docs the blocklist drops is wasted
        # aggregation work at scale — round-12 review)
        docs = note(
            "blockword_kept",
            filter_content_blockwords(
                docs, "text", content_blocklist, content_blocklist_max_hits
            ),
        )

    if lang_model is not None:
        if not keep_langs:
            raise ValueError("lang_model needs a non-empty keep_langs whitelist")
        from ..operators.lang_classifier import predict_language

        # docs is consumed by BOTH the scoring pass and the semi-join
        # left side — cache it so the extraction/normalize prefix
        # above executes once, not once per consumer. EAGER in observe
        # mode: the url_kept observation above sits beneath this
        # checkpoint with no intervening shuffle, and the measured
        # lazy-checkpoint rule (caching.py) would fulfill it with 0
        # (round-12 review, live-reproduced)
        docs = lazy_checkpoint(docs, eager=with_stats and stats_via == "observe")

        # block on the training future only NOW — everything above
        # (gate/extraction prefix + checkpoint construction) ran while
        # it trained (the _resolve_model seam)
        lang_model = _resolve_model(lang_model)
        # CCNet-style trained language gate, AFTER normalization (the
        # model scores the text the rest of the funnel will see),
        # against the SAME keep_langs whitelist the claimed-lang
        # quality filter enforces later — the two gates differ exactly
        # on mislabeled documents. ids_only + left_semi: the compact
        # prediction frame gates by key — no enrichment join, no
        # prediction columns downstream
        preds = predict_language(docs, lang_model, "text", "doc_id", ids_only=True)
        kept_ids = preds.filter(F.col("pred_lang").isin(*keep_langs)).select("doc_id")
        docs = docs.join(kept_ids, "doc_id", "left_semi")
        docs = note("lang_kept", docs)
        if with_stats and stats_via == "observe":
            # without this the lang_kept observation sits UNDER the
            # boilerplate strip's internal line-explode checkpoint
            # (RDD materialization bypasses SQL observed-metrics) with
            # no intervening shuffle — it silently read 0 (round-13
            # probe); eager-materialize like the branch input above
            docs = lazy_checkpoint(docs, eager=True)

    # the observed frame MUST flow into the plan (a dangling observe
    # node never executes, and its Observation.get would block forever)
    if boilerplate_min_docs is None:
        docs = note("input", docs)
    else:
        from ..operators.boilerplate import strip_boilerplate_lines

        # line-level boilerplate removal (C4/RefinedWeb) MUST run on
        # raw text: the normalize stage below collapses newlines, so
        # line structure only exists here.
        # BOTH observations ride the strip OUTPUT. Output-side is
        # correct for EITHER method the strip picks, but for different
        # reasons: the default filter path is a row-local projection
        # (one output row per input row trivially), while the join
        # path's internal line-explode localCheckpoint would swallow an
        # observation attached to its INPUT (the RDD materialization
        # bypasses SQL observed-metrics — an input observe silently
        # read 0, round-8 find) and preserves rows via the left join
        # back to every input id (all-boilerplate docs come back with
        # empty text). Either way input count == stripped count.
        stripped = strip_boilerplate_lines(
            docs, "text", "doc_id", min_docs=boilerplate_min_docs
        )
        if with_stats and stats_via == "count":
            # equal by construction — one count() serves both keys
            stats["input"] = stats["boilerplate_stripped"] = stripped.count()
            docs = stripped
        else:
            docs = note("boilerplate_stripped", note("input", stripped))

    if paragraph_policy is not None:
        from ..operators.paragraph_dedup import dedup_paragraphs

        # paragraph-level dedup (CCNet) also needs RAW line structure
        # (blank-line boundaries die in the normalize below), so it
        # runs in the same raw prefix as the boilerplate strip — after
        # it, so stripped banner lines can't resurrect as paragraphs.
        # Row-preserving by construction (every doc returns, possibly
        # with empty text), so the observe note is sound.
        paras = dedup_paragraphs(
            docs,
            "text",
            "doc_id",
            policy=paragraph_policy,
            max_docs=paragraph_max_docs,
            fast=True,
        )
        docs = note(
            "paragraph_deduped",
            docs.drop("text").join(paras.select("doc_id", "text"), "doc_id"),
        )

    # redact BEFORE normalizing so the replacement tokens lowercase
    # with the rest of the text (and whitespace variants of redacted
    # spans collapse to identical strings for the dedup stages)
    carry = (
        ["source"]
        if (
            source_weights
            or upsample_weights
            or mix_temperature is not None
            or domain_cap is not None
        )
        else []
    )
    cleaned = docs.select(
        "doc_id",
        normalize_text(redact_pii("text")).alias("text"),
        *carry,
    )

    if substring_k is not None:
        from ..operators.substring_dedup import remove_duplicated_spans

        # substring-level span removal (Lee et al. 2022) runs on the
        # NORMALIZED text (so whitespace variants of a copied passage
        # hash identically) and before the annotate stage, so quality
        # and token counts describe the text that actually survives.
        # Row-preserving (every doc returns; fully-duplicated docs
        # come back empty and fall to the quality gate).
        # `cleaned` is consumed three times (the operator's window
        # side + its df-side rejoin, and the drop("text") join below):
        # checkpoint so the redact/normalize projection — and the
        # whole paragraph-dedup subtree when that stage is on — runs
        # once, not three times. Eager in observe mode: the input/
        # paragraph observations sit below this checkpoint (the
        # measured lazy-checkpoint rule, caching.py; round-10 review
        # find).
        cleaned = lazy_checkpoint(
            cleaned, eager=with_stats and stats_via == "observe"
        )
        cut = remove_duplicated_spans(
            cleaned,
            "text",
            "doc_id",
            k=substring_k,
            max_occurrences=substring_max_occurrences,
            fast=True,
        )
        cleaned = note(
            "substring_deduped",
            cleaned.drop("text").join(cut.select("doc_id", "text"), "doc_id"),
        )

    # fused annotate: value-identical to the lang_id/quality_score/
    # token_count_ws trio, but tokenizes once and sits behind a
    # pushdown barrier so the quality gate below doesn't re-evaluate
    # the HOF/regex trees (2.03 s -> 0.65 s on the sf0.1 funnel stage)
    annotated = annotate_text(cleaned, "text")
    kept = note(
        "quality_kept",
        annotated.filter(
            (F.col("quality") >= quality_min) & F.col("lang").isin(*keep_langs)
        ),
    )

    if quality_model is not None:
        from ..operators.quality_model import quality_model_filter

        # learned quality filter (CCNet/fastText-style) right after the
        # rule-based one — also a pure row-local projection, so it
        # belongs in the cheap prefix before anything that shuffles
        kept = note(
            "model_quality_kept",
            quality_model_filter(kept, quality_model, "text", quality_model_min),
        )

    if perplexity_lm is not None:
        if perplexity_max is None and perplexity_keep_buckets is None:
            raise ValueError("perplexity_lm needs perplexity_max (pick it from "
                             "the scored distribution's quantiles) or "
                             "perplexity_keep_buckets (the CCNet head/middle/"
                             "tail form)")
        if perplexity_max is not None and perplexity_keep_buckets is not None:
            raise ValueError("pass perplexity_max OR perplexity_keep_buckets, "
                             "not both")
        if perplexity_keep_buckets is not None:
            # fail loud on a typo ("midle") — isin would otherwise
            # silently erase the corpus
            bad = set(perplexity_keep_buckets) - {"head", "middle", "tail"}
            if bad or not perplexity_keep_buckets:
                raise ValueError(
                    f"perplexity_keep_buckets must be non-empty and drawn from "
                    f"('head', 'middle', 'tail'); got {perplexity_keep_buckets!r}"
                )

    if repetition_thresholds is not None:
        from ..operators.repetition import repetition_filter

        # repetition (Gopher A1.1) runs AFTER the cheap row-local
        # quality filter (it shuffles on doc_id) and BEFORE dedup:
        # boilerplate-heavy docs are exactly the mass-duplicate
        # factories the dedup stages would otherwise slog through
        kept = note(
            "repetition_kept",
            repetition_filter(kept, "text", "doc_id", repetition_thresholds),
        )

    exact = dedup_exact_text(kept, "text", "doc_id")
    if near_dup != "none" or perplexity_lm is not None:
        # `exact` is consumed at least twice downstream — the LM stage
        # scores it three ways (token-explode side, cutoff aggregation,
        # keep semi-join), and any near-dup path reads it once to
        # build the candidate pairs (shingle/signature side) and once
        # as the survivors side of the final anti-join. A LAZY local
        # checkpoint materializes the whole cleaned/filtered/deduped
        # prefix (filters, regex-heavy lang/quality annotation, the
        # dedup window) on first use and reuses it for the second
        # consumer — and, unlike an internal .persist() whose handle
        # never reaches the caller (the unreclaimable-cache pattern
        # round-6 advice flagged on scd2), its blocks are reclaimed by
        # the ContextCleaner as soon as the returned result frame is
        # garbage-collected. No clearCache() needed. Trade-off as
        # documented on with_surrogate_keys_scaled: checkpoint blocks
        # are unreplicated, so executor loss fails the job fast.
        # Applied BELOW the observe node: the checkpoint materializes
        # as an RDD job that bypasses SQL observed-metrics, so an
        # observation under it would silently read 0. Upstream
        # observations (input/quality) survive TODAY because the dedup
        # window shuffles between them and this checkpoint (the
        # measured lazy-checkpoint rule, caching.py) — eager in observe
        # mode anyway so that protection doesn't hinge on dedup's
        # implementation shuffling.
        exact = lazy_checkpoint(
            exact, eager=with_stats and stats_via == "observe"
        )
    exact = note("exact_deduped", exact)

    if perplexity_lm is not None:
        perplexity_lm = _resolve_model(perplexity_lm)  # the LM future
        from ..operators.lm_score import perplexity_buckets, perplexity_filter

        # CCNet-style LM stage runs AFTER exact dedup (round 12 — it
        # ran before, between the quality gates): (a) at 100 TB the
        # token-explode + model joins must not pay for mass
        # duplicates, (b) CCNet computes its head/middle/tail cutoffs
        # over the deduplicated corpus, and (c) duplicate-text docs
        # carry ulp-identical perplexities whose arbitrary order
        # around an exact-percentile cutoff would make the bucket
        # boundary engine-nondeterministic — deduping first removes
        # the tie entirely (measured: a planted exact copy straddled
        # the sf0.1 hi cut at |ppl-cut| ~ 1e-14 pre-reorder).
        if perplexity_keep_buckets is not None:
            # CCNet's distribution-relative form: label head/middle/
            # tail by corpus quantiles (per language — `exact` carries
            # the annotate stage's lang column) and keep the named
            # buckets; a semi-join on the kept ids preserves schema
            buckets = perplexity_buckets(
                exact, "text", "doc_id", perplexity_lm, by_lang="lang",
                exact=perplexity_bucket_exact,
            )
            keep_ids = buckets.filter(
                F.col("bucket").isin(*perplexity_keep_buckets)
            ).select("doc_id")
            exact = note(
                "perplexity_kept", exact.join(keep_ids, "doc_id", "left_semi")
            )
        else:
            exact = note(
                "perplexity_kept",
                perplexity_filter(exact, "text", "doc_id", perplexity_lm, perplexity_max),
            )
        if near_dup != "none":
            # the LM-kept frame is itself consumed twice by the
            # near-dup path (pairs side + anti-join side); without
            # this the whole scoring subtree would execute twice
            exact = lazy_checkpoint(
                exact, eager=with_stats and stats_via == "observe"
            )

    # near-dup pair generation is pluggable; every backend is banded
    # (equi-joins on hash keys, never a product) and feeds the same
    # connected-components -> keep-cluster-minimum endgame:
    #   minhash   — shingle Jaccard (the content-overlap default)
    #   simhash   — Hamming-banded signatures (cheapest: one signature
    #               per doc, no shingle explode; token-profile dups)
    #   embedding — semantic near-dups token-level methods cannot see
    #               (paraphrases); joins an embeddings frame by doc id
    #   semantic  — SemDeDup: k-means cluster-blocked exhaustive
    #               cosine for the lower-threshold redundancy regime
    #               where LSH banding recall decays (cap-bounded)
    #   none      — skip the stage (exact dedup only)
    if near_dup == "minhash":
        pairs = minhash_lsh_dedup(
            exact,
            "text",
            "doc_id",
            threshold=jaccard_threshold,
            max_bucket_size=max_bucket_size,
        ).select("id_a", "id_b")
    elif near_dup == "simhash":
        from ..operators.text_dedup import simhash_band_candidates

        pairs = simhash_band_candidates(
            exact, "text", "doc_id", max_hamming=simhash_max_hamming
        ).select("id_a", "id_b")
    elif near_dup == "embedding":
        from ..operators.similarity import self_near_dup_pairs_bucketed

        if embeddings is None:
            embeddings = load_tables(spark, sf_dir, register_views=False)[
                "embeddings"
            ].select(F.col("vec_id").alias("doc_id"), "embedding")
        vecs = embeddings.join(exact.select("doc_id"), "doc_id", "left_semi")
        pairs = self_near_dup_pairs_bucketed(
            vecs, "embedding", "doc_id", threshold=embedding_threshold
        ).select("id_a", "id_b")
    elif near_dup == "semantic":
        # SemDeDup (operators/semdedup.py): k-means cluster-blocked
        # exhaustive cosine — the lower-threshold regime where RP-LSH
        # banding's collision probability decays; cluster cap bounds
        # the quadratic term (nothing here is a product either)
        from ..operators.semdedup import semantic_dup_pairs

        if embeddings is None:
            embeddings = load_tables(spark, sf_dir, register_views=False)[
                "embeddings"
            ].select(F.col("vec_id").alias("doc_id"), "embedding")
        vecs = embeddings.join(exact.select("doc_id"), "doc_id", "left_semi")
        pairs = semantic_dup_pairs(
            vecs,
            "embedding",
            "doc_id",
            threshold=embedding_threshold,
            k=semantic_k,
            max_cluster_size=semantic_max_cluster_size,
        ).select("id_a", "id_b")
    elif near_dup == "none":
        pairs = None
    else:
        raise ValueError(f"unknown near_dup backend {near_dup!r}")

    if pairs is None:
        near_deduped = note("near_deduped", exact)
    else:
        # auto: cheap propagation for the shallow graphs near-dup
        # pairs form, star-contraction escalation on pathological
        # chains
        clusters = cluster_members(pairs, "id_a", "id_b", algorithm="auto")
        drop = clusters.filter(F.col("doc_id") != F.col("cluster_rep")).select(
            "doc_id"
        )
        near_deduped = note(
            "near_deduped", exact.join(drop, "doc_id", "left_anti")
        )

    surviving = near_deduped
    # Re-fan after the dedup endgame (round-15 event-log audit): the
    # reuse checkpoints freeze the AQE-FINALIZED partitioning of their
    # segment, and on a small corpus AQE coalesces the tiny post-dedup
    # exchanges to one partition — every downstream per-row pass (the
    # decontamination 8-gram explode, the chunk posexplode) then ran
    # single-task (1.3-1.7 s stages on one of 32 cores). Same scale_out
    # guard as the input spread: probes the frozen width and no-ops on
    # wide (100 TB) input. Placed BEFORE the decon reuse checkpoint so
    # its blocks materialize wide and the shuffle runs once.
    surviving = scale_out(surviving, "doc_id")
    if benchmark is not None:
        from ..operators.contamination import decontaminate

        # decontaminate (max_rate=0.0 fast path) consumes its input
        # twice — the shingle explode feeding the semi-join and the
        # final anti-join; without a reuse point the whole near-dup
        # endgame above would execute per consumer. Skipped when no
        # near-dup clustering ran (near_dup='none'): surviving is then
        # the already-checkpointed exact frame and a second checkpoint
        # would duplicate the whole corpus into fresh storage blocks
        # for zero reuse gain (round-15 review). Eager in
        # observe-stats mode: the near_deduped observation sits right
        # under this checkpoint and a LAZY one fulfills it with 0
        # (measured rule, caching.lazy_checkpoint docstring)
        if pairs is not None:
            surviving = lazy_checkpoint(
                surviving, eager=with_stats and stats_via == "observe"
            )

        surviving = note(
            "decontaminated",
            decontaminate(surviving, benchmark, n=contamination_n),
        )
    if benchmark_embeddings is not None:
        if embeddings is None:
            raise ValueError(
                "benchmark_embeddings needs embeddings (the corpus vectors)"
            )
        from ..operators.contamination import decontaminate_semantic

        # the paraphrase-robust second decon pass: n-gram overlap
        # misses reworded eval items; embedding cosine does not.
        # Runs after the n-gram pass (cheapest-first ordering)
        surviving = note(
            "semantic_decontaminated",
            decontaminate_semantic(
                surviving,
                embeddings,
                benchmark_embeddings,
                # embeddings was normalized to doc_id on entry
                vec_id_col="doc_id",
                threshold=benchmark_embedding_threshold,
            ),
        )
    if domain_cap is not None:
        from ..operators.sampling import cap_per_stratum

        # per-domain caps run POST-dedup (mass duplicates must not eat
        # a domain's budget — they're already gone) and BEFORE the mix
        # derivation, so temperature weights describe the capped
        # corpus. Counts rejoin as a DataFrame (auto-broadcast), so a
        # web-scale domain cardinality never reaches the driver.
        surviving = note(
            "domain_capped",
            cap_per_stratum(
                surviving, "source", domain_cap, "doc_id", seed=f"{seed}-cap"
            ),
        )
    if mix_temperature is not None:
        from ..operators.sampling import temperature_weights

        # derive the target mix from the SURVIVING corpus's own
        # stratum sizes (post-dedup, so mass duplicates don't inflate
        # a domain's share) — one dim-sized count action
        source_weights = temperature_weights(surviving, "source", mix_temperature)
    if source_weights:
        from ..operators.sampling import rebalance_to_mix

        surviving = note(
            "rebalanced",
            rebalance_to_mix(
                surviving, "source", source_weights, "doc_id", seed=seed
            ),
        )
    split_cols: list[str] = []
    if splits:
        from ..operators.sampling import assign_split

        # split BEFORE any repetition re-keying: every copy of a doc
        # inherits the ORIGINAL key's label, so duplicated text can
        # never land on both sides of an eval boundary
        surviving = assign_split(surviving, "doc_id", splits, seed=seed)
        split_cols = ["split"]
    if upsample_weights:
        from ..operators.sampling import upsample_to_mix

        # repetition instead of discard. Only the training split is
        # upsampled (repeating eval items is never useful); copies
        # inherit the split and fold copy_idx into a string composite
        # key — no numeric-overflow collision for any doc_id.
        if splits:
            train_name = splits[0][0]
            train = surviving.filter(F.col("split") == F.lit(train_name))
            rest = surviving.filter(
                F.col("split") != F.lit(train_name)
            ).withColumn("copy_idx", F.lit(0))
            upsampled = upsample_to_mix(
                train, "source", upsample_weights, "doc_id", seed=seed
            ).unionByName(rest)
        else:
            upsampled = upsample_to_mix(
                surviving, "source", upsample_weights, "doc_id", seed=seed
            )
        surviving = note(
            "upsampled",
            upsampled.withColumn(
                "doc_id",
                F.concat_ws(
                    "#",
                    F.col("doc_id").cast("string"),
                    F.col("copy_idx").cast("string"),
                ),
            ).drop("copy_idx"),
        )

    if chunking == "sentence":
        from ..operators.text_analysis import sentence_chunks

        # semantic-boundary variant: whole sentences packed to the
        # chunk_size token budget; overlap does not apply (sentences
        # are never split, so there is nothing to re-quote). Only an
        # EXPLICIT nonzero overlap errors — the default (None) means
        # "caller said nothing", not a window request (round-11
        # advice: the old int default forced every sentence-mode
        # caller to type overlap=0 for a parameter documented as not
        # applying).
        if overlap:
            raise ValueError("chunking='sentence' does not take overlap")
        chunk_expr = sentence_chunks("text", chunk_size)
    elif chunking == "window":
        overlap = 8 if overlap is None else overlap  # resolved here so the manifest records it
        chunk_expr = chunk_tokens("text", chunk_size, overlap)
    else:
        raise ValueError(f"unknown chunking {chunking!r} (window|sentence)")
    chunked = surviving.select(
        "doc_id",
        "lang",
        "quality",
        *split_cols,
        F.posexplode(chunk_expr).alias("chunk_idx", "chunk"),
    )
    chunked = note("chunks", chunked)

    if pack_budget is not None:
        from ..functions.hashing import stable_long_hash
        from ..operators.packing import pack_chunks

        # packing domains: a hash shard of the doc id, nested inside
        # the split when one exists — a pack never crosses splits and
        # a doc's chunks stay adjacent (same domain, contiguous keys)
        shard = F.pmod(stable_long_hash("doc_id", salt="pack"), F.lit(64))
        dom = F.concat_ws("/", *split_cols, shard.cast("string"))
        # string composite chunk key: unique for ANY doc_id (numeric
        # or re-keyed composite), zero-padded so within-doc chunk
        # order survives the packer's lexicographic sort
        keyed = chunked.withColumn("__dom", dom).withColumn(
            "__ck",
            F.format_string(
                "%s#%010d", F.col("doc_id").cast("string"), F.col("chunk_idx")
            ),
        )
        if bpe_merges is not None:
            # budget in LEARNED subwords: when training uses a BPE
            # tokenizer, whitespace counts undercount rare words that
            # fragment — pack by the tokenizer's own counts instead
            from ..operators.bpe import bpe_token_count

            keyed = bpe_token_count(keyed, "chunk", bpe_merges, out_col="__ct")
        else:
            keyed = keyed.withColumn("__ct", token_count_ws("chunk"))
        chunked = (
            pack_chunks(keyed, "__ck", "__ct", pack_budget, group_col="__dom")
            .drop("__dom", "__ck", "__ct")
        )
        chunked = note("packed", chunked)
    if with_stats and stats_via == "observe":
        # ONE action materializes every stage metric (the funnel for a
        # single pipeline execution); Observation.get then returns
        # without blocking. Persist first so the caller's own action
        # on the returned frame reuses this execution instead of
        # re-running the whole funnel (incl. the iterative
        # connected-components prefix); caller unpersists when done.
        chunked = chunked.persist()
        chunked.count()
        stats.update(
            {name: int(obs.get["rows"]) for name, obs in observations.items()}
        )
    if manifest_path is not None:
        from .manifest import write_corpus_manifest

        # the signature aggregation is an extra action: persist first
        # (when observe mode hasn't already) so it doesn't re-execute
        # the whole funnel, and the caller's own action reuses this run
        if not chunked.is_cached:
            chunked = chunked.persist()

        cfg: dict = {
            "quality_min": quality_min,
            "keep_langs": keep_langs,
            "boilerplate_min_docs": boilerplate_min_docs,
            "quality_model": quality_model.to_dict()
            if quality_model is not None and hasattr(quality_model, "to_dict")
            else None,
            "quality_model_min": quality_model_min,
            "perplexity_lm": {
                "n_tokens": perplexity_lm.n_tokens,
                "vocab_size": perplexity_lm.vocab_size,
                "alpha": perplexity_lm.alpha,
                "lam": perplexity_lm.lam,
            }
            if perplexity_lm is not None
            else None,
            "perplexity_max": perplexity_max,
            "repetition_thresholds": repetition_thresholds,
            # round-12 reproducibility sweep: every knob added since
            # r10 is recorded (a manifest that omits the stages that
            # shaped the corpus is not a manifest)
            "paragraph_policy": paragraph_policy,
            "paragraph_max_docs": paragraph_max_docs,
            "substring_k": substring_k,
            "substring_max_occurrences": substring_max_occurrences,
            "perplexity_keep_buckets": perplexity_keep_buckets,
            "perplexity_bucket_exact": perplexity_bucket_exact,
            "url_col": url_col,
            "url_blocklist": list(url_blocklist)
            if isinstance(url_blocklist, (list, tuple))
            else ("<dataframe>" if url_blocklist is not None else None),
            "url_quality": url_quality,
            "html": html,
            "fix_encoding": fix_encoding,
            "unicode_form": unicode_form,
            "lang_model": {
                "n": lang_model.n,
                "labels": list(lang_model.labels),
                "vocab_rows": len(lang_model.table),
            }
            if lang_model is not None
            else None,
            "content_blocklist": list(content_blocklist)
            if content_blocklist is not None
            else None,
            "content_blocklist_max_hits": content_blocklist_max_hits,
            "chunking": chunking,
            "benchmark": benchmark is not None,
            "benchmark_embeddings": benchmark_embeddings is not None,
            "benchmark_embedding_threshold": benchmark_embedding_threshold,
            "domain_cap": domain_cap,
            "bpe_merges": len(bpe_merges) if bpe_merges is not None else None,
            "near_dup": near_dup,
            "simhash_max_hamming": simhash_max_hamming,
            "embedding_threshold": embedding_threshold,
            "semantic_k": semantic_k,
            "semantic_max_cluster_size": semantic_max_cluster_size,
            "jaccard_threshold": jaccard_threshold,
            "max_bucket_size": max_bucket_size,
            "chunk_size": chunk_size,
            "overlap": overlap,
            "contamination_n": contamination_n,
            "source_weights": source_weights,
            "mix_temperature": mix_temperature,
            "upsample_weights": upsample_weights,
            "splits": splits,
            "pack_budget": pack_budget,
            "seed": seed,
        }
        write_corpus_manifest(manifest_path, chunked, config=cfg, stats=stats)
    return (chunked, stats) if with_stats else chunked
