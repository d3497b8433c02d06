"""End-to-end training-corpus construction pipeline.

Composes the independently oracle-checked stages (quality + language
profile q48_doc_profile, exact dedup q40, SimHash near-dup pairs q43 +
connected components q57, chunking q54) into the funnel a real
pretraining-data run executes over a 100 TB corpus:

    raw docs -> quality filter -> language filter -> exact dedup
             -> near-dup cluster survivor -> overlapping chunks

Scale shape, stage by stage (each inherits its operator's discipline):

* quality + language: pure column expressions, no shuffle — they run
  fused into the document scan and prune the corpus BEFORE any
  shuffle-bearing stage sees it (filter early: every later exchange is
  over the reduced survivor set).
* exact dedup: one hash-agg exchange carrying (md5, id), never text.
* near-dup: banded SimHash equi-join on the deduped survivors only;
  components run on the edge subgraph (|V_edges| << |docs|).
* survivor selection: components output is |graph nodes| + singletons;
  the keep-set join back to the corpus is a broadcast-able semi join
  for any realistic dedup graph (and a shuffle semi join beyond).
* chunking: explode over a shared token array, zero shuffle.

Reference parity note: the reference engine (example-kafkastreams) has
no corpus pipeline — this is part of the LLM-data extension surface,
built from the same operator library its clickstream topologies use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .functions import portable as P
from .obs import progress
from .operators.cache import persist_tracked
from .operators.components import connected_components
from .operators.neardup import (
    exact_text_dedup,
    minhash_components_edges,
    simhash_components_edges,
)
from .operators.text_chunks import chunk_documents
from .queries_llm import _quality_exprs
from .streaming.sinks import (
    COMPACTED_RUN,
    INGEST_PARTS,
    leaf_sink,
    read_leaves,
    split_frontier,
    swap_tree,
    write_leaf,
)


def corpus_stages(
    docs: DataFrame,
    min_quality: float = 0.25,
    languages: tuple[str, ...] = ("en",),
    max_hamming: int = 3,
    chunk_size: int = 32,
    stride: int = 24,
    scrub_pii: bool = True,
    mixture_weights: dict[str, float] | None = None,
    components_broadcast: bool | None = True,
    pack_budget: int | None = None,
    sketch: str = "simhash",
    minhash_threshold: float = 0.5,
    line_clean: dict | None = None,
    substr_k: int | None = None,
    lm_range: tuple[float, float] | None = None,
    normalize: bool = False,
    mix_alpha: float | None = None,
    mix_budget: tuple[float, float] | None = None,
    clf_seed: float | None = None,
    decontam_bench: DataFrame | None = None,
    decontam_mode: str = "bloom",
    language_stage_hook=None,
) -> dict[str, DataFrame]:
    """Every intermediate of the funnel, keyed by stage name — all lazy.

    ``quality``/``language``/``exact_dedup``/``neardup_survivors`` hold
    the surviving (doc_id, text) set after that stage; ``chunks`` is the
    final chunk table; with ``pack_budget`` set, ``packs`` bins the
    chunks into token-budget training sequences (canonical per-document
    packing, so the pack table is partition-independent and
    re-runnable). Evaluate the ones you need; an actual run
    materializes only the last stage. (Exception: ``mixture_weights``
    runs one S-row count job at build time to fold literal acceptance
    rates into the filter — see operators.mixing.)

    ``line_clean``: kwargs for ``operators.lines.clean_documents`` ({}
    for defaults) — runs the C4 line-grain clean BEFORE document-level
    quality, where a web-scraped corpus needs it (boilerplate lines
    would otherwise drag whole documents under the quality floor); the
    rebuilt corpus flows into the unchanged funnel and a
    ``line_cleaned`` stage entry is added.

    ``substr_k``: enable the ExactSubstr stage (Lee et al. 2022
    placement — after the line clean, BEFORE document-level quality,
    so boilerplate spans repeated across documents are excised before
    they distort quality scores): every span of ≥ ``substr_k`` tokens
    occurring twice anywhere in the corpus is removed
    (``operators.substr_dedup.remove_repeated_substrings``) and a
    ``substr_cleaned`` stage entry is added. Default ``None`` keeps
    the funnel (and the q63 oracle path) bit-unchanged.

    ``lm_range``: enable the LM-score stage (the CCNet placement —
    after language ID, before dedup): documents keep only when their
    corpus-trained bigram ``operators.lm.lm_score`` lands in
    ``[lo, hi]`` — the low cut drops aleatoric noise (CCNet's
    perplexity tail), the high cut drops boilerplate (Gopher's
    most-common-n-gram regime scores near 1.0). Documents too short
    to have bigrams carry no evidence and pass. A day-2 delta would
    score against the DAY-1 model via ``lm_score(model=…)`` (the
    external-model path, OOV floor included) — the same
    yesterday's-statistics discipline as the persistent dedup
    indexes. Default ``None`` keeps the funnel bit-unchanged.

    ``normalize``: enable the text-normalization pre-clean (the
    CCNet/C4 placement — FIRST, before even the line clean, because
    every downstream heuristic tokenizes on canonical whitespace and
    compares canonical codepoints): mojibake repair, NFC-lite
    combining-mark recomposition, control strip, newline/whitespace
    canonicalization (``functions.portable.normalize_text`` — the
    dual-dialect expression, so the oracle re-derives it exactly).
    Pure map-side scan work; a ``normalized`` stage entry is added.
    Default ``False`` keeps the funnel bit-unchanged.

    ``clf_seed``: enable the model-based quality filter (the DCLM
    placement — after language ID and the optional LM gate, before
    dedup): a hashing-trick linear classifier
    (operators.quality_clf) is trained on THIS corpus with seed label
    ``quality_score >= clf_seed``, then only documents the model
    scores positive survive. Like ``mixture_weights``, training runs
    a bounded job at build time (one 256-row histogram + collect);
    scoring folds the weight vector into the plan as a literal array
    — a pure map-side expression, no join or shuffle. A day-2 delta
    scores against the day-1 weight vector (pass the vector through
    ``operators.quality_clf.score_inline`` directly) — the same
    yesterday's-model discipline as ``lm_score(model=…)``. Default
    ``None`` keeps the funnel bit-unchanged.

    ``decontam_bench``: enable benchmark decontamination (the
    evaluation-integrity stage every pretraining release runs LAST,
    after dedup and mixing shrink the corpus): documents sharing
    shingles with the held-out benchmark drop.
    ``decontam_mode="bloom"`` probes the benchmark's Bloom filter
    MAP-SIDE (operators.decontam.contamination_report_bloom — ~KB of
    plan literals, zero corpus shuffle, no false negatives, an
    FPR-bounded superset drops); ``"exact"`` anti-joins the broadcast
    shingle hit list (exactly the contaminated set, one broadcast).
    Default ``None`` keeps the funnel bit-unchanged.

    ``mix_alpha``: temperature-scaled mixing at the same post-dedup
    placement as ``mixture_weights`` (the rates must see deduped
    per-source counts), deriving target shares from the surviving
    corpus itself (n^α flattening, ``operators.mixing
    .mix_sources_temperature``) instead of prescribed weights —
    mutually exclusive with ``mixture_weights``. Default ``None``
    keeps the funnel bit-unchanged.

    ``mix_budget``: ``(budget, alpha)`` — mix down to an ABSOLUTE
    surviving-row budget with temperature-shaped per-source quotas
    (``operators.mixing.mix_sources_budget``, water-filled so
    over-allocated sources pin at their counts), at the same
    post-dedup placement; mutually exclusive with the other two
    mixers. The "N documents at α" form a run actually specifies.
    Default ``None`` keeps the funnel bit-unchanged.
    """
    mixers = sum(
        1 for m in (mixture_weights, mix_alpha, mix_budget)
        if m is not None and m != {}
    )
    if mixers > 1:
        raise ValueError(
            "mixture_weights, mix_alpha, and mix_budget are mutually "
            "exclusive: each derives its own target shares"
        )
    raw = docs
    normalized = None
    if normalize:
        normalized = docs.withColumn(
            "text", F.expr(P.normalize_text("text", P.SPARK))
        )
        docs = normalized
    line_cleaned = None
    if line_clean is not None:
        from .operators.lines import clean_documents

        line_cleaned = clean_documents(docs, **line_clean)
        docs = line_cleaned.drop("n_lines_kept")
    substr_cleaned = None
    if substr_k is not None:
        from .operators.substr_dedup import remove_repeated_substrings

        substr_cleaned = remove_repeated_substrings(docs, k=substr_k)
        docs = substr_cleaned
    exprs = _quality_exprs(P.SPARK)
    scored = docs.withColumn(
        "quality_score", F.expr(exprs["quality_score"])
    )
    quality = scored.filter(F.col("quality_score") >= min_quality)

    # q48's marker-score language ID (the operator's prediction, not the
    # table's label column — a real run has no labels).
    scores = P.lang_scores("text", P.SPARK)
    with_pred = quality.withColumns(
        {f"score_{lang}": F.expr(e) for lang, e in scores.items()}
    ).withColumn(
        "pred_lang",
        F.expr(P.lang_predict({l: f"score_{l}" for l in P.LANG_MARKERS})),
    )
    # The filtered set fans out into several join branches below; an
    # unpersisted plan re-reads the corpus and re-evaluates the regex
    # chains once PER BRANCH (plan-audited: 4 full scan subtrees).
    # Persist the two fan-out stages — the in-session analog of the
    # stage-boundary parquet materialization a production 100 TB run
    # uses; release with operators.cache.release_sketch_caches.
    language = persist_tracked(
        with_pred.filter(F.col("pred_lang").isin(*languages)).drop(
            *[f"score_{lang}" for lang in scores]
        )
    )
    if language_stage_hook is not None:
        # Overlap hook (guide §2.6): a sibling build whose only input
        # is the language stage — q63's day-2 delta funnel, whose
        # persistent indexes derive from this stage's texts — can
        # launch its own driver thread HERE and run concurrently with
        # the eager component stage below, instead of waiting for the
        # whole funnel to construct. Called with the persisted frame;
        # must not block.
        language_stage_hook(language)

    lm_filtered = None
    if lm_range is not None:
        from .operators.lm import lm_score

        lo, hi = lm_range
        sc = lm_score(language)  # corpus-trained on this stage
        lm_filtered = persist_tracked(
            language.join(
                sc.select("doc_id", "lm_score"), "doc_id", "left"
            )
            .filter(
                F.col("lm_score").isNull()
                | (
                    (F.col("lm_score") >= lo)
                    & (F.col("lm_score") <= hi)
                )
            )
            .drop("lm_score")
        )
    dedup_in = lm_filtered if lm_filtered is not None else language

    clf_filtered = None
    if clf_seed is not None:
        from .operators.quality_clf import (
            score_inline,
            train_hashed_classifier,
            weights_vector,
        )

        labeled = dedup_in.withColumn(
            "__pos", F.col("quality_score") >= clf_seed
        )
        w = weights_vector(train_hashed_classifier(labeled, "__pos"))
        clf_filtered = persist_tracked(
            score_inline(dedup_in, w)
            .filter(F.col("clf_keep"))
            .drop("clf_score", "clf_n_tokens", "clf_keep")
        )
        dedup_in = clf_filtered

    survivors = exact_text_dedup(dedup_in)
    exact = persist_tracked(
        dedup_in.join(survivors.select("doc_id"), "doc_id", "semi")
    )

    # Star-contracted edges (k−1 per identical-sketch group instead of
    # C(k,2) pairs): same transitive closure, and the component loop's
    # per-round shuffle stops growing quadratically with duplication.
    # ``sketch`` picks the near-dup notion: "simhash" (Hamming ≤ h on a
    # tf-weighted 32-bit fingerprint — the q63-checked default) or
    # "minhash" (estimated shingle-Jaccard ≥ threshold — the choice
    # when overlap, not token voting, defines "near"); both paths are
    # star-contracted, so the components loop sees the same edge scale.
    if sketch == "simhash":
        pairs = simhash_components_edges(exact, max_hamming=max_hamming)
    elif sketch == "minhash":
        pairs = minhash_components_edges(
            exact, threshold=minhash_threshold
        )
    else:
        raise ValueError(
            f"sketch must be 'simhash' or 'minhash', got {sketch!r}"
        )
    # Explicit broadcast decision: the near-dup graph's label table is
    # bounded by the banded-LSH collision set over the already-filtered
    # survivor corpus — orders of magnitude under broadcast limits for
    # any funnel this operator library targets — so the funnel skips
    # connected_components' auto-sizing job (one blocking agg per run).
    # A caller expecting a beyond-broadcast dedup graph (billions of
    # colliding docs) passes components_broadcast=False (or None to
    # re-enable auto-sizing).
    comp = connected_components(
        pairs, nodes=exact, node_col="doc_id", broadcast=components_broadcast
    )
    # Canonical survivor = the component minimum (component_id IS the
    # min doc_id by construction), so the keep-set needs no extra agg.
    keep = comp.filter(F.col("doc_id") == F.col("component_id")).select(
        "doc_id"
    )
    neardup = exact.join(keep, "doc_id", "semi")

    # Optional domain mixing AFTER dedup (dedup changes the per-source
    # counts the rates are computed from; mixing first would re-skew).
    if mixture_weights:
        from .operators.mixing import mix_sources

        neardup = mix_sources(neardup, mixture_weights)
    elif mix_alpha is not None:
        from .operators.mixing import mix_sources_temperature

        neardup = mix_sources_temperature(neardup, mix_alpha)
    elif mix_budget is not None:
        from .operators.mixing import mix_sources_budget

        budget, b_alpha = mix_budget
        neardup = mix_sources_budget(neardup, budget, b_alpha)

    decontaminated = None
    if decontam_bench is not None:
        from .operators.decontam import (
            contamination_report,
            contamination_report_bloom,
        )

        if decontam_mode == "bloom":
            rep = contamination_report_bloom(neardup, decontam_bench)
            flagged = rep.filter(F.col("contaminated")).select("doc_id")
        elif decontam_mode == "exact":
            flagged = contamination_report(
                neardup, decontam_bench
            ).select("doc_id")
        else:
            raise ValueError(
                f"decontam_mode must be 'bloom' or 'exact', got "
                f"{decontam_mode!r}"
            )
        decontaminated = neardup.join(
            F.broadcast(flagged), "doc_id", "left_anti"
        )
        neardup = decontaminated

    # Scrub LAST (on survivors only): the regex chain is the most
    # expensive per-byte stage, so it runs on the funnel's smallest
    # document set. Scrub before chunking so no chunk straddles a
    # redaction boundary.
    if scrub_pii:
        neardup = neardup.withColumn(
            "text", F.expr(P.pii_scrub("text", P.SPARK))
        )

    chunks = chunk_documents(
        neardup, chunk_size=chunk_size, stride=stride
    )
    stages = {
        "raw": raw,
        "quality": quality,
        "language": language,
        "exact_dedup": exact,
        "neardup_survivors": neardup,
        "chunks": chunks,
    }
    if normalized is not None:
        stages["normalized"] = normalized
    if line_cleaned is not None:
        stages["line_cleaned"] = line_cleaned
    if substr_cleaned is not None:
        stages["substr_cleaned"] = substr_cleaned
    if lm_filtered is not None:
        stages["lm_filtered"] = lm_filtered
    if clf_filtered is not None:
        stages["clf_filtered"] = clf_filtered
    if decontaminated is not None:
        stages["decontaminated"] = decontaminated
    if pack_budget is not None:
        from .operators.packing import pack_chunks

        # chunks now fans out (its own consumer + the packer): persist
        # like the other fan-out stages so the explode + PII chain runs
        # once, not once per consumer.
        stages["chunks"] = persist_tracked(chunks)
        stages["packs"] = pack_chunks(
            stages["chunks"], budget=pack_budget, canonical=True
        )
    return stages


def build_pretrain_corpus(docs: DataFrame, **kwargs) -> DataFrame:
    """The funnel's final table — chunks (doc_id, chunk_idx, chunk_text,
    n_tokens), or packed training sequences when ``pack_budget`` is set
    — one lazy DataFrame, ready for a partitioned write."""
    stages = corpus_stages(docs, **kwargs)
    return stages.get("packs", stages["chunks"])



def corpus_filter_stream(
    docs: DataFrame,
    min_quality: float = 0.25,
    languages: tuple[str, ...] = ("en",),
    scrub_pii: bool = True,
) -> DataFrame:
    """Ingestion-time corpus gate: the funnel's stateless front half
    (quality score → language ID → PII scrub) as a streaming stage.

    All three are pure column expressions — no watermark, no state, no
    shuffle — so they run fused into each micro-batch's scan exactly as
    they fuse into the batch funnel's. This is the landing-zone shape a
    streaming 100 TB ingest uses: filter and redact documents as they
    ARRIVE, so the expensive stateful stages (dedup, components)
    downstream — or the nightly batch funnel — only ever see survivors.
    Semantics are batch-identical by construction: the SAME dual-dialect
    expressions back the driver-checked rows of q48_doc_profile (the
    merged quality+lang profile) and q62 (PII scrub).
    """
    exprs = _quality_exprs(P.SPARK)
    scored = docs.withColumn("quality_score", F.expr(exprs["quality_score"]))
    quality = scored.filter(F.col("quality_score") >= min_quality)
    scores = P.lang_scores("text", P.SPARK)
    with_pred = quality.withColumns(
        {f"score_{lang}": F.expr(e) for lang, e in scores.items()}
    ).withColumn(
        "pred_lang",
        F.expr(P.lang_predict({l: f"score_{l}" for l in P.LANG_MARKERS})),
    )
    out = with_pred.filter(F.col("pred_lang").isin(*languages)).drop(
        *[f"score_{lang}" for lang in scores]
    )
    if scrub_pii:
        out = out.withColumn("text", F.expr(P.pii_scrub("text", P.SPARK)))
    return out


def corpus_ingest_stream(
    docs: DataFrame,
    ts_col: str = "ts",
    watermark_delay: str = "10 seconds",
    min_quality: float = 0.25,
    languages: tuple[str, ...] = ("en",),
    scrub_pii: bool = True,
    neardup_gate: bool = False,
    benchmark: DataFrame | None = None,
    decontam_n: int = 5,
    decontam_min_hits: int = 1,
    observe: bool = False,
) -> DataFrame:
    """Streaming ingest = the gate + CONTENT DEDUP: the stateful next
    stage a real streaming corpus ingest runs after the stateless
    landing-zone filter (VERDICT r4 item 1) — the reference's own
    warm-up topology (DeduplicationExample.scala:96-142) re-cast from
    keyed events to document content.

    Stage order matches the batch funnel exactly (quality → language →
    exact dedup → PII scrub): dedup runs on the ORIGINAL text and the
    scrub runs on survivors only, so the streamed survivor set equals
    the batch funnel's quality→lang→exact-dedup prefix on the same
    corpus, and the expensive regex chain prices only what survives.

    Scale/state discipline — the streaming twin of exact_text_dedup's
    shuffle shape: the md5 digest is computed MAP-SIDE, the stateful
    operator keys on it, and ``dropDuplicatesWithinWatermark`` keeps
    ONLY its key columns in the state store — so both the dedup
    exchange's partitioning key and the per-key state carry a 32-char
    digest, never the document body, and the watermark reaps digests
    once event time passes (state is bounded by the distinct-content
    arrival rate × the watermark horizon, independent of stream
    length).

    Semantics note: streaming keeps the FIRST-ARRIVED copy of each
    distinct text; the batch funnel keeps min(doc_id). The two agree
    whenever arrival order is id order — the append-log normal case the
    golden test stages; an out-of-order ingest diverges only in WHICH
    duplicate survives, never in the survivor count.

    ``benchmark``: compose the stream-static decontamination gate
    (``corpus_decontaminate_stream``) between the stateless gate and
    the stateful dedup — the full landing zone in one stream:
    quality → language → decontaminate → content dedup → scrub.

    ``observe=True``: per-micro-batch ingest observability through
    Spark's OWN metrics channel — ``Dataset.observe`` aggregates ride
    the normal execution (ZERO extra passes or actions, unlike a
    foreachBatch recount) and surface per batch in
    ``StreamingQueryProgress.observedMetrics``. Three observation
    points (``ingest_raw`` / ``ingest_gated`` / ``ingest_admitted``)
    bracket the stateless gate and the stateful dedup;
    ``ingest_batch_metrics(query)`` turns the progress history into
    per-batch gate/dedup drop counts with a conservation identity
    (raw − gate_dropped − dedup_dropped = admitted). Observation
    names are per-query unique — compose at most one observed ingest
    per streaming query.
    """
    if observe:
        docs = docs.observe("ingest_raw", F.count(F.lit(1)).alias("n"))
    gated = corpus_filter_stream(
        docs,
        min_quality=min_quality,
        languages=languages,
        scrub_pii=False,  # scrub AFTER dedup — the batch funnel's order
    )
    if benchmark is not None:
        # decontamination is a landing-zone filter like quality/lang:
        # stateless, so it slots BEFORE the stateful dedup and
        # contaminated docs never enter the digest state store
        gated = corpus_decontaminate_stream(
            gated, benchmark, n=decontam_n, min_hits=decontam_min_hits
        )
    if observe:
        gated = gated.observe(
            "ingest_gated", F.count(F.lit(1)).alias("n")
        )
    deduped = (
        gated.withColumn("content_hash", F.md5(F.col("text")))
        .withWatermark(ts_col, watermark_delay)
        .dropDuplicatesWithinWatermark(["content_hash"])
        .drop("content_hash")
    )
    if neardup_gate:
        # Exact-SKETCH near-dup suppression: drop any doc whose 32-bit
        # SimHash collides with an earlier doc inside the watermark.
        # This is the streaming cut of the star-contraction insight
        # (neardup.simhash_components_edges): in duplicate-heavy
        # corpora the overwhelming mass of near-dup pairs sits in
        # IDENTICAL-sketch groups, and those need no banding or
        # Hamming verify — key equality is enough for a stateful
        # stream op. Hamming ≥ 1 neighbors still reach the nightly
        # batch components stage; this gate just stops the flood
        # before it. State carries an 8-byte long per distinct sketch
        # — tighter still than the 32-char digest above.
        deduped = (
            deduped.withColumn(
                "__th", F.expr(P.token_hash_array("text", P.SPARK))
            )
            .withColumn(
                "__simhash", F.expr(P.simhash_from_hashes("__th", P.SPARK))
            )
            .drop("__th")
            .dropDuplicatesWithinWatermark(["__simhash"])
            .drop("__simhash")
        )
    if observe:
        deduped = deduped.observe(
            "ingest_admitted", F.count(F.lit(1)).alias("n")
        )
    if scrub_pii:
        deduped = deduped.withColumn(
            "text", F.expr(P.pii_scrub("text", P.SPARK))
        )
    return deduped


def ingest_batch_metrics(query) -> list[dict]:
    """Per-micro-batch ingest report from a query running a
    ``corpus_ingest_stream(observe=True)`` plan: one dict per batch
    that actually observed data, ::

        {"batch_id", "raw", "gated", "admitted",
         "gate_dropped",   # quality/language/decontam drops
         "dedup_dropped"}  # content-dedup (and neardup-gate) drops

    sourced from the query's progress reports (``obs.progress``) — the
    metrics Spark already computed inline (no extra action touched the
    stream). Batches are at-least-once like the data: a crash-replayed
    batch reports again under the same batch_id; consumers keep the
    last report per id (the dynamic-overwrite convention, applied to
    telemetry)."""
    out = []
    for d in progress(query):
        om = d.get("observedMetrics") or {}
        if "ingest_raw" not in om:
            continue  # no-data finalization batch
        raw = int(om["ingest_raw"]["n"])
        # a missing observation point (a plan without that stage) is
        # absent, not zero — None keeps the report honest
        gated = (
            int(om["ingest_gated"]["n"]) if "ingest_gated" in om else None
        )
        admitted = (
            int(om["ingest_admitted"]["n"])
            if "ingest_admitted" in om
            else None
        )
        row = {
            "batch_id": int(d["batchId"]),
            "raw": raw,
            "gated": gated,
            "admitted": admitted,
            "gate_dropped": raw - gated if gated is not None else None,
            "dedup_dropped": (
                gated - admitted
                if gated is not None and admitted is not None
                else None
            ),
        }
        if "ingest_packed" in om:
            row["packed"] = int(om["ingest_packed"]["n"])
        out.append(row)
    return out


def corpus_ingest_chunks_stream(
    docs: DataFrame,
    ts_col: str = "ts",
    watermark_delay: str = "10 seconds",
    min_quality: float = 0.25,
    languages: tuple[str, ...] = ("en",),
    scrub_pii: bool = True,
    chunk_size: int = 32,
    stride: int = 24,
    observe: bool = False,
) -> DataFrame:
    """The streamed funnel through its LAST stateless stage: gate →
    content dedup → PII scrub → overlapping chunks, emitting
    training-ready (doc_id, chunk_idx, chunk_text, n_tokens) rows per
    micro-batch.

    Chunking is a pure explode over the shared token array (zero state,
    zero shuffle — `operators.text_chunks`), so it composes onto the
    deduped stream for free; after it, only packing (a global binning
    choice that belongs to the batch consumer) separates the stream
    from `build_pretrain_corpus`'s output. Chunks inherit exactly the
    batch funnel's layout, so the golden equality extends stage by
    stage: streamed chunks == chunk_documents(batch survivor prefix).
    """
    deduped = corpus_ingest_stream(
        docs,
        ts_col=ts_col,
        watermark_delay=watermark_delay,
        min_quality=min_quality,
        languages=languages,
        scrub_pii=scrub_pii,
        observe=observe,
    )
    return chunk_documents(deduped, chunk_size=chunk_size, stride=stride)


def corpus_ingest_packs_stream(
    docs: DataFrame,
    budget: int,
    ts_col: str = "ts",
    watermark_delay: str = "10 seconds",
    min_quality: float = 0.25,
    languages: tuple[str, ...] = ("en",),
    scrub_pii: bool = True,
    chunk_size: int = 32,
    stride: int = 24,
    shards: int = 8,
    pack_linger_seconds: float = 60.0,
    observe: bool = False,
) -> DataFrame:
    """The WHOLE continuous pretrain pipeline as ONE streaming query:
    quality → language → exact-dedup → PII-scrub gates
    (``corpus_ingest_stream``) → overlapping chunks (stateless
    explode, event-time carried onto every chunk) → fixed-budget
    sequence packing (``streaming.ops.pack_chunks_stream``) — raw
    documents in, training-ready (pack_id, n_chunks, n_tokens, text)
    sequences out, per micro-batch.

    Two stateful operators share the query: the dedup gate's
    ``dropDuplicatesWithinWatermark`` DEFINES the watermark and the
    packer inherits it (``watermark_delay=None`` — Spark forbids
    redefining one mid-query); the packer's tail-flush timeout rides
    the same watermark. State stays bounded by construction: digests
    within the watermark horizon + one open pack per shard.

    Golden equality (tests): with in-order arrival the emitted packs
    equal ``pack_chunks`` over ``chunk_documents`` of the batch
    funnel's quality→lang→exact-dedup→scrub prefix — the stage-by-
    stage equality of ``corpus_ingest_chunks_stream`` extended through
    its first STATEFUL post-dedup stage."""
    from .streaming.ops import pack_chunks_stream

    deduped = corpus_ingest_stream(
        docs,
        ts_col=ts_col,
        watermark_delay=watermark_delay,
        min_quality=min_quality,
        languages=languages,
        scrub_pii=scrub_pii,
        observe=observe,
    )
    chunks = chunk_documents(
        deduped, chunk_size=chunk_size, stride=stride,
        carry_cols=(ts_col,),
    )
    packs = pack_chunks_stream(
        chunks,
        budget,
        shards=shards,
        ts_col=ts_col,
        watermark_delay=None,
        linger_seconds=pack_linger_seconds,
    )
    if observe:
        # the pipeline's emission grain: closed packs per micro-batch
        # (an open pack carries across batches, so packed counts lag
        # admitted counts until the tail flush — the report shows it)
        packs = packs.observe(
            "ingest_packed", F.count(F.lit(1)).alias("n")
        )
    return packs


def training_shards_sink(
    path: str,
    num_shards: int,
    key_col: str = "pack_id",
    run_id: str | None = None,
):
    """The streaming last mile: a ``foreachBatch`` sink writing each
    micro-batch's packed sequences into fixed training shards — the
    continuous twin of ``operators.packing.write_training_shards``,
    sharing its contract exactly: shard id is a PURE FUNCTION of the
    row key (first 8 md5 hex digits mod ``num_shards``), so a pack
    lands in the same shard whether it was written by the nightly
    batch job, this stream, or a crash-replayed micro-batch.

    Layout: ``__shard=k/ingest_run=<token>/ingest_batch=<id>/``, the
    leaf layout of ``streaming.sinks``. Within a leaf, rows sort by the
    full md5 (the same seedless decorrelated order). A data loader
    reads ``__shard=k/`` recursively.

    Wire as::

        packs = corpus_ingest_packs_stream(docs, budget=4096)
        q = packs.writeStream.foreachBatch(
            training_shards_sink(out, num_shards=64)
        ).option("checkpointLocation", ckpt).start()
    """

    def write(batch_df: DataFrame, token: str, batch_id: int) -> None:
        from .operators.packing import shard_assignment

        write_leaf(
            shard_assignment(batch_df, num_shards, key_col)
            .repartition(num_shards, F.col("__shard"))
            .sortWithinPartitions("__shard", "__shard_ord")
            .drop("__shard_ord"),
            path,
            token,
            batch_id,
            ("__shard", *INGEST_PARTS),
        )

    return leaf_sink(path, write, run_id)


def compact_training_shards(
    spark, path: str, key_col: str = "pack_id"
) -> None:
    """Fold the streaming shard writer's per-batch leaves
    (``__shard=k/ingest_run=…/ingest_batch=…``) into one
    ``ingest_run=__compacted__/ingest_batch=0`` leaf per shard — the
    between-runs maintenance an always-on ingest needs so a data
    loader's shard read stays a few large files instead of thousands
    of micro-batch leaves. Run only while no ingest query is writing
    (the ``index_maint.compact_index`` contract).

    A row served twice here is DUPLICATED TRAINING DATA, so the store
    is swapped whole (``streaming.sinks.swap_tree``), and each run's
    frontier leaf is held back (the compaction rules in
    ``streaming.sinks``). The within-leaf md5 sort is a pure function
    of the key, so the folded leaf re-sorts by the full md5 and carries
    the seedless decorrelated order across its whole shard: a compacted
    shard prefix is a BETTER uniform sample than the per-batch leaves
    it replaced.
    """
    import os

    with swap_tree(path) as (local, tmp):
        if not os.path.isdir(local):
            return
        df = spark.read.parquet(local)
        fold, held = split_frontier(
            df.select(*INGEST_PARTS).distinct().collect()
        )
        if all(run == COMPACTED_RUN for run, _ in fold):
            return  # nothing new to fold — idempotent no-op
        frontier = F.broadcast(
            spark.createDataFrame(held, "ingest_run string, ingest_batch int")
        )
        merged = (
            df.join(frontier, list(INGEST_PARTS), "left_anti")
            .withColumns(
                {
                    "ingest_run": F.lit(COMPACTED_RUN),
                    "ingest_batch": F.lit(0),
                }
            )
            .unionByName(df.join(frontier, list(INGEST_PARTS), "left_semi"))
        )
        (
            merged.withColumn("__ord", F.md5(F.col(key_col).cast("string")))
            .repartition("__shard", "ingest_run", "ingest_batch")
            .sortWithinPartitions(
                "__shard", "ingest_run", "ingest_batch", "__ord"
            )
            .drop("__ord")
            .write.partitionBy("__shard", "ingest_run", "ingest_batch")
            .parquet(tmp)
        )


def corpus_funnel_counts(stages: dict[str, DataFrame]) -> DataFrame:
    """1-row funnel report (n_raw, n_quality, ... n_chunks) — a single
    action evaluating every stage once, for pipeline observability."""
    out = None
    for name, df in stages.items():
        c = df.agg(F.count(F.lit(1)).alias(f"n_{name}"))
        out = c if out is None else out.crossJoin(c)
    return out


def corpus_decontaminate_stream(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    min_hits: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """Stream-static decontamination gate: drop arriving docs sharing
    ≥ ``min_hits`` distinct n-token shingles with a STATIC benchmark.

    The benchmark's distinct shingle set collapses to a one-row static
    frame (``collect_set``) cross-joined into each micro-batch — a
    stream-static join, the one join flavor the reference's topology
    has no analog for (its joins are stream-stream windowed). The
    static side is tiny by the decontamination contract, Spark
    re-evaluates it per trigger, and the per-doc check is a map-side
    ``array_intersect`` against the doc's own shingles: no state, no
    watermark, no shuffle — the same landing-zone shape as the
    quality/lang gate, so it composes anywhere in
    ``corpus_filter_stream``'s position. Batch-equivalent to
    ``operators.decontam.decontaminate`` on the same inputs (shingle
    sets are identical; only the membership-test plan differs).
    """
    from .operators.decontam import benchmark_shingles

    # the ONE definition of "the benchmark shingle set" — shared with
    # the batch operator so the documented batch-equivalence can't
    # drift
    bench_arr = benchmark_shingles(benchmark, n, text_col).agg(
        F.collect_set("gram").alias("__bench_grams")
    )
    sh = F.expr(P.shingles(text_col, n, P.SPARK))
    return (
        docs.crossJoin(bench_arr)
        .filter(
            F.size(F.array_intersect(sh, F.col("__bench_grams")))
            < min_hits
        )
        .drop("__bench_grams")
    )


def corpus_ingest_with_index(
    docs: DataFrame,
    spark,
    index_path: str,
    ts_col: str = "ts",
    id_col: str = "doc_id",
    text_col: str = "text",
    **ingest_kwargs,
):
    """Streaming ingest with a PERSISTENT digest index — the cross-JOB
    memory ``corpus_ingest_stream`` alone lacks.

    In-stream ``dropDuplicatesWithinWatermark`` state lives inside ONE
    query's checkpoint and watermark horizon; a re-ingest next week (a
    fresh query) would re-admit everything. The stored index closes
    the loop, composing the streaming gate with
    ``neardup.incremental_exact_dedup``'s contract:

    * at query START the existing index (one 32-hex ``content_hash``
      column, parquet) joins STREAM-STATIC left-anti against each
      micro-batch — docs whose content any PREVIOUS run admitted never
      even reach the dedup state store;
    * the returned ``sink`` (a foreachBatch function) appends each
      micro-batch's survivors to ``out_path`` AND their
      (id, content_hash) rows to the index — so ``index' = index ∪
      admitted``, exactly ``incremental_exact_dedup``'s update rule,
      maintained incrementally by the stream itself.

    Returns ``(stream_df, make_sink)`` — start with::

        df, mk = corpus_ingest_with_index(stream, spark, idx)
        q = df.writeStream.foreachBatch(mk(out_path)).option(
            "checkpointLocation", ckpt).start()

    Scale notes: the static index side re-reads only at query start
    (admitted-this-run dups are the stream state's job); the anti join
    carries digests, never text; the per-batch index append is the
    same digest-only layout a nightly batch job would write.

    Both outputs are leaves of ``streaming.sinks``'s replay protocol
    (a failure between the two writes is repaired when the replay
    rewrites both).
    """
    out = corpus_ingest_stream(
        docs, ts_col=ts_col, **ingest_kwargs
    ).withColumn("content_hash", F.md5(F.col(text_col)))
    idx = read_leaves(spark, index_path)
    if idx is not None:
        out = out.join(idx.select("content_hash"), "content_hash", "left_anti")

    def make_sink(out_path: str, run_id: str | None = None):
        def write(batch_df: DataFrame, token: str, batch_id: int) -> None:
            write_leaf(
                batch_df.drop("content_hash"), out_path, token, batch_id
            )
            write_leaf(
                batch_df.select(id_col, "content_hash"),
                index_path,
                token,
                batch_id,
            )

        return leaf_sink(out_path, write, run_id)

    return out, make_sink


def corpus_ingest_with_neardup_index(
    docs: DataFrame,
    spark,
    index_path: str,
    ts_col: str = "ts",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    sketch: str = "minhash",
    max_hamming: int = 3,
    **ingest_kwargs,
):
    """Streaming ingest with a persistent NEAR-dup index — the MinHash
    band-index analog of ``corpus_ingest_with_index``'s digest index
    (``sketch="simhash"`` switches notion and index layout, like the
    batch funnel),
    closing the last cross-job gap: exact replays are caught by the
    digest index, but a PARAPHRASED re-ingest (token swaps, near-copy)
    sails through any exact gate. Here each micro-batch is near-dup'd
    against everything any previous batch or RUN admitted.

    Per micro-batch (inside the returned foreachBatch sink, all batch
    Spark — streaming joins can't express collide-then-verify +
    components, batch can; the admission decision itself is
    ``neardup.admit_against_band_index``, the shared batch operator):

    1. edges = ``incremental_minhash_edges(batch, stored index)`` —
       within-batch star/rep pairs plus cross edges to admitted
       content; the corpus side is the band index (reps only), so the
       per-batch cost is batch-proportional (SCALE_PROBE
       ``incremental_minhash_delta``: shuffle ratio 1.0 at 10x
       corpus).
    2. ``connected_components`` over batch ∪ edge endpoints; a
       component touching ANY index doc is dropped wholesale (its
       content is already represented); in a clean component the min
       id — which IS ``component_id`` — survives.
    3. survivors append to ``out_path``; survivors' component-mates'
       NEW distinct signatures append to the index (admitting every
       sig of an admitted component makes the future gate strictly
       stronger: later copies of a dropped variant still collide).
       Dropped (poisoned) components add nothing — future copies of
       their docs collide with the same index entries that poisoned
       them, deterministically.

    Both writes are leaves of ``streaming.sinks``'s replay protocol,
    and the index read excludes the batch's own leaf: a replay (crash
    after the index write, before the offset commit) would otherwise
    re-read this batch's own admitted sigs under the same doc ids,
    violating the disjoint-id assumption of
    ``admit_against_band_index`` — clean multi-sig components would
    self-collide and drop.

    The index is re-read per batch (not once at query start like the
    digest version) because within-run cross-BATCH near-dups are only
    visible through the index — the in-stream state covers exact
    digests, not bands. The re-read is the band table of distinct-sig
    reps: compact, and bucketed storage would drop its exchange
    (tests/test_incremental_neardup.py).
    """
    from .operators.cache import release_sketch_caches
    from .operators.neardup import admit_against_band_index

    out = corpus_ingest_stream(docs, ts_col=ts_col, **ingest_kwargs)

    def make_sink(out_path: str, run_id: str | None = None):
        def write(batch_df: DataFrame, token: str, batch_id: int) -> None:
            try:
                survivors, admitted_sigs = admit_against_band_index(
                    batch_df,
                    read_leaves(spark, index_path, [(token, batch_id)]),
                    id_col=id_col, text_col=text_col,
                    num_hashes=num_hashes, bands=bands,
                    shingle_n=shingle_n, threshold=threshold,
                    sketch=sketch, max_hamming=max_hamming,
                )
                write_leaf(survivors, out_path, token, batch_id)
                write_leaf(admitted_sigs, index_path, token, batch_id)
            finally:
                release_sketch_caches()

        return leaf_sink(out_path, write, run_id)

    return out, make_sink


def embedding_ingest_with_srp_index(
    emb: DataFrame,
    spark,
    index_path: str,
    ts_col: str = "ts",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: list[list[float]] | None = None,
    watermark_delay: str = "10 seconds",
    observe: bool = False,
):
    """Streaming EMBEDDING ingest with a persistent SRP-bucket index —
    the semantic-dedup member of the ingest family
    (``corpus_ingest_with_index`` = exact digests,
    ``corpus_ingest_with_neardup_index`` = MinHash/SimHash bands,
    this = embedding cosine via ``knn.admit_against_srp_index``):
    each micro-batch of vectors is admitted against every vector any
    previous batch or RUN admitted, so a paraphrase that ships a
    near-identical EMBEDDING (the case token sketches miss when the
    surface form changes entirely) is dropped cross-job.

    Stream side: exact-duplicate vectors are dropped in-stream by
    ``dropDuplicatesWithinWatermark`` on a MAP-SIDE md5 of the vector
    — the state store and the dedup exchange carry a 32-char digest,
    never the float array, and the watermark reaps digests (state
    bounded by distinct-vector arrival rate × horizon).

    Sink side (returned ``make_sink``; all batch Spark — the
    collide-then-verify + component loop is not expressible as a
    streaming join): per batch, the stored index minus the batch's own
    leaf (the replay exclusion of ``streaming.sinks``) gates the batch
    through ``admit_against_srp_index``; survivors and the index delta
    (rep id, vector, bucket) land as leaves, as in the text sinks.
    Per-batch cost is batch-proportional: the corpus side is the
    distinct-vector rep table joined per bucket (SCALE_PROBE
    ``incremental_srp_delta``).
    """
    from .operators.cache import release_sketch_caches
    from .operators.knn import admit_against_srp_index

    if observe:
        # two observation points bracket the in-stream exact gate
        # (ingest_batch_metrics reports raw/admitted; the SRP
        # admission itself runs sink-side, visible in the stores) —
        # the corpus stream's observe discipline, vector-grain
        emb = emb.observe("ingest_raw", F.count(F.lit(1)).alias("n"))
    out = (
        emb.withColumn(
            "__vdigest", F.md5(F.col(vec_col).cast("string"))
        )
        .withWatermark(ts_col, watermark_delay)
        .dropDuplicatesWithinWatermark(["__vdigest"])
        .drop("__vdigest")
    )
    if observe:
        out = out.observe(
            "ingest_admitted", F.count(F.lit(1)).alias("n")
        )

    def make_sink(out_path: str, run_id: str | None = None):
        def write(batch_df: DataFrame, token: str, batch_id: int) -> None:
            try:
                survivors, idx_delta = admit_against_srp_index(
                    batch_df.select(id_col, vec_col),
                    read_leaves(spark, index_path, [(token, batch_id)]),
                    threshold=threshold,
                    planes=planes,
                    id_col=id_col,
                    vec_col=vec_col,
                )
                # survivors keep the full batch row (ts etc.), not the
                # projected admission columns
                survivors = batch_df.join(
                    survivors.select(id_col), id_col, "left_semi"
                )
                write_leaf(survivors, out_path, token, batch_id)
                write_leaf(idx_delta, index_path, token, batch_id)
            finally:
                release_sketch_caches()

        return leaf_sink(out_path, write, run_id)

    return out, make_sink


def corpus_stages_delta(
    delta: DataFrame,
    digest_index: DataFrame | None,
    band_index: DataFrame | None,
    min_quality: float = 0.25,
    languages: tuple[str, ...] = ("en",),
    max_hamming: int = 3,
    chunk_size: int = 32,
    stride: int = 24,
    scrub_pii: bool = True,
    sketch: str = "simhash",
    minhash_threshold: float = 0.5,
    substr_k: int | None = None,
    whash_index: DataFrame | None = None,
    normalize: bool = False,
) -> dict[str, DataFrame]:
    """The DAY-2 funnel: run a new delta through the same
    quality → language → exact-dedup → near-dup → scrub → chunks
    stages as ``corpus_stages``, but with BOTH dedup stages checked
    against the persistent indexes of everything previously admitted —
    the historical corpus is never re-read, so the whole funnel costs
    delta-proportional work (the 100 TB re-ingest story, completed).

    ``substr_k`` enables the incremental ExactSubstr stage (same
    placement as ``corpus_stages``: before quality): delta spans
    repeated within the delta OR present in ``whash_index`` (the
    ``window_hash_index`` of everything previously ingested;
    ``None`` bootstraps) are excised
    (``incremental_repeated_spans`` — delta-side decisions unit-equal
    to the one-shot rule), adding ``substr_cleaned`` and
    ``whash_index_delta`` stage entries; update rule ``whash_index' =
    whash_index ∪ whash_index_delta``. The membership probe is a
    digest-keyed semi join — 16-byte hashes, never text — so the
    stage keeps the funnel delta-proportional (SCALE_PROBE
    ``incremental_substr_delta``).

    Index contracts (both append-only):
    * ``digest_index`` — any frame with a ``content_hash`` column of
      admitted texts (``exact_text_dedup`` over the day-1 language
      stage IS that index); update rule ``index' = index ∪
      stages["digest_index_delta"]``.
    * ``band_index`` — ``simhash_band_index`` (or
      ``minhash_band_index`` with ``sketch="minhash"``) over the day-1
      EXACT-dedup stage (every day-1 component admitted its min, so
      the exact survivors are the admitted content); update rule
      ``index' = index ∪ stages["band_index_delta"]``. Either index
      ``None`` bootstraps day 1. The band index must have been built
      with the SAME sketch parameters this funnel uses (the defaults:
      12 hashes / 4 bands / 3-shingles for minhash, 4 byte-bands for
      simhash) — signature layouts are positional, so a mismatched
      index would verify wrong agreements silently.

    Equivalence (unit-pinned): when delta ids exceed corpus ids (the
    append-log normal case) and no delta doc BRIDGES two previously
    distinct admitted clusters, the admitted set equals the one-shot
    funnel over corpus ∪ delta. A bridging delta doc drops while both
    admitted survivors remain — admission is append-only, never
    retroactive (the standard ingest contract; a full re-cluster is a
    scheduled batch job, not a delta decision).
    """
    from .operators.neardup import (
        admit_against_band_index,
        incremental_exact_dedup,
    )

    # normalization first, exactly as in the one-shot funnel — a delta
    # must be canonicalized BEFORE its digests/signatures are compared
    # against indexes built over normalized day-1 text
    normalized = None
    if normalize:
        normalized = delta.withColumn(
            "text", F.expr(P.normalize_text("text", P.SPARK))
        )
        delta = normalized

    substr_cleaned = whash_delta = None
    if substr_k is not None:
        from .operators.substr_dedup import (
            incremental_repeated_spans,
            remove_repeated_substrings,
        )

        spans, whash_delta = incremental_repeated_spans(
            delta, whash_index, k=substr_k
        )
        substr_cleaned = remove_repeated_substrings(
            delta, k=substr_k, spans=persist_tracked(spans)
        )
        delta = substr_cleaned

    exprs = _quality_exprs(P.SPARK)
    scored = delta.withColumn(
        "quality_score", F.expr(exprs["quality_score"])
    )
    quality = scored.filter(F.col("quality_score") >= min_quality)
    scores = P.lang_scores("text", P.SPARK)
    with_pred = quality.withColumns(
        {f"score_{lang}": F.expr(e) for lang, e in scores.items()}
    ).withColumn(
        "pred_lang",
        F.expr(P.lang_predict({l: f"score_{l}" for l in P.LANG_MARKERS})),
    )
    language = persist_tracked(
        with_pred.filter(F.col("pred_lang").isin(*languages)).drop(
            *[f"score_{lang}" for lang in scores]
        )
    )

    if digest_index is None:
        digest_new = exact_text_dedup(language)
    else:
        digest_new = incremental_exact_dedup(language, digest_index)
    exact = persist_tracked(
        language.join(digest_new.select("doc_id"), "doc_id", "semi")
    )

    admitted, band_delta = admit_against_band_index(
        exact, band_index, sketch=sketch, max_hamming=max_hamming,
        threshold=minhash_threshold,
    )
    # the admission decision fans out (its own count + the chunk
    # stage) and its poison probe re-derives the index bands per
    # evaluation — persist so day-2's most expensive stage pair
    # (admission + chunking) pays the banding once (r10's
    # delta_funnel_stages attribution: neardup_admitted dominates)
    admitted = persist_tracked(admitted)
    if scrub_pii:
        admitted = admitted.withColumn(
            "text", F.expr(P.pii_scrub("text", P.SPARK))
        )
    chunks = chunk_documents(admitted, chunk_size=chunk_size, stride=stride)
    stages = {
        "quality": quality,
        "language": language,
        "exact_admitted": exact,
        "neardup_admitted": admitted,
        "chunks": chunks,
        "digest_index_delta": digest_new,
        "band_index_delta": band_delta,
    }
    if normalized is not None:
        stages["normalized"] = normalized
    if substr_cleaned is not None:
        stages["substr_cleaned"] = substr_cleaned
        stages["whash_index_delta"] = whash_delta
    return stages
