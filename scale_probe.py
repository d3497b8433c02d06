#!/usr/bin/env python
"""Scale probe: run headline operators at 1x and Nx the bench data and
record how wall time and (deterministic) shuffle volume actually grow.

The bench (bench.py) proves plan SHAPES — exchange counts, pushdown,
broadcast, straggler flattening. This probe measures the other half of
the 100 TB argument: the growth CURVE. Each operator runs on the real
sf0.1 tables and on an amplified copy (default 10x, built in /tmp by
unioning id-offset copies), and the JSON report shows per-op
sec/shuffle-record/output-row ratios.

Amplification design (what the copies mean physically):

* events x N: ids offset, event time shifted 2 days per copy — the
  table grows N two-day "epochs". Per-user density within a join
  window stays constant, so the flagship enrich output must grow ~N
  (a superlinear curve here would mean the join plan degrades with
  history length — the exact failure the bucketized interval join
  exists to prevent).
* documents x N: ids offset, text UNCHANGED — every doc becomes an
  N-way exact-duplicate group. This is the adversarial dedup regime:
  candidate PAIRS inside a group grow C(N,2), so pair-emitting ops
  are expected ~N^2/2 in OUTPUT (data property, not plan property)
  while their pre-verify shuffle stays band-bounded; the components
  labels and the funnel (which dedups exactly) must stay ~N.
* embeddings x N: ids offset, vectors unchanged; the fixed 8-query
  IVF search scans N x larger cells — linear candidate growth.

Usage: python scale_probe.py [--factor 10] [--base /root/testdata/sf0.1]
Prints one JSON line and writes SCALE_PROBE.json at the repo root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from example_kafkastreams_spark import obs  # noqa: E402
from example_kafkastreams_spark.catalog import load_table  # noqa: E402
from example_kafkastreams_spark.operators import knn as KNN  # noqa: E402
from example_kafkastreams_spark.operators import neardup as ND  # noqa: E402
from example_kafkastreams_spark.operators.cache import (  # noqa: E402
    release_sketch_caches,
)
from example_kafkastreams_spark.operators.components import (  # noqa: E402
    connected_components,
)
from example_kafkastreams_spark.operators.enrich import (  # noqa: E402
    enrich_clickstream,
)
from example_kafkastreams_spark.pipelines import (  # noqa: E402
    corpus_funnel_counts,
    corpus_stages,
)

AMP_DIR = os.path.join("/tmp", "scale_probe_data")


def amplify(spark, base: str, factor: int) -> str:
    """Union ``factor`` id-offset copies of the three amplifiable
    tables into AMP_DIR parquet (events ts-shifted 2 days per copy)."""
    shutil.rmtree(AMP_DIR, ignore_errors=True)
    os.makedirs(AMP_DIR, exist_ok=True)
    events = load_table(spark, base, "events")
    docs = load_table(spark, base, "documents")
    emb = load_table(spark, base, "embeddings")

    def copies(df: DataFrame, mk) -> DataFrame:
        out = None
        for k in range(factor):
            c = mk(df, k)
            out = c if out is None else out.unionAll(c)
        return out

    copies(
        events,
        lambda df, k: df.withColumn(
            "event_id", F.col("event_id") + F.lit(k * 10**12)
        ).withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {2 * k} DAYS")),
    ).write.mode("overwrite").parquet(os.path.join(AMP_DIR, "events.parquet"))
    copies(
        docs,
        lambda df, k: df.withColumn("doc_id", F.col("doc_id") + F.lit(k * 10**9)),
    ).write.mode("overwrite").parquet(os.path.join(AMP_DIR, "documents.parquet"))
    copies(
        emb,
        lambda df, k: df.withColumn("vec_id", F.col("vec_id") + F.lit(k * 10**7)),
    ).write.mode("overwrite").parquet(os.path.join(AMP_DIR, "embeddings.parquet"))
    # round 10: lineitem (rollup_mv_maintain — rows x N, groups fixed)
    # and part (er_blocking — every entity duplicated N ways, the
    # adversarial ER regime exact-contraction defends against)
    copies(
        load_table(spark, base, "lineitem"),
        lambda df, k: df.withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(k * 10**9)
        ),
    ).write.mode("overwrite").parquet(os.path.join(AMP_DIR, "lineitem.parquet"))
    copies(
        load_table(spark, base, "part"),
        lambda df, k: df.withColumn(
            "p_partkey", F.col("p_partkey") + F.lit(k * 10**7)
        ),
    ).write.mode("overwrite").parquet(os.path.join(AMP_DIR, "part.parquet"))
    # the non-amplified tables: plain copies so load_table works on
    # AMP_DIR. A table may be a single file (current generator) or a
    # directory-style parquet (a Spark re-write) — handle both
    # (ADVICE r4).
    for t in ("region", "nation", "customer", "supplier", "orders"):
        src = os.path.join(base, f"{t}.parquet")
        dst = os.path.join(AMP_DIR, f"{t}.parquet")
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copy(src, dst)
    return AMP_DIR


def probe_ops(spark, sf_dir: str, bench_base: str) -> dict[str, dict]:
    """Each op: one timed run through the noop sink (or a 1-row agg for
    the funnel report), with before/after shuffle-record totals.

    ``bench_base``: the NON-amplified sf dir — decontamination probes
    against a FIXED benchmark split at both scales, so its growth
    curve isolates the corpus axis (N× corpus vs the same eval set ⇒
    ~N× duplicate hits), not the eval-set axis."""
    events = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    def scan_agg():
        return (
            events.groupBy("event_type", F.to_date("ts").alias("d"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        )

    def flagship():
        return enrich_clickstream(events)

    def minhash_pairs():
        return ND.minhash_lsh_pairs(docs, threshold=0.5)

    def minhash_edges():
        # the components-feeding variant: star-contracted, expected
        # near-linear where the pair set grows ~quadratically on the
        # duplicate-amplified corpus (VERDICT r4 item 3)
        return ND.minhash_components_edges(docs, threshold=0.5)

    def containment():
        # q44's contain branch: sampled-shingle postings are linear in
        # the corpus (df-capped), the pair agg in shared postings
        return ND.containment_pairs(docs)

    def components():
        # the shipped q57/funnel path: star-contracted edges, not the
        # full C(k,2) pair set
        edges = ND.simhash_components_edges(docs, max_hamming=3)
        return connected_components(
            edges, nodes=docs, node_col="doc_id", broadcast=True
        )

    def ivf():
        return KNN.ivf_ann(emb, num_queries=8, k=3, num_centroids=16)

    def funnel():
        return corpus_funnel_counts(corpus_stages(docs))

    def decontam():
        # fixed benchmark from the base tables; corpus side is the
        # (possibly amplified) docs — the broadcast side is CONSTANT
        # across scales by design, hits grow with corpus duplicates
        from example_kafkastreams_spark.operators.decontam import (
            contamination_report,
        )

        bench = load_table(spark, bench_base, "documents").filter(
            F.col("doc_id") % 97 == 0
        )
        return contamination_report(docs, bench, n=5)

    def lm():
        from example_kafkastreams_spark.operators.lm import lm_score

        return lm_score(docs)

    def semdedup():
        # the amplified embeddings are N-way EXACT duplicates — the
        # adversarial regime the exact-vector contraction exists for:
        # without it the bucket self-join emits C(N,2) cosine-1 pairs
        # per group; contracted, each group costs one representative
        return KNN.semantic_dedup(emb, threshold=0.98)

    # Incremental near-dup: a FIXED delta (10% of the BASE corpus, the
    # same rows at both scales) against the persistent band index of
    # the current-scale corpus. The index is built and written OUTSIDE
    # the timed window — it is the previous ingests' already-paid
    # output. The 100 TB claim under measurement: re-ingest cost
    # tracks the DELTA, not the corpus — the curve should stay ~flat
    # while one-shot minhash_components_edges grows with the corpus.
    # (On the duplicate-amplified corpus the index itself also stays
    # rep-contracted: N-way exact copies share one signature, so reps
    # are constant across scales — the contraction working as designed.)
    import tempfile

    nd_idx_path = os.path.join(
        tempfile.gettempdir(),
        f"probe_nd_index_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(nd_idx_path, ignore_errors=True)
    ND.minhash_band_index(docs).write.parquet(nd_idx_path)
    release_sketch_caches()

    def incr_neardup():
        delta = load_table(spark, bench_base, "documents").filter(
            F.col("doc_id") % 10 == 0
        )
        edges, _ = ND.incremental_minhash_edges(
            delta, spark.read.parquet(nd_idx_path)
        )
        return edges

    # Day-2 funnel at scale: the SAME fixed delta through the whole
    # incremental pipeline (quality -> lang -> digest-index dedup ->
    # band-index admission -> scrub -> chunks) against indexes of the
    # current-scale corpus — both indexes derived from the corpus's
    # distinct texts, so on the duplicate-amplified copy they stay
    # rep-contracted and the per-ingest curve should stay ~flat while
    # corpus_funnel (above) re-pays the full corpus each run.
    sb_idx_path = os.path.join(
        tempfile.gettempdir(),
        f"probe_sb_index_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(sb_idx_path, ignore_errors=True)
    ND.simhash_band_index(docs).write.parquet(sb_idx_path)
    dig_idx_path = sb_idx_path + "_dig"
    shutil.rmtree(dig_idx_path, ignore_errors=True)
    ND.exact_text_dedup(docs).write.parquet(dig_idx_path)
    release_sketch_caches()

    def delta_funnel():
        from example_kafkastreams_spark.pipelines import (
            corpus_stages_delta,
        )

        # fixed NEW content: base docs suffixed (so the digest index
        # can't trivially drop them; some land near corpus sketches,
        # some admit — the realistic mix), ids offset clear of every
        # amplified copy. Indexes rep-contract to the same distinct
        # sets at both scales, so admissions are scale-invariant and
        # rows_ratio 1.0 is itself part of the claim.
        delta = (
            load_table(spark, bench_base, "documents")
            .filter(F.col("doc_id") % 10 == 0)
            .select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"),
                F.concat(
                    F.col("text"), F.lit(" fresh probe ingest suffix")
                ).alias("text"),
                "source",
            )
        )
        return corpus_stages_delta(
            delta,
            spark.read.parquet(dig_idx_path),
            spark.read.parquet(sb_idx_path),
        )["chunks"]

    # Incremental ExactSubstr: the same fixed suffixed delta as
    # delta_funnel, probed against the window-hash index of the
    # current-scale corpus (index built/written untimed). The
    # amplified corpus's distinct window set equals the base's (exact
    # copies add no new fingerprints), so the membership probe — and
    # with it the whole per-ingest cost — should stay flat at 10x.
    wh_idx_path = os.path.join(
        tempfile.gettempdir(),
        f"probe_wh_index_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(wh_idx_path, ignore_errors=True)
    from example_kafkastreams_spark.operators.substr_dedup import (
        incremental_repeated_spans,
        window_hash_index,
    )

    window_hash_index(docs, k=16).write.parquet(wh_idx_path)
    release_sketch_caches()

    def incr_substr():
        delta = (
            load_table(spark, bench_base, "documents")
            .filter(F.col("doc_id") % 10 == 0)
            .select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"),
                F.concat(
                    F.col("text"), F.lit(" fresh probe ingest suffix")
                ).alias("text"),
            )
        )
        spans, _ = incremental_repeated_spans(
            delta, spark.read.parquet(wh_idx_path), k=16
        )
        return spans

    def substr_spans():
        # token-grain by nature (the ExactSubstr window table has one
        # row per token position) — the claim is a TOKEN-COUNT BOUND:
        # dup detection is one hash agg, not a pair join, so shuffle
        # can never exceed ~2x the window table regardless of
        # duplication. On the N-way-duplicated corpus the flagged
        # FRACTION jumps to ~100% (every window IS a duplicate), so
        # the measured ratio reflects base-rate x N, saturating at the
        # linear worst case — not C(N,2) anything.
        from example_kafkastreams_spark.operators.substr_dedup import (
            repeated_spans,
        )

        return repeated_spans(docs, k=16)

    # Incremental semantic dedup: a FIXED embedding delta against the
    # persistent SRP-bucket rep index of the current-scale corpus
    # (index built/written untimed — previous ingests' paid output).
    # The amplified embeddings are exact duplicates, so the rep index
    # is IDENTICAL across scales and the per-ingest cost should stay
    # flat. Half the delta duplicates corpus vectors (cross-collides
    # at cosine 1 → dropped), half is negated (cosine −1 → admitted) —
    # the realistic mixed admission.
    srp_idx_path = os.path.join(
        tempfile.gettempdir(),
        f"probe_srp_index_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(srp_idx_path, ignore_errors=True)
    KNN.srp_bucket_index(emb).write.parquet(srp_idx_path)
    release_sketch_caches()

    def incr_srp():
        delta = (
            load_table(spark, bench_base, "embeddings")
            .filter(F.col("vec_id") % 10 == 0)
            .select(
                (F.col("vec_id") + 10_000_000).alias("vec_id"),
                F.when(
                    F.col("vec_id") % 20 == 0,
                    F.expr(
                        "transform(embedding, x -> -x)"
                    ).cast("array<float>"),
                )
                .otherwise(F.col("embedding"))
                .alias("embedding"),
            )
        )
        surv, _ = KNN.admit_against_srp_index(
            delta, spark.read.parquet(srp_idx_path), threshold=0.98
        )
        return surv

    def pq():
        # codebook = first 16 base ids (amplified copies are offset, so
        # the trained table is IDENTICAL across scales); the encode
        # itself must stay a zero-shuffle scan-shaped pass — the only
        # shuffle rows the probe sees are the count()'s O(partitions)
        # final reduction, constant across scales (ratio ≈ 1, not 10)
        cb = KNN.pq_codebook(emb, m=8, num_codes=16)
        return KNN.pq_encode(emb, cb)

    # ANN artifact serve: the IVF-Flat index is built/persisted UNTIMED
    # (the paid-once build), the probed op is a fixed 8-query serve.
    # The quantizer is the first 16 BASE vectors (amplified copies are
    # id-offset, so the centroids are identical across scales) — the
    # probe isolates the serve axis: in-cell scored rows grow with the
    # probed cells' population (~N), the scan never leaves the probed
    # cells (pushed In(cell) filter), and the broadcast probe frame is
    # constant across scales.
    flat_idx_path = os.path.join(
        tempfile.gettempdir(),
        f"probe_ivfflat_index_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(flat_idx_path, ignore_errors=True)
    cent_rows = (
        emb.filter(F.col("vec_id") < 16)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    flat_cents = [[float(x) for x in r[0]] for r in cent_rows]
    from example_kafkastreams_spark.operators.ann_index import (
        ann_index_query,
        ivfflat_index_write,
    )

    ivfflat_index_write(emb, flat_idx_path, flat_cents)
    release_sketch_caches()

    # one query-set literal shared by the bm25 probe and the
    # retrieval_eval probe documented to score that same run
    _RETR_QUERIES = ["hash join", "scan filter", "stream window"]

    def bm25():
        # fixed query set against the N× corpus: the broadcast side is
        # constant, candidate postings (and the one score exchange)
        # grow ~N, output stays top-k-bounded at 15 rows regardless
        from example_kafkastreams_spark.operators.retrieval import (
            bm25_top_docs,
        )

        return bm25_top_docs(docs, _RETR_QUERIES, top_k=5)

    def ivfflat_serve():
        return ann_index_query(
            spark,
            flat_idx_path,
            load_table(spark, bench_base, "embeddings").filter(
                F.col("vec_id") < 8
            ),
            k=3,
            nprobe=2,
        )

    # Split-leakage audit / retrieval eval at scale: both consume an
    # ALREADY-COMPUTED upstream product (the sized components table /
    # the top-k bm25 run), so that product is materialized OUTSIDE the
    # timed window — the probe isolates the audit/eval stage itself.
    # Expected curves: the audit's join+agg touch only the duplicate
    # mass (component_size > 1 filters first); the eval's corpus-sized
    # term is the qrels derivation (~N), its metric join is bounded by
    # |queries|·k at any scale.
    from example_kafkastreams_spark.operators.components import (
        with_component_sizes,
    )
    from example_kafkastreams_spark.operators.report import (
        split_leakage_report,
    )
    from example_kafkastreams_spark.operators.retrieval import (
        all_terms_qrels,
        bm25_top_docs,
        retrieval_eval,
    )
    from example_kafkastreams_spark.operators.sampling import assign_split

    sized_path = os.path.join(
        tempfile.gettempdir(),
        f"probe_sized_comp_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(sized_path, ignore_errors=True)
    with_component_sizes(
        connected_components(
            ND.simhash_components_edges(docs, max_hamming=3),
            nodes=docs,
            node_col="doc_id",
            broadcast=True,
        ),
        "doc_id",
    ).write.parquet(sized_path)
    bmr_path = sized_path + "_bmr"
    shutil.rmtree(bmr_path, ignore_errors=True)
    bm25_top_docs(docs, _RETR_QUERIES, top_k=5).write.parquet(bmr_path)
    release_sketch_caches()

    def split_leak():
        return split_leakage_report(
            spark.read.parquet(sized_path), assign_split(docs)
        )

    def retr_eval():
        return retrieval_eval(
            spark.read.parquet(bmr_path),
            all_terms_qrels(docs, _RETR_QUERIES),
            k=5,
        )

    def hll():
        # HLL distinct over the 3-shingle domain: output is EXACTLY
        # 2^8 register rows at any scale, and the exchange is bounded
        # by partitions*m (the partial max collapses map-side) — the
        # constant-state distinct count. On the duplicate-amplified
        # corpus the distinct shingle set is unchanged, so rows_ratio
        # must be 1.0 and shuffle must grow only with the partition
        # count, never with corpus rows.
        from example_kafkastreams_spark.functions import portable as P
        from example_kafkastreams_spark.operators.sketches import (
            hll_registers,
        )

        sh = docs.select(
            F.explode(F.expr(P.shingles("text", 3, P.SPARK))).alias("v")
        )
        return hll_registers(sh, "v", 8)

    def bloom_decontam():
        # the bloom-prefiltered contamination check against a FIXED
        # benchmark (base split at both scales): the filter is ~KB of
        # plan literals probed map-side inside the scan, so the probe
        # pass must grow ~linearly in wall with ZERO data shuffle —
        # the residual records are the final count's O(partitions)
        # reduction, never corpus rows
        from example_kafkastreams_spark.operators.decontam import (
            contamination_report_bloom,
        )

        bench = load_table(spark, bench_base, "documents").filter(
            F.col("doc_id") % 97 == 0
        )
        return contamination_report_bloom(docs, bench, n=5)

    def snap_diff():
        # dataset-version audit on the amplified corpus: a derived
        # second snapshot (10% dropped, every 7th revised, every 13th
        # added) diffed by digest. Both exchanges carry (key, digest)
        # only — cost must grow ~linearly with keys, never with
        # document bytes, and the duplicate-amplified texts are
        # irrelevant (digests hash per row).
        from example_kafkastreams_spark.operators.diffs import (
            snapshot_diff,
        )

        snap_a = docs.select("doc_id", "text")
        snap_b = snap_a.filter(F.col("doc_id") % 10 != 3).select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.when(F.col("doc_id") % 7 == 0, " [rev2]").otherwise(""),
            ).alias("text"),
        ).unionAll(
            snap_a.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 100_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" [new]")).alias("text"),
            )
        )
        return snapshot_diff(snap_a, snap_b, "doc_id", ["text"])

    def clf_train_score():
        # hashed-classifier train + literal-array score in one pass:
        # training's shuffle is bounded by partitions x 256 buckets
        # (map-side partial agg), NOT corpus rows — the shuffle ratio
        # at 10x should stay far under 10; scoring adds zero shuffle.
        from example_kafkastreams_spark.operators.quality_clf import (
            score_inline,
            train_hashed_classifier,
            weights_vector,
        )

        labeled = docs.withColumn("__pos", F.col("doc_id") % 2 == 0)
        w = weights_vector(train_hashed_classifier(labeled, "__pos"))
        return score_inline(docs.select("doc_id", "text"), w)

    def scd2():
        # SCD2 build (one exchange on the dim key) + broadcast
        # point-in-time enrich: the amplified events add epochs, so
        # versions and facts both grow ~N while the fact side still
        # crosses zero exchanges.
        from example_kafkastreams_spark.operators.scd import (
            scd2_from_changelog,
            scd2_point_in_time_join,
        )

        upd = events.filter(F.col("event_type") == "signup").select(
            "user_id", "ts", "event_id",
            F.when(F.col("value") < 50, "bronze")
            .when(F.col("value") < 150, "silver")
            .otherwise("gold").alias("tier"),
        )
        dim = scd2_from_changelog(
            upd, "user_id", "ts", ["tier"], "event_id"
        )
        return scd2_point_in_time_join(
            events.filter(F.col("event_type") == "purchase"),
            dim.select("user_id", "tier", "valid_from", "valid_to"),
            key="user_id",
        )

    # day-1 inputs for the incremental fold, built UNTIMED: in
    # production yesterday's labels are a persisted artifact — the
    # probe measures the day-2 FOLD alone, whose loop runs on the
    # delta-sized contracted graph
    from example_kafkastreams_spark.operators.components import (
        incremental_components,
    )

    _inc_edges = ND.simhash_components_edges(docs, max_hamming=3)
    _inc_old_cc = connected_components(
        _inc_edges.filter(
            (F.col("doc_a") % 7 != 0) & (F.col("doc_b") % 7 != 0)
        ),
        nodes=docs.filter(F.col("doc_id") % 7 != 0),
        node_col="doc_id",
        broadcast=True,
    ).localCheckpoint()

    def inc_components():
        return incremental_components(
            _inc_old_cc,
            _inc_edges.filter(
                (F.col("doc_a") % 7 == 0) | (F.col("doc_b") % 7 == 0)
            ),
            docs.filter(F.col("doc_id") % 7 == 0),
            "doc_id",
            broadcast=True,
        )

    def rollup_mv():
        # incremental maintenance vs rebuild: the delta (5% of rows)
        # aggregates delta-sized, the merge exchange is 2x|groups| —
        # at 10x corpus the delta agg grows 10x but the merge stays
        # group-bounded, so total shuffle grows FAR slower than rows
        from example_kafkastreams_spark.operators.rollup import (
            rollup_apply_delta,
            rollup_build,
            rollup_finalize,
        )

        li = load_table(spark, sf_dir, "lineitem")
        sums = {"q": (F.col("l_quantity"), 2)}
        state = rollup_build(
            li.filter(F.col("l_orderkey") % 20 != 0),
            ["l_returnflag", "l_linestatus"], sums,
        )
        merged = rollup_apply_delta(
            state, li.filter(F.col("l_orderkey") % 20 == 0),
            ["l_returnflag", "l_linestatus"], sums,
        )
        return rollup_finalize(merged, sums={"q": 2})

    def er_blocking():
        # the amplified catalog duplicates every entity N ways — the
        # adversarial ER regime. contract_exact collapses exact twins
        # to reps BEFORE blocking (the star-contraction move), so rep
        # counts, blocks, and candidates return to ~base scale and the
        # growth curve stays near-flat instead of N²
        from example_kafkastreams_spark.operators.entity import (
            blocked_er_matches,
        )

        return blocked_er_matches(
            load_table(spark, sf_dir, "part"),
            id_col="p_partkey", name_col="p_name",
            exact_cols={"p_brand": 0.3, "p_type": 0.2},
            threshold=0.7, max_block=256, contract_exact=True,
        )

    def topk_two_phase():
        # the combiner claim at scale: the exchange carries only
        # locally-pruned survivors (~k.groups.batches), so shuffle
        # records grow with GROUPS, not rows
        from example_kafkastreams_spark.operators.topk import (
            topk_per_group,
        )

        return topk_per_group(
            events.select("user_id", "event_id", "value"),
            ["user_id"], [("value", True), ("event_id", False)], 3,
        )

    def dupgram():
        # exchange carries (source, BIGINT gram hash); on the N-way
        # duplicate-amplified corpus postings grow ~N× while distinct
        # grams stay ~flat — dup_grams should absorb the growth
        from example_kafkastreams_spark.operators.report import (
            dup_ngram_stats,
        )

        return dup_ngram_stats(docs, n=8)

    def xsrc_overlap():
        # digest-grain self-join: fan-out bounded by sources-per-digest
        # (amplified copies share a digest ACROSS id offsets, so the
        # per-pair counts grow while the pair-row count stays S²-bounded)
        from example_kafkastreams_spark.operators.report import (
            source_overlap,
        )

        return source_overlap(docs)

    def pack_assign():
        # one doc-keyed exchange + one Arrow pass; rows grow with the
        # chunk table, offsets are per-doc state only
        from example_kafkastreams_spark.operators.packing import (
            pack_assignments,
        )
        from example_kafkastreams_spark.operators.text_chunks import (
            chunk_documents,
        )

        return pack_assignments(
            chunk_documents(docs, chunk_size=32, stride=24), budget=96
        )

    def blocking_eval():
        # q41's eval branch under the FIXED-EVAL-BUDGET discipline: the
        # eval is a measurement, so its sample_mod scales with corpus
        # growth to hold the sample near ~2.5k docs (a fixed-mod probe
        # measured 11.6x wall / 49x shuffle at 10x — the truth set is
        # inherently quadratic in duplicate multiplicity, so the knob
        # every production eval turns is the sample size, not the
        # algorithm). One count job sizes the mod.
        from example_kafkastreams_spark.operators.dedup_eval import (
            candidate_eval,
        )

        mod = max(2, docs.count() // 2500)
        return candidate_eval(docs, sample_mod=mod, threshold=0.3)

    def cluster_prune_op():
        # assignment is map-side (broadcast sample centroids); the
        # quota window keys on 8 clusters — the probe watches whether
        # the cluster-keyed exchange becomes the bottleneck (it does,
        # by design; prune_thresholds is the stated scale path)
        from example_kafkastreams_spark.operators.curation import (
            cluster_assign,
            cluster_prune,
        )

        cent = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
        )
        return cluster_prune(
            cluster_assign(emb, cent_df=cent), keep_frac=0.5
        ).filter(F.col("kept"))

    def maxsim_op():
        # chunk featurization is map-side; only positively-colliding
        # (chunk, query-token) pairs reach the exchange — on the N-way
        # duplicate corpus candidates grow ~N while the final rank
        # stays top-k-bounded per query
        from example_kafkastreams_spark.operators.retrieval import (
            maxsim_top_docs,
        )

        return maxsim_top_docs(
            docs, ["hash join", "scan filter", "stream window"], top_k=5
        )

    def bfs_chain():
        # frontier-iterative BFS from cluster canonicals, with
        # full-pair-graph hop semantics but computed on the
        # identical-sketch-contracted graph (simhash_chain_hops, r11):
        # the contracted edge set is duplicate-amplification-INVARIANT
        # (a k-way group costs k−1 expansion rows, not C(k,2) edges ×
        # rounds), the frontier side of each round's join broadcasts,
        # and the edge table materializes once — so shuffle should now
        # track the linear sketch/remap passes, not the pair mass
        # (the r10 probe measured the un-contracted walk at 94×)
        from example_kafkastreams_spark.operators.components import (
            connected_components,
        )

        sh = ND.simhash_table(docs)
        comp = connected_components(
            ND.simhash_components_edges(docs, max_hamming=3, sh_df=sh),
            nodes=docs, node_col="doc_id",
        )
        seeds = comp.filter(
            F.col("doc_id") == F.col("component_id")
        ).select(F.col("doc_id").alias("node"))
        return ND.simhash_chain_hops(
            docs, seeds, max_hops=4, sh_df=sh
        )

    def profile_cols():
        # one aggregation job; exchange bounded by the aggregate row
        # (per-column stats), so shuffle stays ~constant while the
        # scan grows N — the exact multi-distinct Expand is the only
        # row-proportional term
        from example_kafkastreams_spark.operators.report import (
            profile_columns,
        )

        return profile_columns(load_table(spark, sf_dir, "orders"))

    def nearest_join_op():
        # min_by hash agg over the bucketized interval join. Shuffle
        # tracks join input (~N); wall sub-linear. OUTPUT (matched
        # left rows) grows FASTER than N on this amplification by
        # construction: the 30-day base span vs 2-day copy shifts
        # makes copies overlap in time, so window-eligible view
        # density rises with overlapping copies — a data property of
        # the amplified feed, not join fan-out (each left row still
        # emits exactly one picked row)
        from example_kafkastreams_spark.operators.asof_join import (
            asof_nearest_join,
        )

        ev = events.filter(F.col("event_type") != "view")
        pv = events.filter(F.col("event_type") == "view").select(
            "user_id", "ts",
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("r_event_id"),
        )
        return asof_nearest_join(
            ev.distinct(), pv, on=["user_id"],
            right_payload=["r_ts", "r_event_id"],
            window_seconds=900.0, right_order=["r_event_id"],
        ).filter(F.col("r_ts").isNotNull())

    def qdigest_op():
        # leaf agg is distinct-value-bounded (the domain tree, not the
        # rows); every level above shrinks — shuffle ~flat while the
        # scan grows N
        from example_kafkastreams_spark.operators.sketches import (
            qdigest_build,
            qdigest_quantiles,
        )

        dig, n = qdigest_build(
            events.filter(F.col("value").isNotNull()).select("value"),
            "value",
        )
        return qdigest_quantiles(dig, n, [0.25, 0.5, 0.9, 0.99])

    def lbatch_op():
        # one bucket-keyed window exchange over the chunk table; the
        # batch fold and padding agg are group-bounded
        from example_kafkastreams_spark.operators.packing import (
            length_bucketed_batches,
            padding_stats,
        )
        from example_kafkastreams_spark.operators.text_chunks import (
            chunk_documents,
        )

        return padding_stats(
            length_bucketed_batches(
                chunk_documents(docs, chunk_size=32, stride=24),
                8, (9, 17, 25),
            )
        )

    def gsplit_op():
        # two id-keyed joins + a component-sized canonical-split frame
        # on top of the star-contracted labeling — scan-shaped; the
        # census exchange is split-count-bounded
        from example_kafkastreams_spark.operators.components import (
            connected_components,
        )
        from example_kafkastreams_spark.operators.sampling import (
            assign_split_grouped,
        )

        comp = connected_components(
            ND.simhash_components_edges(docs, max_hamming=3),
            nodes=docs, node_col="doc_id",
        )
        return assign_split_grouped(docs, comp).groupBy("split").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("component_id").alias("n_comp"),
        )

    def pagerank_op():
        # iterative power iteration over the star-contracted dedup
        # graph (q57 pr): per-round shuffle is rank-table-sized over a
        # persisted symmetrized edge list — expect ~linear wall, and
        # shuffle bounded by iterations x (edges + nodes)
        from example_kafkastreams_spark.operators.components import (
            pagerank,
        )

        edges = ND.simhash_components_edges(docs, max_hamming=3)
        return pagerank(edges, docs, node_col="doc_id", iterations=3)

    def dsir_op():
        # DSIR-style selection (q61 dsir): one tokenize pass, two
        # bucket-count aggs (exchange <= partitions x buckets), one
        # broadcast-weights scoring join + per-doc sum — scan-shaped
        from example_kafkastreams_spark.operators.mixing import (
            domain_relevance_scores,
        )

        tgt = docs.selectExpr("min(source) AS s").first()["s"]
        _w, scores = domain_relevance_scores(docs, tgt)
        return scores

    def survivorship_op():
        # golden records over the contracted match graph (q59 gold):
        # everything downstream of the matches is match-sized
        from example_kafkastreams_spark.operators.entity import (
            er_survivorship,
        )

        m = ND.simhash_components_edges(docs, max_hamming=3).select(
            F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
        )
        return er_survivorship(
            m, docs, id_col="doc_id", attr_col="source"
        )

    def ams_op():
        # AMS F2 counters (q58 ams): map-side signed coordinates, one
        # hash agg — exchange CONSTANT in corpus size
        from example_kafkastreams_spark.functions import portable as P
        from example_kafkastreams_spark.operators.sketches import (
            ams_f2_counters,
        )

        toks = docs.select(
            F.explode(F.expr(P.split_ws("text", P.SPARK))).alias("v")
        )
        return ams_f2_counters(toks, "v")

    def cohort_op():
        # retention matrix (q30 cohort): (user, day) dedup is the one
        # corpus-sized agg; matrix bounded by days^2
        ud = events.select(
            "user_id",
            F.expr("unix_micros(ts) DIV 86400000000").alias("day"),
        ).distinct()
        coh = ud.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
        return (
            ud.join(coh, "user_id")
            .groupBy(
                "cohort_day",
                (F.col("day") - F.col("cohort_day")).alias("off"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )

    out: dict[str, dict] = {}
    for name, mk in (
        ("scan_agg", scan_agg),
        ("flagship_enrich", flagship),
        ("minhash_lsh_pairs", minhash_pairs),
        ("minhash_components_edges", minhash_edges),
        ("containment_pairs", containment),
        ("incremental_minhash_delta", incr_neardup),
        ("delta_funnel", delta_funnel),
        ("substr_spans", substr_spans),
        ("incremental_substr_delta", incr_substr),
        ("neardup_components", components),
        ("ivf_ann", ivf),
        ("corpus_funnel", funnel),
        ("decontaminate", decontam),
        ("lm_score", lm),
        ("semantic_dedup", semdedup),
        ("incremental_srp_delta", incr_srp),
        ("pq_encode", pq),
        ("ivfflat_serve", ivfflat_serve),
        ("bm25_retrieval", bm25),
        ("split_leakage", split_leak),
        ("retrieval_eval", retr_eval),
        ("hll_distinct", hll),
        ("bloom_decontam", bloom_decontam),
        ("snapshot_diff", snap_diff),
        ("clf_train_score", clf_train_score),
        ("scd2_build_enrich", scd2),
        ("inc_components_fold", inc_components),
        ("rollup_mv_maintain", rollup_mv),
        ("er_blocking", er_blocking),
        ("topk_two_phase", topk_two_phase),
        ("cluster_prune", cluster_prune_op),
        ("dup_ngram_stats", dupgram),
        ("source_overlap", xsrc_overlap),
        ("blocking_eval", blocking_eval),
        ("pack_assignments", pack_assign),
        ("maxsim_retrieval", maxsim_op),
        ("bfs_chain_depth", bfs_chain),
        ("qdigest_quantiles", qdigest_op),
        ("length_bucketed_batches", lbatch_op),
        ("grouped_split", gsplit_op),
        ("profile_columns", profile_cols),
        ("nearest_event_join", nearest_join_op),
        ("pagerank_contracted", pagerank_op),
        ("dsir_select", dsir_op),
        ("er_survivorship", survivorship_op),
        ("ams_f2", ams_op),
        ("cohort_retention", cohort_op),
    ):
        counted = obs.measure(spark, lambda: mk().count())
        release_sketch_caches()
        out[name] = counted.row(("shuffle_write_records",), rows=counted.value)
    shutil.rmtree(nd_idx_path, ignore_errors=True)
    shutil.rmtree(sb_idx_path, ignore_errors=True)
    shutil.rmtree(dig_idx_path, ignore_errors=True)
    shutil.rmtree(wh_idx_path, ignore_errors=True)
    shutil.rmtree(srp_idx_path, ignore_errors=True)
    shutil.rmtree(flat_idx_path, ignore_errors=True)
    shutil.rmtree(sized_path, ignore_errors=True)
    shutil.rmtree(bmr_path, ignore_errors=True)
    return out


def _progress_rows(q) -> list[dict]:
    """Per-micro-batch (input rows, trigger wall, state rows) from the
    streaming query's own progress telemetry — the driver-side numbers
    an operator on a real cluster would alarm on."""
    rows = []
    for p in q.recentProgress:
        d = json.loads(p.json) if hasattr(p, "json") else dict(p)
        if int(d.get("numInputRows", 0) or 0) <= 0:
            continue
        rows.append(
            {
                "input_rows": int(d["numInputRows"]),
                "trigger_ms": int(
                    d.get("durationMs", {}).get("triggerExecution", -1)
                ),
                "state_rows": sum(
                    int(op.get("numRowsTotal", 0))
                    for op in d.get("stateOperators", [])
                ),
            }
        )
    return rows


def _stream_summary(batches: list[dict]) -> dict:
    """The two claims a streaming probe must witness: per-batch wall
    flat in STREAM LENGTH (tail/head ratio over the steady-state
    batches — batch 0 is warm-up and excluded), and state bounded by
    the watermark horizon (max vs final, not cumulative input)."""
    steady = batches[1:] if len(batches) > 2 else batches
    head = steady[0]["trigger_ms"] if steady else None
    tail = steady[-1]["trigger_ms"] if steady else None
    return {
        "batches": batches,
        "n_batches": len(batches),
        "total_input_rows": sum(b["input_rows"] for b in batches),
        "tail_over_head_wall": (
            round(tail / head, 2) if head and tail and head > 0 else None
        ),
        "max_state_rows": max(
            (b["state_rows"] for b in batches), default=0
        ),
        "final_state_rows": batches[-1]["state_rows"] if batches else 0,
    }


def probe_streaming(spark, base: str, n_batches: int = 6) -> dict:
    """Streaming-pipeline scale probe (VERDICT r8 item 5): drive the
    continuous pretrain pipeline and the embedding/BM25 ingest sinks
    through N real micro-batches at 1x and 10x the batch size and
    record per-batch wall + state rows from the query's own progress
    telemetry. The claims under test: per-batch cost tracks BATCH SIZE
    (the 10x axis), not stream position (tail_over_head_wall ~ 1), and
    state stays bounded by the watermark horizon (event time advances
    60 s per batch against a 30 s delay, so each batch's dedup digests
    are reaped before the stream ends — max_state_rows ~ one horizon's
    worth, not n_batches' worth)."""
    import datetime as dt
    import tempfile

    from example_kafkastreams_spark.operators.retrieval import (
        bm25_index_append_sink,
        bm25_index_write,
    )
    from example_kafkastreams_spark.pipelines import (
        corpus_ingest_packs_stream,
        embedding_ingest_with_srp_index,
    )
    from example_kafkastreams_spark.streaming.sources import (
        file_stream,
        stage_replayable_batches,
        start_memory_sink,
    )
    from pyspark.sql import types as T

    epoch = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    work = tempfile.mkdtemp(prefix="scale_probe_stream_")
    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    emb_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    texts = [
        r[0]
        for r in load_table(spark, base, "documents")
        .select("text")
        .limit(1200)
        .collect()
    ]
    vecs = [
        [float(x) for x in r[0]]
        for r in load_table(spark, base, "embeddings")
        .select("embedding")
        .limit(2400)
        .collect()
    ]
    out: dict[str, dict] = {}

    def drive(df_stream, name, sink_fn=None):
        ckpt = os.path.join(work, f"ckpt_{name}")
        if sink_fn is not None:
            q = (
                df_stream.writeStream.foreachBatch(sink_fn)
                .option("checkpointLocation", ckpt)
                .start()
            )
        else:
            q = start_memory_sink(df_stream, f"probe_{name}", ckpt)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        rows = _progress_rows(q)
        release_sketch_caches()
        return _stream_summary(rows)

    for label, bsz in (("x1", 100), ("x10", 1000)):
        # every row unique (worst-case dedup state growth); event time
        # steps 60 s/batch against a 30 s watermark so the horizon
        # reaps each batch's digests before the stream ends
        batches = [
            [
                (
                    b * 1_000_000 + i,
                    f"{texts[(b * bsz + i) % len(texts)]} u{b} v{i}",
                    "probe",
                    epoch + dt.timedelta(seconds=60.0 * b + i * 0.001),
                )
                for i in range(bsz)
            ]
            for b in range(n_batches)
        ]
        src = os.path.join(work, f"packs_src_{label}")
        stage_replayable_batches(spark, src, doc_schema, batches)
        stream = file_stream(
            spark, src, doc_schema, max_files_per_trigger=1
        )
        packs = corpus_ingest_packs_stream(
            stream,
            budget=96,
            watermark_delay="30 seconds",
            min_quality=0.0,
            chunk_size=32,
            stride=24,
            shards=4,
            pack_linger_seconds=5.0,
        )
        out[f"packs_pipeline_{label}"] = drive(packs, f"packs_{label}")

    for label, bsz in (("x1", 200), ("x10", 2000)):
        batches = [
            [
                (
                    b * 1_000_000 + i,
                    vecs[(b * bsz + i) % len(vecs)],
                    epoch + dt.timedelta(seconds=60.0 * b + i * 0.001),
                )
                for i in range(bsz)
            ]
            for b in range(n_batches)
        ]
        src = os.path.join(work, f"emb_src_{label}")
        stage_replayable_batches(spark, src, emb_schema, batches)
        stream = file_stream(
            spark, src, emb_schema, max_files_per_trigger=1
        )
        idx_path = os.path.join(work, f"srp_idx_{label}")
        stream_df, mk = embedding_ingest_with_srp_index(
            stream,
            spark,
            idx_path,
            watermark_delay="30 seconds",
        )
        sink = mk(os.path.join(work, f"emb_out_{label}"), run_id="probe")
        out[f"embedding_ingest_{label}"] = drive(
            stream_df, f"emb_{label}", sink_fn=sink
        )

    for label, bsz in (("x1", 100), ("x10", 1000)):
        batches = [
            [
                (
                    b * 1_000_000 + i,
                    f"{texts[(b * bsz + i) % len(texts)]} u{b} v{i}",
                    "probe",
                    epoch + dt.timedelta(seconds=60.0 * b + i * 0.001),
                )
                for i in range(bsz)
            ]
            for b in range(n_batches)
        ]
        src = os.path.join(work, f"bm25_src_{label}")
        stage_replayable_batches(spark, src, doc_schema, batches)
        stream = file_stream(
            spark, src, doc_schema, max_files_per_trigger=1
        )
        idx_path = os.path.join(work, f"bm25_idx_{label}")
        bm25_index_write(
            load_table(spark, base, "documents").limit(500),
            idx_path,
            num_buckets=8,
        )
        sink = bm25_index_append_sink(spark, idx_path, run_id="probe")
        out[f"bm25_ingest_{label}"] = drive(
            stream.select("doc_id", "text"), f"bm25_{label}", sink_fn=sink
        )

    # MaxSim chunk-vector ingest (round 10): featurize-and-append —
    # per-batch cost must track batch size (the featurization is
    # map-side and stat-free), state is the driver-side no-op
    from example_kafkastreams_spark.operators.retrieval import (
        maxsim_index_append_sink,
        maxsim_index_write,
    )

    for label, bsz in (("x1", 100), ("x10", 1000)):
        batches = [
            [
                (
                    b * 1_000_000 + i,
                    f"{texts[(b * bsz + i) % len(texts)]} u{b} v{i}",
                    "probe",
                    epoch + dt.timedelta(seconds=60.0 * b + i * 0.001),
                )
                for i in range(bsz)
            ]
            for b in range(n_batches)
        ]
        src = os.path.join(work, f"ms_src_{label}")
        stage_replayable_batches(spark, src, doc_schema, batches)
        stream = file_stream(
            spark, src, doc_schema, max_files_per_trigger=1
        )
        idx_path = os.path.join(work, f"ms_idx_{label}")
        maxsim_index_write(
            load_table(spark, base, "documents").limit(500), idx_path
        )
        sink = maxsim_index_append_sink(spark, idx_path, run_id="probe")
        out[f"maxsim_ingest_{label}"] = drive(
            stream.select("doc_id", "text"), f"ms_{label}", sink_fn=sink
        )

    # Streaming maintenance sinks (VERDICT r9 item 5): Bloom, count-min
    # and the SCD2 store driven through the same N real micro-batches
    # at 1x/10x. The claims: per-batch wall flat in stream position,
    # and state bounded BY CONSTRUCTION — Bloom ≤ m/32 word rows
    # (constant), CMS ≤ depth×width counter rows (constant), SCD2 =
    # retained versions (dimension-sized, grows only with CHANGES, and
    # this feed alternates each key between two values so versions =
    # keys × batches seen, never row count).
    from example_kafkastreams_spark.operators.scd import (
        scd2_store_read,
        scd2_store_sink,
    )
    from example_kafkastreams_spark.operators.sketches import (
        bloom_store_read,
        bloom_store_sink,
        cms_store_read,
        cms_store_sink,
    )

    val_schema = T.StructType(
        [
            T.StructField("v", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    upd_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("tier", T.StringType()),
        ]
    )
    for label, bsz in (("x1", 100), ("x10", 1000)):
        vbatches = [
            [
                (
                    f"tok{b}_{i}",
                    epoch + dt.timedelta(seconds=60.0 * b + i * 0.001),
                )
                for i in range(bsz)
            ]
            for b in range(n_batches)
        ]
        for fam, mk_sink, read_store, bound in (
            (
                "bloom_sink",
                lambda p: bloom_store_sink(spark, p),
                bloom_store_read,
                256,  # m/32 words at the default BLOOM_M=8192
            ),
            (
                "cms_sink",
                lambda p: cms_store_sink(spark, p),
                cms_store_read,
                4 * 256,  # depth x width counters
            ),
        ):
            src = os.path.join(work, f"{fam}_src_{label}")
            stage_replayable_batches(spark, src, val_schema, vbatches)
            stream = file_stream(
                spark, src, val_schema, max_files_per_trigger=1
            )
            store = os.path.join(work, f"{fam}_store_{label}")
            summary = drive(
                stream.select("v"), f"{fam}_{label}",
                sink_fn=mk_sink(store),
            )
            summary["store_rows"] = read_store(spark, store).count()
            summary["store_rows_bound"] = bound
            out[f"{fam}_{label}"] = summary

        # SCD2 store: bsz keys per batch, each batch flips every key's
        # tier — every batch is change-log-sized work, versions grow
        # by exactly bsz per batch (the dimension, not the stream)
        ubatches = [
            [
                (
                    i,
                    epoch + dt.timedelta(seconds=60.0 * b),
                    b * 1_000_000 + i,
                    "gold" if b % 2 else "bronze",
                )
                for i in range(bsz)
            ]
            for b in range(n_batches)
        ]
        src = os.path.join(work, f"scd2_src_{label}")
        stage_replayable_batches(spark, src, upd_schema, ubatches)
        stream = file_stream(
            spark, src, upd_schema, max_files_per_trigger=1
        )
        store = os.path.join(work, f"scd2_store_{label}")
        summary = drive(
            stream, f"scd2_{label}",
            sink_fn=scd2_store_sink(
                spark, store, key="user_id", ts="ts",
                attrs=["tier"], tie="event_id",
            ),
        )
        summary["store_rows"] = scd2_store_read(spark, store).count()
        summary["store_rows_bound"] = bsz * n_batches
        out[f"scd2_sink_{label}"] = summary

        # rollup store: 20 groups regardless of batch size — state is
        # |groups| rows of keys + longs, CONSTANT in stream length
        from pyspark.sql import functions as F

        from example_kafkastreams_spark.operators.rollup import (
            rollup_store_read,
            rollup_store_sink,
        )
        from example_kafkastreams_spark.operators.topk import (
            topk_store_read,
            topk_store_sink,
        )

        kv_schema = T.StructType(
            [
                T.StructField("k", T.StringType()),
                T.StructField("v", T.DoubleType()),
                T.StructField("ts", T.TimestampType()),
            ]
        )
        kvbatches = [
            [
                (
                    f"k{i % 20}",
                    float((b * bsz + i) % 997) / 8.0,
                    epoch + dt.timedelta(seconds=60.0 * b + i * 0.001),
                )
                for i in range(bsz)
            ]
            for b in range(n_batches)
        ]
        src = os.path.join(work, f"rollup_src_{label}")
        stage_replayable_batches(spark, src, kv_schema, kvbatches)
        stream = file_stream(
            spark, src, kv_schema, max_files_per_trigger=1
        )
        store = os.path.join(work, f"rollup_store_{label}")
        summary = drive(
            stream.select("k", "v"), f"rollup_{label}",
            sink_fn=rollup_store_sink(
                spark, store, ["k"],
                sums={"v_sum": (F.col("v"), 3)},
                mins={"v_min": F.col("v")},
                maxs={"v_max": F.col("v")},
            ),
        )
        summary["store_rows"] = rollup_store_read(spark, store).count()
        summary["store_rows_bound"] = 20  # |groups|, not rows
        out[f"rollup_sink_{label}"] = summary

        # q-digest store: snapshot bounded by O(k log U) digest nodes,
        # never stream length (round 11 — the quantile sink)
        from example_kafkastreams_spark.operators.sketches import (
            QDIG_K,
            QDIG_LEVELS,
            qdigest_store_read,
            qdigest_store_sink,
        )

        qsrc = os.path.join(work, f"qdig_src_{label}")
        stage_replayable_batches(spark, qsrc, kv_schema, kvbatches)
        qstream = file_stream(
            spark, qsrc, kv_schema, max_files_per_trigger=1
        )
        qstore = os.path.join(work, f"qdig_store_{label}")
        summary = drive(
            qstream.select("v"), f"qdig_{label}",
            sink_fn=qdigest_store_sink(spark, qstore, "v"),
        )
        summary["store_rows"] = qdigest_store_read(spark, qstore).count()
        summary["store_rows_bound"] = 2 * QDIG_K * (QDIG_LEVELS + 1)
        out[f"qdigest_sink_{label}"] = summary

        # top-k store: 20 groups x k=5 — state bounded by k.groups
        gk_schema = T.StructType(
            [
                T.StructField("g", T.LongType()),
                T.StructField("id", T.LongType()),
                T.StructField("v", T.DoubleType()),
                T.StructField("ts", T.TimestampType()),
            ]
        )
        gkbatches = [
            [
                (
                    i % 20,
                    b * 1_000_000 + i,
                    float((b * bsz + i) * 37 % 9973),
                    epoch + dt.timedelta(seconds=60.0 * b + i * 0.001),
                )
                for i in range(bsz)
            ]
            for b in range(n_batches)
        ]
        src = os.path.join(work, f"topk_src_{label}")
        stage_replayable_batches(spark, src, gk_schema, gkbatches)
        stream = file_stream(
            spark, src, gk_schema, max_files_per_trigger=1
        )
        store = os.path.join(work, f"topk_store_{label}")
        summary = drive(
            stream.select("g", "id", "v"), f"topk_{label}",
            sink_fn=topk_store_sink(
                spark, store, ["g"], [("v", True), ("id", False)], k=5
            ),
        )
        summary["store_rows"] = topk_store_read(spark, store).count()
        summary["store_rows_bound"] = 20 * 5
        out[f"topk_sink_{label}"] = summary

    shutil.rmtree(work, ignore_errors=True)
    # cross-size per-batch wall ratio on the steady-state median — the
    # "cost tracks batch size, not stream length" axis
    import statistics

    for fam in (
        "packs_pipeline",
        "embedding_ingest",
        "bm25_ingest",
        "bloom_sink",
        "cms_sink",
        "scd2_sink",
        "rollup_sink",
        "topk_sink",
    ):
        b1 = out.get(f"{fam}_x1", {}).get("batches", [])[1:]
        b10 = out.get(f"{fam}_x10", {}).get("batches", [])[1:]
        if b1 and b10:
            out[f"{fam}_x10"]["wall_ratio_vs_x1"] = round(
                statistics.median(b["trigger_ms"] for b in b10)
                / max(
                    statistics.median(b["trigger_ms"] for b in b1), 1
                ),
                2,
            )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--streaming-only",
        action="store_true",
        help="run only the streaming-pipeline probe (fast inner loop)",
    )
    args = ap.parse_args()

    spark = obs.measuring_session("scale_probe", args.base)

    if args.streaming_only:
        report = {
            "factor": args.factor,
            "base": args.base,
            "streaming": probe_streaming(spark, args.base),
        }
        line = json.dumps(report)
        print(line)
        spark.stop()
        return

    amp = amplify(spark, args.base, args.factor)
    base_ops = probe_ops(spark, args.base, bench_base=args.base)
    amp_ops = probe_ops(spark, amp, bench_base=args.base)

    report = {"factor": args.factor, "base": args.base, "ops": {}}
    report["streaming"] = probe_streaming(spark, args.base)
    for name in base_ops:
        b, a = base_ops[name], amp_ops[name]
        report["ops"][name] = {
            "base": b,
            "amplified": a,
            "sec_ratio": round(a["sec"] / b["sec"], 2) if b["sec"] else None,
            "rows_ratio": round(a["rows"] / b["rows"], 2) if b["rows"] else None,
            "shuffle_ratio": (
                round(a["shuffle_write_records"] / b["shuffle_write_records"], 2)
                if b["shuffle_write_records"]
                else None
            ),
        }
    shutil.rmtree(AMP_DIR, ignore_errors=True)
    line = json.dumps(report)
    print(line)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "SCALE_PROBE.json"), "w") as f:
        f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
