"""LLM-pipeline extensions (q4x/q5x): oracle parity at sf0.001, the
SimHash pandas fast path pinned to the expression path, multimodal
decode plumbing, and plan-shape checks (broadcast KNN, JVM-side
sketches)."""

from __future__ import annotations

import pandas as pd
import pytest

from example_kafkastreams_spark.catalog import load_table
from example_kafkastreams_spark.operators import multimodal as MM
from example_kafkastreams_spark.operators import neardup as ND
from example_kafkastreams_spark.plans import explain_str
from example_kafkastreams_spark.queries import QUERIES
from tests.conftest import SMOKE

# Oracle parity for q4x/q5x lives in test_driver_sim.py — one typed
# sweep, driver-faithful (typed exact values, no tolerance).


def test_simhash_pandas_matches_expression(spark):
    docs = load_table(spark, SMOKE, "documents").limit(50)
    expr_rows = {
        r.doc_id: r.simhash for r in ND.with_simhash(docs).collect()
    }
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    ids = sorted(texts)
    fast = ND.simhash32_pandas(pd.Series([texts[i] for i in ids]))
    for i, doc_id in enumerate(ids):
        assert int(fast.iloc[i]) == expr_rows[doc_id], doc_id


def test_minhash_pairs_are_high_jaccard(spark):
    """Precision check: every LSH-confirmed pair really is ≥ threshold
    by exact shingle Jaccard (verified independently in q44)."""
    est = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["q41_dedup_minhash_lsh"](spark, SMOKE).collect()
        if r.mode == "pairs"  # incr rows lack est; eval rows are metrics
    }
    exact = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["q44_dedup_ngram_jaccard"](spark, SMOKE).collect()
    }
    assert exact, "planted near-duplicates must be found"
    # est-threshold 0.5 pairs should essentially all confirm at 0.5 exact
    assert len(est & exact) >= len(est) * 0.8


def test_multimodal_payload_roundtrip(spark):
    docs = load_table(spark, SMOKE, "documents").limit(5)
    out = MM.decode_images(MM.attach_payload(docs)).collect()
    raw = {r.doc_id: r.text for r in docs.collect()}
    assert len(out) == 5
    for r in out:
        b = raw[r.doc_id].encode()
        assert r.n_bytes == len(b)
        assert r.byte_sum == sum(b)  # bytes really crossed into Python
        assert r.width == 64 + len(b) % 577


def test_multimodal_real_decode_is_gated():
    with pytest.raises(NotImplementedError):
        list(MM.decode_image_batches_real(iter([])))


def test_knn_broadcasts_query_side(spark):
    plan = explain_str(QUERIES["q45_knn_bruteforce"](spark, SMOKE), "simple")
    assert "Broadcast" in plan  # corpus never shuffles for the join


def test_sketches_stay_jvm_side(spark):
    # No Python eval in the per-doc path: sketch queries must not plan
    # Batch/ArrowEvalPython nodes (q52 is the intentional exception).
    for name in (
        "q41_dedup_minhash_lsh",
        "q43_dedup_simhash_pairs",
        "q51_fingerprint",
    ):
        plan = explain_str(QUERIES[name](spark, SMOKE), "simple")
        assert "EvalPython" not in plan, name


def test_knn_rank_is_two_phase(spark):
    """q45/q46/q53 must pre-rank per (input partition, query) before the
    global per-query window: the final window then sees ≤ partitions·k
    rows, so no single task ever sorts the full scored corpus (the
    per-query funnel VERDICT r1 flagged as a 100× scale-killer)."""
    for name in ("q45_knn_bruteforce", "q46_ann_lsh_ivf"):
        plan = explain_str(QUERIES[name](spark, SMOKE), "simple")
        assert "__pid" in plan, name
        assert "spark_partition_id" in plan.lower(), name


def test_matryoshka_full_shortlist_equals_brute(spark):
    """With the shortlist as large as the corpus, the MRL prefix phase
    prunes nothing — the refine must reproduce brute force exactly
    (rank-for-rank, cosine-for-cosine)."""
    from example_kafkastreams_spark.operators.knn import (
        brute_force_knn,
        matryoshka_knn,
    )

    emb = load_table(spark, SMOKE, "embeddings")
    brute = sorted(
        (r.query_id, r.knn_rank, r.neighbor_id, r.cosine)
        for r in brute_force_knn(emb, num_queries=8, k=5).collect()
    )
    mrl = sorted(
        (r.query_id, r.knn_rank, r.neighbor_id, r.cosine)
        for r in matryoshka_knn(
            emb, num_queries=8, k=5, prefix_dim=16, shortlist=10**6
        ).collect()
    )
    assert mrl == brute


def test_matryoshka_recall_scales_with_prefix_and_shortlist(spark):
    """The testdata embeddings are RANDOM — a 16-dim prefix carries
    only sqrt(16/64) of the cosine signal, so recall floors are modest
    by construction (an MRL-trained model front-loads information and
    does far better). Pin the mechanism: recall improves monotonically
    along both knobs, and at half-dim/64-candidates (8x pruning) it
    clears 0.7 on this corpus."""
    from example_kafkastreams_spark.operators.knn import (
        brute_force_knn,
        matryoshka_knn,
    )

    emb = load_table(spark, SMOKE, "embeddings")
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_knn(emb, num_queries=8, k=5).collect()
    }

    def recall(prefix_dim, shortlist):
        got = {
            (r.query_id, r.neighbor_id)
            for r in matryoshka_knn(
                emb, num_queries=8, k=5,
                prefix_dim=prefix_dim, shortlist=shortlist,
            ).collect()
        }
        return len(got & truth) / len(truth)

    r16_32, r16_128 = recall(16, 32), recall(16, 128)
    r32_64 = recall(32, 64)
    assert r16_32 <= r16_128  # wider shortlist never hurts
    assert r32_64 >= 0.7, r32_64


def test_bucketed_join_zero_exchange(spark, tmp_path):
    """Two tables bucketed on the join key join WITHOUT any shuffle —
    the persistent co-partitioning the reference builds with keyed
    topics (SURVEY.md §4)."""
    from example_kafkastreams_spark.plans import count_exchanges
    from example_kafkastreams_spark.sources.bucketed import (
        read_bucketed,
        write_bucketed,
    )

    import shutil

    events = load_table(spark, SMOKE, "events")
    pv = events.filter("event_type = 'view'").select(
        "user_id", "event_id", "value"
    )
    ev = events.filter("event_type <> 'view'").select(
        "user_id", "event_id", "event_type"
    )
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("bkt_pv", "bkt_ev"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    write_bucketed(pv, "bkt_pv", ["user_id"], num_buckets=8)
    write_bucketed(ev, "bkt_ev", ["user_id"], num_buckets=8)
    joined = read_bucketed(spark, "bkt_ev").join(
        read_bucketed(spark, "bkt_pv"), "user_id"
    )
    # broadcast would trivially have no shuffle — force the shuffle path
    # off so the bucketed-scan co-location is what's being proven
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert count_exchanges(joined) == 0, joined._jdf.queryExecution()
        assert joined.count() > 0
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_bucketed_flagship_zero_exchange(spark):
    """The WHOLE flagship pipeline (interval join + as-of pick + windowed
    dedup) over a user_id-bucketed events table plans with ZERO shuffle
    exchanges: every stateful stage keys on user_id (plus finer columns),
    so the bucketed scan's HashPartitioning(user_id) satisfies them all —
    the persistent form of the reference's zero-repartition-topic
    topology (ClickstreamJoinExample.scala:184-189, README.md:12).

    Needs requireAllClusterKeysForCoPartition=false: the interval join's
    equi-keys are (user_id, __bucket) and subset co-partitioning is
    sound here (same user_id ⇒ same storage bucket on both sides).
    """
    import shutil

    from example_kafkastreams_spark.operators.enrich import enrich_clickstream
    from example_kafkastreams_spark.plans import count_exchanges
    from example_kafkastreams_spark.sources.bucketed import write_bucketed

    events = load_table(spark, SMOKE, "events")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    spark.sql("DROP TABLE IF EXISTS bkt_events_full")
    shutil.rmtree(f"{warehouse}/bkt_events_full", ignore_errors=True)
    write_bucketed(events, "bkt_events_full", ["user_id"], num_buckets=8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    try:
        bucketed = enrich_clickstream(spark.table("bkt_events_full"))
        assert count_exchanges(bucketed) == 0, bucketed._jdf.queryExecution()
        plain = enrich_clickstream(events)
        assert count_exchanges(plain) > 0  # the win is real, not vacuous
        assert sorted(map(tuple, bucketed.collect())) == sorted(
            map(tuple, plain.collect())
        )
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")


def test_multimodal_frame_sampling(spark):
    from example_kafkastreams_spark.operators.multimodal import (
        attach_payload,
        sample_frames,
    )

    docs = load_table(spark, SMOKE, "documents").limit(3)
    media = attach_payload(docs)
    frames = sample_frames(media).collect()
    raw = {r.doc_id: r.text.encode() for r in docs.collect()}
    for doc_id, b in raw.items():
        mine = sorted(
            (r for r in frames if r.doc_id == doc_id),
            key=lambda r: r.frame_idx,
        )
        assert len(mine) == (len(b) + 255) // 256  # stride covers payload
        assert sum(r.frame_checksum for r in mine) == sum(b)


def test_lsh_beats_allpairs_comparisons(spark):
    """The LSH candidate count must be far below |docs|²/2 — the scale
    property the whole design rests on."""
    docs = load_table(spark, SMOKE, "documents")
    n = docs.count()
    cand = ND.minhash_lsh_pairs(docs, threshold=0.0).count()
    assert cand < (n * (n - 1) // 2) * 0.05, (cand, n)


def test_multimodal_resize_binary_roundtrip(spark):
    """Resize kernel: binary in AND binary out through Arrow — exact
    target byte count, stride-decimation + zero-pad semantics pinned
    against a Python reimplementation."""
    docs = spark.createDataFrame(
        [(1, "x" * 10), (2, "abcdefgh" * 4096)], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in MM.resize_images(
            MM.attach_payload(docs), target_width=8, target_height=8
        ).collect()
    }
    for doc_id, text in ((1, "x" * 10), (2, "abcdefgh" * 4096)):
        payload = text.encode()
        stride = max(1, len(payload) // 64)
        want = payload[::stride][:64]
        want = want + b"\x00" * (64 - len(want))
        r = out[doc_id]
        assert (r.n_bytes_out, bytes(r.resized_payload), r.resized_checksum) == (
            64, want, sum(want)
        )


def test_multimodal_features_feed_knn(spark):
    """Feature extraction emits the (id, array<float>) contract the ANN
    operators consume: histogram pinned to numpy, vector sums to ~1,
    and the output runs through brute_force_knn unchanged."""
    import numpy as np
    from pyspark.sql import functions as F

    from example_kafkastreams_spark.operators.knn import brute_force_knn

    docs = spark.createDataFrame(
        [(i, f"doc {i} " + "payload bytes " * (i + 1)) for i in range(6)],
        "doc_id long, text string",
    )
    feats = MM.extract_features(MM.attach_payload(docs))
    rows = {r.doc_id: r for r in feats.collect()}
    for doc_id, text in ((0, "doc 0 " + "payload bytes "),):
        arr = np.frombuffer(text.encode(), dtype=np.uint8)
        hist = np.bincount(arr >> 4, minlength=16).astype(np.float64)
        want = (hist / hist.sum()).astype(np.float32).tolist()
        assert rows[doc_id].features == want
    for r in rows.values():
        assert abs(sum(r.features) - 1.0) < 1e-5
    emb = feats.select(
        F.col("doc_id").alias("vec_id"), F.col("features").alias("embedding")
    )
    knn = brute_force_knn(emb, num_queries=2, k=3)
    assert knn.count() == 2 * 3  # 2 queries x top-3 neighbors


def test_grouped_agg_pandas_udaf_surface(spark):
    """§2.8 grouped-agg pandas UDF: the Arrow UDAF path produces
    exactly the built-in expression's values (median pin), and the
    Gini UDAF obeys its defining bounds/invariants."""
    from pyspark.sql import functions as F

    from example_kafkastreams_spark.catalog import load_table
    from example_kafkastreams_spark.functions.udafs import (
        gini_udaf,
        median_udaf,
    )
    from tests.conftest import SMOKE

    docs = load_table(spark, SMOKE, "documents")
    got = {
        r.source: r.med
        for r in docs.groupBy("source")
        .agg(median_udaf("n_chars").alias("med"))
        .collect()
    }
    want = {
        r.source: r.med
        for r in docs.groupBy("source")
        .agg(F.expr("percentile(n_chars, 0.5)").alias("med"))
        .collect()
    }
    assert got == want and len(got) > 1

    gini = {
        r.source: r.g
        for r in docs.groupBy("source")
        .agg(gini_udaf("n_chars").alias("g"))
        .collect()
    }
    assert all(0.0 <= g < 1.0 for g in gini.values())
    # invariance: a constant column has zero inequality
    const = docs.select("source", F.lit(7).cast("long").alias("c"))
    z = const.groupBy("source").agg(gini_udaf("c").alias("g")).collect()
    assert all(abs(r.g) < 1e-12 for r in z)
    # and a python reference recomputation on one group
    import numpy as np

    src = sorted(got)[0]
    vals = np.sort(
        np.array(
            [
                r.n_chars
                for r in docs.filter(F.col("source") == src).collect()
            ],
            dtype=np.float64,
        )
    )
    cum = np.cumsum(vals)
    n = vals.size
    ref = (n + 1 - 2 * (cum.sum() / cum[-1])) / n
    assert abs(gini[src] - ref) < 1e-12


def test_kmv_sketch_properties(spark):
    """KMV distinct sketch: exact below k, ~1/sqrt(k) accurate above,
    and exactly partition-independent (the candidate prune keeps every
    globally-small distinct hash)."""
    from pyspark.sql import functions as F

    from example_kafkastreams_spark.catalog import load_table
    from example_kafkastreams_spark.functions import portable as P
    from example_kafkastreams_spark.operators.sketches import kmv_distinct
    from tests.conftest import SMOKE

    # small cardinality -> exact
    small = spark.createDataFrame(
        [(f"tok{i % 10}",) for i in range(200)], "v string"
    )
    row = kmv_distinct(small, "v", k=64).collect()[0]
    assert row.k_used == 10 and row.est_distinct == 10.0

    # real vocabulary: estimate within the sketch's error regime
    toks = (
        load_table(spark, SMOKE, "documents")
        .select(F.explode(F.expr(P.split_ws("text", P.SPARK))).alias("v"))
    )
    exact = toks.agg(F.count_distinct("v")).collect()[0][0]
    est = kmv_distinct(toks, "v", k=64).collect()[0].est_distinct
    if exact <= 64:
        assert est == float(exact)
    else:
        assert abs(est - exact) / exact < 0.5  # ~4 sigma at k=64

    # partition independence: identical row under any layout
    a = kmv_distinct(toks, "v", 64).collect()[0]
    b = kmv_distinct(toks.repartition(17), "v", 64).collect()[0]
    assert (a.k_used, a.kth_hash, a.est_distinct) == (
        b.k_used, b.kth_hash, b.est_distinct
    )

    # duplicate-heavy partition cannot evict a larger distinct hash
    # (the dense_rank-vs-row_number regression): one partition holds
    # 500 copies of one token plus 70 distinct others
    skew = spark.createDataFrame(
        [("dup",)] * 500 + [(f"u{i}",) for i in range(70)], "v string"
    ).coalesce(1)
    r = kmv_distinct(skew, "v", k=64).collect()[0]
    assert r.k_used == 64  # 71 distinct values -> sketch saturates


def test_count_min_sketch_properties(spark):
    """CM sketch: one-sided (est >= exact always), exact at generous
    width, deterministic under repartitioning."""
    from pyspark.sql import functions as F

    from example_kafkastreams_spark.catalog import load_table
    from example_kafkastreams_spark.functions import portable as P
    from example_kafkastreams_spark.operators.sketches import (
        count_min_estimates,
    )
    from tests.conftest import SMOKE

    toks = (
        load_table(spark, SMOKE, "documents")
        .select(F.explode(F.expr(P.split_ws("text", P.SPARK))).alias("v"))
    )
    probes = toks.select("v").distinct().orderBy(F.md5("v"), "v").limit(8)
    rows = count_min_estimates(toks, "v", probes, depth=4, width=64).collect()
    assert len(rows) == 8
    for r in rows:
        assert r.cms_est >= r.exact_cnt >= 1  # one-sided guarantee
    # generous width -> no collisions on this vocab -> exact
    wide = count_min_estimates(
        toks, "v", probes, depth=4, width=1 << 16
    ).collect()
    assert all(r.cms_est == r.exact_cnt for r in wide)
    # deterministic under layout
    a = sorted(map(tuple, rows))
    b = sorted(
        map(
            tuple,
            count_min_estimates(
                toks.repartition(13), "v", probes, depth=4, width=64
            ).collect(),
        )
    )
    assert a == b


def test_hll_sketch_properties(spark):
    """From-scratch HLL: registers bit-match a pure-Python reference,
    are partition-layout invariant, merge by register-wise max, and
    the raw estimate lands in the sketch's error regime (the driver
    oracle pins the exact cross-engine bits; these pin the math)."""
    import hashlib

    from pyspark.sql import functions as F

    from example_kafkastreams_spark.operators.sketches import (
        hll_corrected_estimate,
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    p, m = 6, 64
    vals = [f"v{i}" for i in range(5000)]
    df = spark.createDataFrame([(v,) for v in vals], "v string")

    # pure-Python twin of the generated bucket/rho expressions
    ref = [0] * m
    for v in vals:
        h = int(hashlib.md5(v.encode()).hexdigest()[:8], 16)
        b, w = h % m, h // m
        rho = 33 - p if w == 0 else 1
        while w and w % 2 == 0:
            w //= 2
            rho += 1
        ref[b] = max(ref[b], rho)
    regs = hll_registers(df, "v", p)
    got = {r.register: r.rho for r in regs.collect()}
    assert len(got) == m and [got[j] for j in range(m)] == ref

    # layout invariance: identical registers under any partitioning
    alt = hll_registers(df.repartition(17), "v", p)
    assert sorted(map(tuple, alt.collect())) == sorted(got.items())

    # merge = sketch of the union (split overlaps on purpose)
    a = hll_registers(df.filter(F.col("v") < "v3"), "v", p)
    b = hll_registers(df.filter(F.col("v") >= "v2"), "v", p)
    merged = {r.register: r.rho for r in hll_merge(a, b).collect()}
    assert [merged[j] for j in range(m)] == ref

    # estimator accuracy: RSE ~13% at m=64; 4 sigma band on one draw
    est_row = hll_estimate(regs, p).collect()[0]
    assert abs(est_row.est_distinct - 5000) / 5000 < 0.5
    assert est_row.n_zero_regs == sum(1 for x in ref if x == 0)

    # NULLs are not distinct values
    with_null = df.unionByName(
        spark.createDataFrame([(None,)], "v string")
    )
    assert sorted(map(tuple, hll_registers(with_null, "v", p).collect())) \
        == sorted(got.items())

    # driver-side linear counting: tight on a tiny domain where the
    # raw estimator is in its known-biased range
    tiny = spark.createDataFrame([(f"t{i}",) for i in range(40)], "v string")
    trow = hll_estimate(hll_registers(tiny, "v", p), p).collect()[0]
    corrected = hll_corrected_estimate(
        trow.est_distinct, trow.n_zero_regs, p
    )
    assert abs(corrected - 40) / 40 < 0.25
    # out of linear-counting range -> correction is the identity
    assert hll_corrected_estimate(5000.0, 0, p) == 5000.0


def test_kmv_set_ops_properties(spark):
    """Set-op sketch: exact in the unsaturated regime (union smaller
    than k), jaccard endpoints exact for disjoint/identical sets,
    sane estimates in the saturated regime, and layout-invariant."""
    from example_kafkastreams_spark.operators.sketches import (
        kmv_set_ops,
    )

    def df(vals):
        return spark.createDataFrame([(v,) for v in vals], "v string")

    # unsaturated: everything exact
    a = df([f"a{i}" for i in range(20)] + ["s1", "s2"])
    b = df([f"b{i}" for i in range(10)] + ["s1", "s2"])
    r = kmv_set_ops(a, b, "v", k=64).collect()[0]
    assert r.k_used == 32 and r.est_union == 32.0
    assert r.n_both == 2 and r.est_intersection == 2.0
    assert r.jaccard_est == 2.0 / 32.0

    # disjoint / identical endpoints
    assert kmv_set_ops(df(["x1"]), df(["y1"]), "v").collect()[0].n_both == 0
    same = [f"z{i}" for i in range(30)]
    ri = kmv_set_ops(df(same), df(same), "v", k=16).collect()[0]
    assert ri.jaccard_est == 1.0  # saturated AND identical

    # saturated regime: estimates land in the sketch's error band
    big_a = df([f"u{i}" for i in range(3000)])
    big_b = df([f"u{i}" for i in range(1500, 4500)])  # 50% overlap
    rs = kmv_set_ops(big_a, big_b, "v", k=256).collect()[0]
    assert abs(rs.est_union - 4500) / 4500 < 0.3
    assert 0.15 < rs.jaccard_est < 0.55  # true J = 1500/4500 = 0.33

    # layout invariance
    r2 = kmv_set_ops(
        big_a.repartition(17), big_b.repartition(5), "v", k=256
    ).collect()[0]
    assert (rs.k_used, rs.kth_hash, rs.n_both, rs.est_union,
            rs.jaccard_est, rs.est_intersection) == (
        r2.k_used, r2.kth_hash, r2.n_both, r2.est_union,
        r2.jaccard_est, r2.est_intersection
    )


def test_hll_grouped_matches_per_group_and_merges(spark):
    """The grouped sketch must equal running the global sketch on each
    group's rows separately (one pass == G passes), and max-merging
    the per-group registers must equal the global sketch of the union
    — the composability that lets per-day/per-source sketches roll up
    without re-reading data."""
    from pyspark.sql import functions as F

    from example_kafkastreams_spark.operators.sketches import (
        hll_registers,
        hll_registers_grouped,
    )

    rows = [("a", f"u{i}") for i in range(300)] + [
        ("b", f"u{i}") for i in range(100, 500)
    ]
    df = spark.createDataFrame(rows, "grp string, v string")
    grouped = hll_registers_grouped(df, "v", "grp", 6)
    for g in ("a", "b"):
        per = {
            r.register: r.rho
            for r in hll_registers(
                df.filter(F.col("grp") == g), "v", 6
            ).collect()
        }
        got = {
            r.register: r.rho
            for r in grouped.filter(F.col("grp") == g).collect()
        }
        assert got == per, g
    rolled = {
        r.register: r.rho
        for r in grouped.groupBy("register")
        .agg(F.max("rho").alias("rho"))
        .collect()
    }
    union = {
        r.register: r.rho for r in hll_registers(df, "v", 6).collect()
    }
    assert rolled == union


def test_hll_shuffle_is_constant_in_corpus(spark):
    """The register aggregation's exchange carries at most
    partitions*m rows regardless of corpus size — a partial_max
    HashAggregate must sit BELOW the register exchange, and the only
    other exchange is the 64-row range side's broadcast (the 100 TB
    property: KMV's candidate set grows with partitions*k distinct
    values, HLL's never exceeds m per partition)."""
    from example_kafkastreams_spark.operators.sketches import (
        hll_registers,
    )
    from example_kafkastreams_spark.plans import count_exchanges

    big = spark.range(200_000).selectExpr("CAST(id AS STRING) AS v")
    regs = hll_registers(big, "v", 6)
    assert count_exchanges(regs) == 1  # broadcast side not counted
    plan = regs._jdf.queryExecution().executedPlan().toString()
    lines = plan.split("\n")
    ex = next(
        i for i, l in enumerate(lines)
        if "Exchange hashpartitioning(register" in l
    )
    below = "\n".join(lines[ex:])
    assert "partial_max" in below, (
        "partial register max must collapse map-side, before the "
        "exchange"
    )
    # the corpus column never crosses the exchange — only the two
    # register ints do
    assert "v#" not in lines[ex]


def test_corpus_report_data_card(spark):
    """The per-source data card composes the shipped profiling
    operators: volumes add up, dup_rate reflects injected duplicates,
    language purity and Gini stay in bounds."""
    from pyspark.sql import functions as F

    from example_kafkastreams_spark.catalog import load_table
    from example_kafkastreams_spark.operators.report import corpus_report
    from tests.conftest import SMOKE

    docs = load_table(spark, SMOKE, "documents")
    rep = {r.source: r for r in corpus_report(docs).collect()}
    assert sum(r.n_docs for r in rep.values()) == docs.count()
    for r in rep.values():
        assert 0.0 <= r.dup_rate < 1.0
        assert 0.0 <= r.gini_chars < 1.0
        assert 0.0 <= r.pct_lang_pure <= 1.0
        assert r.n_tokens > r.n_docs  # multi-token docs

    # injected duplicates move dup_rate exactly
    base = docs.filter(F.col("source") == sorted(rep)[0])
    n = base.count()
    dup = base.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    r2 = corpus_report(base.unionByName(dup)).collect()[0]
    assert r2.n_docs == n + 5 and r2.distinct_texts == n
    assert abs(r2.dup_rate - round(1 - n / (n + 5), 6)) < 1e-9


def test_split_leakage_report(spark):
    """A near-dup cluster spanning splits is reported (sorted splits
    csv, correct size); single-split clusters and singletons are not;
    exact duplicates CANNOT appear (the content-hash split puts
    byte-identical text in one split by construction)."""
    from pyspark.sql import functions as F

    from example_kafkastreams_spark.operators.report import (
        split_leakage_report,
    )

    sized = spark.createDataFrame(
        [
            # component 1: size 3, members across two splits -> leaks
            (10, 1, 3), (11, 1, 3), (12, 1, 3),
            # component 2: size 2, both in train -> clean
            (20, 2, 2), (21, 2, 2),
            # singleton -> filtered before the join
            (30, 30, 1),
        ],
        "doc_id long, component_id long, component_size long",
    )
    splits = spark.createDataFrame(
        [
            (10, "train"), (11, "test"), (12, "train"),
            (20, "train"), (21, "train"),
            (30, "val"),
        ],
        "doc_id long, split string",
    )
    rows = split_leakage_report(sized, splits).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.component_id, r.component_size, r.n_splits) == (1, 3, 2)
    assert r.splits_csv == "test,train"

    # exact duplicates share a content hash -> assign_split gives them
    # one split, so a pure-exact-dup cluster never reaches the report
    from example_kafkastreams_spark.operators.sampling import assign_split

    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "same text")],
        "doc_id long, text string",
    )
    one_cluster = spark.createDataFrame(
        [(1, 1, 3), (2, 1, 3), (3, 1, 3)],
        "doc_id long, component_id long, component_size long",
    )
    assert (
        split_leakage_report(one_cluster, assign_split(docs)).count() == 0
    )


def test_split_leakage_surfaces_missing_split_coverage(spark):
    """A cluster member missing from the split frame must surface as
    the __unassigned__ sentinel, not silently shrink the cluster's
    observed splits (an inner join could mask a real leak)."""
    from example_kafkastreams_spark.operators.report import (
        split_leakage_report,
    )

    sized = spark.createDataFrame(
        [(10, 1, 2), (11, 1, 2)],
        "doc_id long, component_id long, component_size long",
    )
    splits = spark.createDataFrame(
        [(10, "train")], "doc_id long, split string"
    )
    rows = split_leakage_report(sized, splits).collect()
    assert len(rows) == 1
    assert rows[0].splits_csv == "__unassigned__,train"
    assert rows[0].n_splits == 2


def test_dup_ngram_stats(spark):
    """Constructed corpus: doc pairs sharing an 8-token window raise
    dup_grams exactly; unique docs contribute distinct grams only;
    sources whose docs are all too short still report with zeros."""
    from pyspark.sql import functions as F  # noqa: F401

    from example_kafkastreams_spark.operators.report import dup_ngram_stats

    w8 = "a b c d e f g h"           # the shared 8-token window
    rows = [
        # srcA: two docs sharing exactly the w8 window, disjoint tails
        (1, f"{w8} p q r", "srcA"),
        (2, f"{w8} x y z", "srcA"),
        # srcB: one doc, all grams unique
        (3, "m n o p q r s t u v", "srcB"),
        # srcC: too short for any 8-gram
        (4, "tiny doc", "srcC"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: r for r in dup_ngram_stats(docs, n=8).collect()}

    # srcA doc grams: doc1 has 4 grams (11 tokens), doc2 has 4; they
    # share ONLY the pure w8 gram (tails differ from position 2 on)
    a = got["srcA"]
    assert a.n_docs == 2
    assert a.postings == 8
    assert a.distinct_grams == 7  # 4 + 4 - 1 shared
    assert a.dup_grams == 1

    b = got["srcB"]
    assert b.n_docs == 1 and b.dup_grams == 0
    assert b.distinct_grams == b.postings == 3  # 10 tokens -> 3 grams

    c = got["srcC"]
    assert c.n_docs == 1
    assert c.distinct_grams == c.dup_grams == c.postings == 0


def test_source_overlap(spark):
    """Pairwise shared-digest counts: identical texts across sources
    count once per digest, the diagonal reports per-source distinct
    digests, and disjoint sources produce no pair row."""
    from example_kafkastreams_spark.operators.report import source_overlap

    rows = [
        (1, "shared one", "s1"),
        (2, "shared one", "s2"),      # same digest in s1 and s2
        (3, "shared one", "s2"),      # duplicate within s2: still 1 digest
        (4, "shared two", "s1"),
        (5, "shared two", "s2"),
        (6, "only s1", "s1"),
        (7, "only s3", "s3"),         # disjoint source
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {(r.source_a, r.source_b): r.n_shared
           for r in source_overlap(docs).collect()}
    assert got[("s1", "s2")] == 2
    assert ("s1", "s3") not in got and ("s2", "s3") not in got
    assert got[("s1", "s1")] == 3
    assert got[("s2", "s2")] == 2
    assert got[("s3", "s3")] == 1


def test_dup_ngram_stats_matches_naive(spark):
    """Fuzz vs a from-scratch Python recount: random shared-vocabulary
    docs (heavy gram collisions), n=3 so short docs still emit."""
    import random

    from example_kafkastreams_spark.operators.report import dup_ngram_stats

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(9)]
    rows = []
    for i in range(40):
        n = rng.randint(1, 14)
        rows.append(
            (i, " ".join(rng.choice(vocab) for _ in range(n)),
             f"s{i % 4}")
        )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: r for r in dup_ngram_stats(docs, n=3).collect()}

    def grams(text):
        t = text.split(" ")
        return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}

    from collections import Counter, defaultdict

    per_src = defaultdict(list)
    for _, text, src in rows:
        per_src[src].append(grams(text))
    for src, gsets in per_src.items():
        c = Counter(g for gs in gsets for g in gs)
        r = got[src]
        assert r.n_docs == len(gsets)
        assert r.distinct_grams == len(c)
        assert r.dup_grams == sum(1 for v in c.values() if v >= 2)
        assert r.postings == sum(c.values())


def test_source_overlap_matches_naive(spark):
    """Fuzz vs a from-scratch Python set computation over random
    duplicate-heavy corpora (texts drawn from a tiny pool so overlaps
    and within-source duplicates are dense)."""
    import itertools
    import random

    from example_kafkastreams_spark.operators.report import source_overlap

    rng = random.Random(13)
    pool = [f"text number {i}" for i in range(12)]
    rows = [
        (i, rng.choice(pool), f"s{rng.randint(0, 3)}") for i in range(80)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {(r.source_a, r.source_b): r.n_shared
           for r in source_overlap(docs).collect()}

    by_src = {}
    for _, text, src in rows:
        by_src.setdefault(src, set()).add(text)
    want = {}
    for s, texts in by_src.items():
        want[(s, s)] = len(texts)
    for a, b in itertools.combinations(sorted(by_src), 2):
        n = len(by_src[a] & by_src[b])
        if n:
            want[(a, b)] = n
    assert got == want
