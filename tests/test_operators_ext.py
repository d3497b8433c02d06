"""Behavioral tests for the second-wave operators: chunking layout,
connected-components fixpoint, embedding quantization properties.
(Oracle parity for the q27-q35 / q54-q58 queries is covered by the
parametrized oracle tests in test_relational.py / test_llm_extensions.)
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from example_kafkastreams_spark.operators.components import (
    connected_components,
    with_component_sizes,
)
from example_kafkastreams_spark.operators.text_chunks import chunk_documents


def test_chunking_layout(spark):
    # 10 tokens, size 4, stride 3 -> starts 1,4,7,10; last chunk 1 token
    text = " ".join(f"t{i}" for i in range(1, 11))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        chunk_documents(docs, chunk_size=4, stride=3).collect(),
        key=lambda r: r.chunk_idx,
    )
    assert [r.chunk_idx for r in rows] == [1, 2, 3, 4]
    assert rows[0].chunk_text == "t1 t2 t3 t4"
    assert rows[1].chunk_text == "t4 t5 t6 t7"  # 1-token overlap
    assert rows[3].chunk_text == "t10"
    assert [r.n_tokens for r in rows] == [4, 4, 4, 1]


def test_connected_components_fixpoint(spark):
    # chain 1-2-3, pair 10-11, isolated 20: three components
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame(
        [(n,) for n in (1, 2, 3, 10, 11, 20)], "doc_id long"
    )
    comp = with_component_sizes(
        connected_components(edges, nodes, node_col="doc_id"), "doc_id"
    )
    got = {r.doc_id: (r.component_id, r.component_size) for r in comp.collect()}
    assert got == {
        1: (1, 3), 2: (1, 3), 3: (1, 3),
        10: (10, 2), 11: (10, 2),
        20: (20, 1),
    }


def test_connected_components_explicit_broadcast_skips_sizing_job(
    spark, monkeypatch
):
    """broadcast=True/False must never run the auto-sizing agg job
    (VERDICT r3 item 4): a caller that already knows its regime — e.g.
    the corpus funnel passing its own stage statistics — pays zero
    extra Spark jobs. broadcast=None keeps the estimate."""
    from example_kafkastreams_spark.operators import components as C

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame(
        [(n,) for n in (1, 2, 3, 10, 11, 20)], "doc_id long"
    )
    calls = {"n": 0}
    real = C._estimate_label_bytes

    def counting(in_graph):
        calls["n"] += 1
        return real(in_graph)

    monkeypatch.setattr(C, "_estimate_label_bytes", counting)
    expected = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}
    # local_fixpoint=False pins the LOOP path (the beyond-one-task
    # regime); explicit broadcast must still skip the label sizing job
    for forced in (True, False):
        got = {
            r.doc_id: r.component_id
            for r in C.connected_components(
                edges, nodes, node_col="doc_id", broadcast=forced,
                local_fixpoint=False,
            ).collect()
        }
        assert got == expected  # both regimes compute the same fixpoint
    assert calls["n"] == 0, "explicit broadcast must skip the sizing job"
    C.connected_components(
        edges, nodes, node_col="doc_id", broadcast=None,
        local_fixpoint=False,
    ).collect()
    assert calls["n"] == 1, "auto mode sizes the label table exactly once"


def test_connected_components_local_fixpoint_matches_loop(spark, monkeypatch):
    """The single-task union-find path (local_fixpoint) must compute
    the exact loop fixpoint — min reachable id per component — and the
    auto gate must go local for a tiny edge list WITHOUT ever sizing
    the label table (the loop's sizing job is replaced by one edge
    estimate)."""
    from example_kafkastreams_spark.operators import components as C

    edges = spark.createDataFrame(
        # a 4-chain, a pair, and an isolated edge cluster — exercises
        # multi-hop closure, not just direct pairs
        [(5, 2), (2, 9), (9, 7), (30, 31), (100, 50)],
        "doc_a long, doc_b long",
    )
    nodes = spark.createDataFrame(
        [(n,) for n in (2, 5, 7, 9, 30, 31, 50, 100, 777)],
        "doc_id long",
    )
    calls = {"n": 0}
    real = C._estimate_label_bytes

    def counting(in_graph):
        calls["n"] += 1
        return real(in_graph)

    monkeypatch.setattr(C, "_estimate_label_bytes", counting)
    loop = {
        r.doc_id: r.component_id
        for r in C.connected_components(
            edges, nodes, node_col="doc_id", local_fixpoint=False
        ).collect()
    }
    local = {
        r.doc_id: r.component_id
        for r in C.connected_components(
            edges, nodes, node_col="doc_id", local_fixpoint=True
        ).collect()
    }
    auto = {
        r.doc_id: r.component_id
        for r in C.connected_components(
            edges, nodes, node_col="doc_id"
        ).collect()
    }
    expected = {
        2: 2, 5: 2, 7: 2, 9: 2, 30: 30, 31: 30, 50: 50, 100: 50, 777: 777
    }
    assert loop == expected
    assert local == expected
    assert auto == expected
    # loop ran the label sizing once (broadcast auto); neither the
    # explicit-local nor the auto-local run sized the label table
    assert calls["n"] == 1
    # a zero threshold fails the gate and falls back to the loop
    beyond = {
        r.doc_id: r.component_id
        for r in C.connected_components(
            edges, nodes, node_col="doc_id", local_threshold_bytes=0
        ).collect()
    }
    assert beyond == expected


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """reliable=True: rounds checkpoint to the reliable store (here a
    local dir; HDFS/S3 on a real cluster) so executor loss costs one
    round, not the iteration — and the result is identical."""
    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame(
        [(n,) for n in (1, 2, 3, 10, 11, 20)], "doc_id long"
    )
    import pytest

    with pytest.raises(ValueError, match="setCheckpointDir"):
        connected_components(edges, nodes, node_col="doc_id", reliable=True)
    sc.setCheckpointDir(str(tmp_path / "cc_ckpt"))
    comp = connected_components(edges, nodes, node_col="doc_id", reliable=True)
    got = {r.doc_id: r.component_id for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}
    # the reliable store really received the per-round label RDDs
    ckpts = list((tmp_path / "cc_ckpt").rglob("*"))
    assert ckpts, "no checkpoint files written"


def test_star_contracted_edges_same_closure(spark):
    """simhash_components_edges must yield the SAME components as the
    full pair set — k−1 star edges replace C(k,2) clique pairs without
    changing the transitive closure. Fixture forces both regimes:
    exact-duplicate groups (identical sketches) AND cross-sketch
    near-dup pairs, on a corpus with |edges| << |pairs|."""
    from example_kafkastreams_spark.operators.neardup import (
        simhash_components_edges,
        simhash_neardup_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = []
    for g in range(4):  # 4 groups of 6 exact copies of a variant text
        text = base + f" group{g}" * 3
        for c in range(6):
            rows.append((g * 100 + c, text))
    rows.append((999, "completely different tokens entirely unrelated"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = simhash_neardup_pairs(docs, max_hamming=3).select(
        "doc_a", "doc_b"
    )
    edges = simhash_components_edges(docs, max_hamming=3)
    n_pairs, n_edges = pairs.count(), edges.count()
    assert n_edges < n_pairs, (n_edges, n_pairs)  # contraction really cuts

    def labels(e):
        return {
            r.doc_id: r.component_id
            for r in connected_components(
                e, docs, node_col="doc_id", broadcast=True
            ).collect()
        }

    assert labels(edges) == labels(pairs)


def test_minhash_star_contracted_edges_same_closure(spark):
    """minhash_components_edges (VERDICT r4 item 3) must yield the SAME
    components as the full minhash_lsh_pairs set, with strictly fewer
    edges on a duplicate-heavy corpus — the contraction that fixes the
    39× shuffle growth SCALE_PROBE measured on the pair path."""
    from example_kafkastreams_spark.operators.neardup import (
        minhash_components_edges,
        minhash_lsh_pairs,
    )

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        " lambda mu"
    )
    rows = []
    for g in range(4):  # 4 groups of 6 exact copies of a variant text
        text = base + f" group{g} group{g} group{g}"
        for c in range(6):
            rows.append((g * 100 + c, text))
    rows.append((999, "completely different tokens entirely unrelated"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = minhash_lsh_pairs(docs, threshold=0.5).select("doc_a", "doc_b")
    edges = minhash_components_edges(docs, threshold=0.5)
    n_pairs, n_edges = pairs.count(), edges.count()
    assert n_edges < n_pairs, (n_edges, n_pairs)  # contraction really cuts

    def labels(e):
        return {
            r.doc_id: r.component_id
            for r in connected_components(
                e, docs, node_col="doc_id", broadcast=True
            ).collect()
        }

    assert labels(edges) == labels(pairs)


def test_quantize_embeddings_properties(spark):
    from example_kafkastreams_spark.operators.knn import quantize_embeddings

    emb = spark.createDataFrame(
        [
            (1, [3.0, 4.0]),          # norm 5 -> q = (76, 102)
            (2, [0.0, 0.0]),          # zero vector -> all-zero lanes
            (3, [-1.0, 1.0]),         # negative lane, half-up rounding
        ],
        "vec_id long, embedding array<float>",
    )
    rows = {r.vec_id: r for r in quantize_embeddings(emb).collect()}
    assert rows[1].l2_norm == 5.0
    assert rows[1].qvec == "76,102"  # floor(127*3/5+.5), floor(127*4/5+.5)
    assert rows[2].qvec == "0,0"
    q3 = [int(v) for v in rows[3].qvec.split(",")]
    # quantized norm ~ 127 for a unit-direction vector
    assert abs(math.sqrt(sum(v * v for v in q3)) - 127) < 1.5
    assert rows[3].n_dims == 2


def test_salted_join_salt_is_a_join_key(spark):
    """q37's point is plan shape: the salt must participate in the
    hash-join keys (spreading a hot key over `salts` tasks), not be a
    post-filter."""
    from example_kafkastreams_spark.plans import explain_str
    from example_kafkastreams_spark.queries import QUERIES
    from tests.conftest import SMOKE

    plan = explain_str(QUERIES["q37_salted_join"](spark, SMOKE), "simple")
    join_lines = [
        ln for ln in plan.splitlines()
        if "HashJoin" in ln or "SortMergeJoin" in ln
    ]
    assert any("__salt" in ln for ln in join_lines), join_lines


def _skewed_fixture(spark, n=4000, hot_share=3):
    """(fact, dim): every ``hot_share``-th fact row keyed to the hot
    key -1 (~33% of rows — above 2x the fair share of the test
    session's 8 reduce partitions, so the probe must flag it; a 10%
    key would legitimately NOT be skewed at 8 partitions), the rest
    spread over ~n/4 cold keys; dim = per-key rows."""
    fact = (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            F.when(F.col("id") % hot_share == 0, F.lit(-1))
            .otherwise(F.pmod(F.col("id"), F.lit(n // 4)))
            .alias("user_id"),
        )
    )
    dim = fact.select(F.col("user_id").alias("dim_user_id")).distinct(
    ).withColumn("dim_value", F.col("dim_user_id") * 2)
    return fact, dim


def test_autosalt_detects_hot_key_and_matches_plain_join(spark):
    """salted_equijoin_auto on a skewed fact must (a) detect exactly
    the planted hot key, (b) salt the join — __salt in the join keys —
    and (c) stay row-identical to the plain join."""
    from example_kafkastreams_spark.operators.salted import (
        detect_hot_keys,
        salted_equijoin_auto,
    )
    from example_kafkastreams_spark.plans import explain_str

    fact, dim = _skewed_fixture(spark)
    hot = detect_hot_keys(fact, "user_id", sample_fraction=0.5)
    assert hot == [-1]

    auto = salted_equijoin_auto(
        fact, dim, "user_id", "dim_user_id", salt_source="event_id",
        salts=8, hot_keys=hot,
    )
    plan = explain_str(auto, "simple")
    join_lines = [
        ln for ln in plan.splitlines()
        if "HashJoin" in ln or "SortMergeJoin" in ln
    ]
    assert any("__salt" in ln for ln in join_lines), join_lines

    plain = fact.join(dim, fact.user_id == dim.dim_user_id)
    cols = ["event_id", "user_id", "dim_user_id", "dim_value"]
    assert sorted(map(tuple, auto.select(*cols).collect())) == sorted(
        map(tuple, plain.select(*cols).collect())
    )


def test_autosalt_no_hot_keys_returns_plain_plan(spark):
    """On an unskewed fact the probe must find nothing and the auto
    join must BE the plain join — no __salt anywhere in the plan, so
    the only overhead is the one sampled probe aggregate."""
    from example_kafkastreams_spark.operators.salted import (
        salted_equijoin_auto,
    )
    from example_kafkastreams_spark.plans import explain_str

    fact = spark.range(4000).select(
        F.col("id").alias("event_id"),
        F.pmod(F.col("id"), F.lit(1000)).alias("user_id"),
    )
    dim = fact.select(F.col("user_id").alias("dim_user_id")).distinct()
    auto = salted_equijoin_auto(
        fact, dim, "user_id", "dim_user_id", salt_source="event_id",
        sample_fraction=0.5,
    )
    assert "__salt" not in explain_str(auto, "simple")
    assert auto.count() == 4000


def test_detect_hot_keys_cache_tag_memoizes(spark):
    """cache_tag amortizes the probe: the second call returns the
    SAME list without running a job (we poison the input — a cached
    hit cannot see the poison), and clear_hot_key_cache() re-probes."""
    from example_kafkastreams_spark.operators.salted import (
        _HOT_KEY_CACHE,
        clear_hot_key_cache,
        detect_hot_keys,
    )

    fact, _ = _skewed_fixture(spark)
    clear_hot_key_cache()
    hot = detect_hot_keys(
        fact, "user_id", sample_fraction=0.5, cache_tag="fact"
    )
    assert hot == [-1]
    # the cache key carries the probe parameters too (a later call
    # with different parameters is a different question)
    assert [-1] in _HOT_KEY_CACHE.values()
    assert all(k[0] == "fact" and k[1] == "user_id"
               for k in _HOT_KEY_CACHE)
    # a DIFFERENT frame with no skew: the cached tag must win
    unskewed = spark.range(2000).select(
        F.col("id").alias("event_id"),
        F.pmod(F.col("id"), F.lit(500)).alias("user_id"),
    )
    assert detect_hot_keys(
        unskewed, "user_id", sample_fraction=0.5, cache_tag="fact"
    ) == [-1]
    # same tag, DIFFERENT parameters -> not a cache hit: the unskewed
    # frame re-probes and finds nothing
    assert detect_hot_keys(
        unskewed, "user_id", sample_fraction=0.4, cache_tag="fact"
    ) == []
    # no tag -> fresh probe; cleared cache -> fresh probe
    assert detect_hot_keys(unskewed, "user_id", sample_fraction=0.5) == []
    clear_hot_key_cache()
    assert detect_hot_keys(
        unskewed, "user_id", sample_fraction=0.5, cache_tag="fact"
    ) == []
    clear_hot_key_cache()


def test_autosalt_left_join_cold_dim_rows_not_duplicated(spark):
    """Hot-only salting must leave COLD keys on the single-salt path:
    a left join through the auto operator returns exactly one row per
    fact row (dim replication confined to hot keys), including
    unmatched fact rows carrying NULLs."""
    from example_kafkastreams_spark.operators.salted import (
        salted_equijoin_auto,
    )

    fact, dim = _skewed_fixture(spark)
    dim_missing = dim.filter(F.col("dim_user_id") != 3)  # unmatched key
    out = salted_equijoin_auto(
        fact, dim_missing, "user_id", "dim_user_id",
        salt_source="event_id", how="left", hot_keys=[-1],
    )
    assert out.count() == fact.count()
    unmatched = out.filter(F.col("dim_value").isNull())
    assert unmatched.count() == fact.filter(F.col("user_id") == 3).count()


def test_chunking_is_shuffle_free(spark):
    """Chunking is embarrassingly parallel — the operator's plan must
    contain no shuffle exchange (scan → project → explode → project).
    The q54 driver row's merged branches each add a bounded number of
    keyed stages: the passage-dedup digest groupBy (round 5), the
    substring branch's window-hash aggregation + per-doc span merge,
    the rebuild's span-collect + doc join (round 6), and the shard
    branch's canonical-pack repartition (the ONE doc-keyed exchange
    pack_chunks documents) + per-shard fingerprint aggregation
    (column-pruned to ids/ords — pack text never reaches it)
    (round 8) — plus, round 10, the masks branch's span join (the
    spans window already counted; the join adds its exchange pair) and
    the packmask branch's pack_assignments doc-keyed repartition + the
    masks-assignments join, and (round 11) the lbatch branch's ONE
    bucket-keyed window exchange (the per-batch groupBy reuses the
    window's partitioning, so it adds no exchange of its own), and the
    shard branch's pack-level aggregation of the SHARED persisted
    assignment table (round 11: it replaced the second canonical
    packing pass — the old pass's repartition rode a ReusedExchange,
    the new group-bounded agg has its own pack_id exchange of ids/ords
    only, and the full second Arrow pass + pack-text materialization
    are gone) — fifteen exchanges total, none carrying document text
    except the rebuild join's per-doc span lists and the pack
    repartitions' chunk rows, all structural to their operators."""
    from example_kafkastreams_spark.catalog import load_table
    from example_kafkastreams_spark.operators.text_chunks import (
        chunk_documents,
    )
    from example_kafkastreams_spark.plans import count_exchanges
    from example_kafkastreams_spark.queries import QUERIES
    from tests.conftest import SMOKE

    docs = load_table(spark, SMOKE, "documents")
    assert count_exchanges(chunk_documents(docs)) == 0
    assert count_exchanges(QUERIES["q54_chunk_documents"](spark, SMOKE)) == 15


def test_unnest_stats_single_exchange(spark):
    """q33's explode is map-side; only the 64-row dim aggregation may
    shuffle (partial combine first)."""
    from example_kafkastreams_spark.plans import count_exchanges
    from example_kafkastreams_spark.queries import QUERIES
    from tests.conftest import SMOKE

    assert count_exchanges(QUERIES["q33_unnest_dim_stats"](spark, SMOKE)) <= 1


def test_components_converges_under_iteration_cap(spark):
    # a longer chain exercises multiple propagation rounds
    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n + 1)], "doc_id long")
    comp = connected_components(edges, nodes, node_col="doc_id")
    assert comp.agg(F.countDistinct("component_id")).first()[0] == 1
    assert comp.agg(F.min("component_id"), F.max("component_id")).first() == (0, 0)


def test_merged_row_plan_shapes(spark):
    """Exchange-count pins for the round-5 merged rows: the fused q40
    runs its two branches off ONE digest aggregation (1 exchange +
    the union's explode), q34's strat branch adds exactly the stratum
    window exchange, and q56's three encode branches stay scan-shaped
    (zero exchanges - int8/pq/ivfpq are all map-side; filtering the
    union discriminator prunes the other branches' children, so each
    branch is pinned on its own sub-plan). The round-8 adc branch is
    the one allowed to shuffle: the two-phase top-k's partial/final
    exchange pair and nothing else."""
    from example_kafkastreams_spark.plans import count_exchanges
    from example_kafkastreams_spark.queries import QUERIES
    from tests.conftest import SMOKE

    # q40 gained the round-9 diff_* union children; filtering the
    # literal discriminator prunes to each branch's own sub-plan: the
    # fused dedup pair keeps its single digest-agg exchange, the
    # row-grain diff branches carry the full-outer join's two digest
    # legs (+AQE shuffle read), the count branch adds its global agg
    q40 = QUERIES["q40_dedup_exact_text"](spark, SMOKE)
    for m in ("full", "incr"):
        assert count_exchanges(q40.filter(F.col("mode") == m)) == 1, m
    assert count_exchanges(
        q40.filter(F.col("mode") == "diff_changed")
    ) == 3
    assert count_exchanges(
        q40.filter(F.col("mode") == "diff_unchanged")
    ) == 4
    q34 = QUERIES["q34_hash_sample"](spark, SMOKE)
    assert count_exchanges(q34.filter(F.col("method") == "hash")) == 0
    assert count_exchanges(q34.filter(F.col("method") == "strat")) == 1
    # wsample's one exchange is the broadcast max(o_totalprice) agg —
    # a 1-row-per-partition partial, not a data shuffle
    assert count_exchanges(q34.filter(F.col("method") == "wsample")) == 1
    q56 = QUERIES["q56_quantize_embeddings"](spark, SMOKE)
    for enc_mode in ("int8", "pq", "ivfpq"):
        assert count_exchanges(q56.filter(F.col("mode") == enc_mode)) == 0, (
            enc_mode
        )
    assert count_exchanges(q56.filter(F.col("mode") == "adc")) == 2


def test_round9_branch_plan_shapes(spark):
    """Exchange-count pins for the round-9 branches: q62's branches
    are pure column expressions over the deliberate ONE-exchange
    rebalance (spreading the per-byte regex work off the single scan
    partition — the q48 rationale), and q61's split modes are pure
    scan-fused CASEs with ZERO exchanges (a shuffle appearing in
    either would mean the normalization chain or the split CASE
    stopped being map-side); every q61 branch filter prunes to its
    own children."""
    from example_kafkastreams_spark.plans import count_exchanges
    from example_kafkastreams_spark.queries import BRANCHES, QUERIES
    from tests.conftest import SMOKE

    q62 = QUERIES["q62_pii_scrub"](spark, SMOKE)
    for mode in ("pii", "norm"):
        assert count_exchanges(q62.filter(F.col("mode") == mode)) == 1, mode
    q61 = QUERIES["q61_domain_mixing"](spark, SMOKE)
    for mode in ("split_train", "split_val", "split_test"):
        assert count_exchanges(q61.filter(F.col("mode") == mode)) == 0, mode
    # every q61 child carries a LITERAL tag, so each branch filter folds
    # away: no optimized plan keeps a residual predicate on the tag (a
    # computed tag would keep its child, and that filter, in every other
    # branch's plan)
    disc, modes = BRANCHES["q61_domain_mixing"]
    for mode in modes:
        plan = (
            q61.filter(F.col(disc) == mode)
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        residual = [
            line.strip() for line in plan.splitlines()
            if "Filter" in line and f"= {mode})" in line
        ]
        assert not residual, (mode, residual)


def test_runtime_bloom_filter_prefilters_fact_side(spark):
    """Catalyst's InjectRuntimeFilter at the scale gate's mechanics:
    a selective dim filter on a non-broadcast join grows a
    bloom_filter_agg on the dim side and a might_contain probe on the
    fact side BELOW the join, pre-filtering fact rows before the
    exchange. Size-gated off by default at local scale (the
    application-side threshold is 10 GiB — the 100 TB fact scan is
    the target case); the test lowers the gate to pin the plan shape
    and that the filter is semantics-preserving."""
    from example_kafkastreams_spark.catalog import load_table
    from example_kafkastreams_spark.plans import runtime_bloom_filters
    from tests.conftest import SMOKE

    fact = load_table(spark, SMOKE, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    dim = (
        load_table(spark, SMOKE, "part")
        .filter(F.col("p_type").startswith("PROMO"))
        .select("p_partkey", "p_type")
    )
    join = lambda: fact.join(dim, fact.l_partkey == dim.p_partkey)  # noqa: E731

    conf = spark.conf
    old_app = conf.get(
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold"
    )
    old_bc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # baseline: gate closed at local scale -> no filter injected
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert runtime_bloom_filters(join()) == 0
        baseline = sorted(map(tuple, join().collect()))

        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold",
            "0",
        )
        filtered = join()
        assert runtime_bloom_filters(filtered) == 1
        plan = filtered._jdf.queryExecution().optimizedPlan().toString()
        # the probe sits on the fact side, below the join
        assert "might_contain" in plan and "l_partkey" in (
            plan[plan.index("might_contain"):][:200]
        )
        # semantics-preserving: identical rows with and without it
        assert sorted(map(tuple, filtered.collect())) == baseline
    finally:
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold",
            old_app,
        )
        conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
