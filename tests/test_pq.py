"""Product quantization (knn.pq_*) — encode properties, ADC recall,
zero-shuffle encode plan."""

import math
import random

import pytest
from pyspark.sql import functions as F, types as T

from example_kafkastreams_spark.operators.cache import (
    release_sketch_caches,
)
from example_kafkastreams_spark.operators.knn import (
    brute_force_knn,
    pq_ann,
    pq_codebook,
    pq_encode,
)

SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def _unit(rng, dim=64):
    v = [rng.gauss(0, 1) for _ in range(dim)]
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def _clustered(spark, n_clusters=4, per_cluster=12, eps=0.05):
    """Well-separated clusters: centers are random units, members are
    small jitters — the regime where coarse quantization preserves
    nearest-neighbor structure."""
    rng = random.Random(1234)
    centers = [_unit(rng) for _ in range(n_clusters)]
    rows = []
    vid = 0
    for c in centers:
        for _ in range(per_cluster):
            v = [x + rng.gauss(0, eps) for x in c]
            n = math.sqrt(sum(x * x for x in v))
            rows.append((vid, [x / n for x in v]))
            vid += 1
    return spark.createDataFrame(rows, SCHEMA), per_cluster


def test_codebook_shape_and_encode_range(spark):
    emb, _ = _clustered(spark)
    cb = pq_codebook(emb, m=8, num_codes=16)
    assert len(cb) == 8 and all(len(s) == 16 for s in cb)
    assert all(len(cw) == 8 for s in cb for cw in s)
    codes = pq_encode(emb, cb).collect()
    assert all(len(r.codes) == 8 for r in codes)
    assert all(0 <= c < 16 for r in codes for c in r.codes)


def test_codebook_vector_encodes_to_itself(spark):
    """A vector that IS codeword c in every subspace has d²=0 there —
    argmin must pick it exactly."""
    emb, _ = _clustered(spark)
    cb = pq_codebook(emb, m=8, num_codes=16)
    codes = {
        r.vec_id: list(r.codes)
        for r in pq_encode(emb.filter(F.col("vec_id") < 16), cb).collect()
    }
    for vid in range(16):
        assert codes[vid] == [vid] * 8


def test_encode_partition_independent(spark):
    emb, _ = _clustered(spark)
    cb = pq_codebook(emb, m=8, num_codes=16)
    a = {r.vec_id: list(r.codes) for r in pq_encode(emb, cb).collect()}
    b = {
        r.vec_id: list(r.codes)
        for r in pq_encode(emb.repartition(7), cb).collect()
    }
    assert a == b


def test_encode_is_shuffle_free(spark):
    emb, _ = _clustered(spark)
    cb = pq_codebook(emb, m=8, num_codes=16)
    plan = (
        pq_encode(emb, cb)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_dim_not_divisible_raises(spark):
    emb, _ = _clustered(spark)
    with pytest.raises(ValueError, match="not divisible"):
        pq_codebook(emb, m=7)


def test_adc_recall_on_separated_clusters(spark):
    """ADC top-1 must agree with exact brute force on well-separated
    clusters: the quantization error (~eps²) is far below the
    inter-cluster distance, so the approximate ranking preserves the
    true nearest neighbor's cluster — the standard PQ sanity bound."""
    emb, per_cluster = _clustered(spark)
    queries = 4
    exact = {
        (r.query_id, r.knn_rank): r.neighbor_id
        for r in brute_force_knn(emb, num_queries=queries, k=1).collect()
    }
    approx = {
        (r.query_id, r.knn_rank): r.neighbor_id
        for r in pq_ann(
            emb, num_queries=queries, k=1, m=8, num_codes=16
        ).collect()
    }
    release_sketch_caches()
    same_cluster = sum(
        approx[q] // per_cluster == exact[q] // per_cluster
        for q in exact
    )
    assert same_cluster == len(exact)
    # and the ADC distances are non-negative, rank-ordered
    rows = pq_ann(emb, num_queries=2, k=3).collect()
    release_sketch_caches()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.knn_rank, r.approx_d2))
    for q, rs in by_q.items():
        rs.sort()
        assert all(d >= 0 for _, d in rs)
        assert [d for _, d in rs] == sorted(d for _, d in rs)


def test_adc_matches_python_reconstruction(spark):
    """The SQL lookup-sum equals a pure-Python ADC computation on the
    same codes — pinning the spliced-literal plumbing end to end."""
    emb, _ = _clustered(spark)
    cb = pq_codebook(emb, m=8, num_codes=16)
    enc = {r.vec_id: list(r.codes) for r in pq_encode(emb, cb).collect()}
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0][1]]
    dsub = 8
    got = {
        r.neighbor_id: r.approx_d2
        for r in pq_ann(emb, num_queries=1, k=5, m=8, num_codes=16).collect()
    }
    release_sketch_caches()
    for nid, d2 in got.items():
        expect = sum(
            sum(
                (qv[j * dsub + i] - cb[j][enc[nid][j]][i]) ** 2
                for i in range(dsub)
            )
            for j in range(8)
        )
        assert abs(d2 - round(expect, 6)) < 1e-9


# --- IVF-PQ composition ---------------------------------------------------


def test_ivf_pq_cells_match_python_and_codes_in_range(spark):
    from example_kafkastreams_spark.operators.knn import ivf_pq_ann

    emb, per_cluster = _clustered(spark)
    out = ivf_pq_ann(
        emb, num_queries=4, k=2, num_centroids=8, m=8, num_codes=16,
        nprobe=2,
    ).collect()
    release_sketch_caches()
    assert out, "probed cells produced candidates"
    for r in out:
        assert r.approx_d2 >= 0
        assert 1 <= r.knn_rank <= 2


def test_ivf_pq_recall_on_separated_clusters(spark):
    """With nprobe=2 over well-separated clusters, the IVF-PQ top-1
    lands in the true nearest neighbor's cluster — coarse quantization
    routes to the right cell and residual PQ preserves local order."""
    from example_kafkastreams_spark.operators.knn import ivf_pq_ann

    emb, per_cluster = _clustered(spark)
    queries = 4
    exact = {
        r.query_id: r.neighbor_id
        for r in brute_force_knn(emb, num_queries=queries, k=1).collect()
    }
    approx = {
        r.query_id: r.neighbor_id
        for r in ivf_pq_ann(
            emb, num_queries=queries, k=1, num_centroids=8, m=8,
            num_codes=16, nprobe=2,
        ).collect()
    }
    release_sketch_caches()
    assert set(approx) == set(exact)
    for q in exact:
        assert approx[q] // per_cluster == exact[q] // per_cluster


def test_ivf_pq_partition_independent(spark):
    from example_kafkastreams_spark.operators.knn import ivf_pq_ann

    emb, _ = _clustered(spark)
    a = sorted(
        map(tuple, ivf_pq_ann(emb, num_queries=2, k=3).collect())
    )
    release_sketch_caches()
    b = sorted(
        map(
            tuple,
            ivf_pq_ann(emb.repartition(7), num_queries=2, k=3).collect(),
        )
    )
    release_sketch_caches()
    assert a == b


# --- multi-probe LSH ------------------------------------------------------


def test_lsh_multiprobe_recall_superset(spark):
    """nprobe>1 probes the query bucket plus Hamming-1 neighbors: the
    candidate set is a superset of single-probe, so each query's
    top-k cosine at nprobe=5 is >= its single-probe top-k cosine, and
    at full probe width the misses that single-probe drops reappear."""
    import pytest
    from example_kafkastreams_spark.operators.knn import lsh_ann

    emb, _ = _clustered(spark)
    single = lsh_ann(emb, num_queries=4, k=3, nprobe=1).collect()
    release_sketch_caches()
    multi = lsh_ann(emb, num_queries=4, k=3, nprobe=5).collect()
    release_sketch_caches()

    def best(rows):
        out = {}
        for r in rows:
            if r.knn_rank == 1:
                out[r.query_id] = r.cosine
        return out

    s, m = best(single), best(multi)
    assert set(m) >= set(s)  # multi-probe never loses a query
    for q in s:
        assert m[q] >= s[q]
    # candidate counts grow (or stay equal) per query
    from collections import Counter

    cs, cm = Counter(r.query_id for r in single), Counter(
        r.query_id for r in multi
    )
    assert all(cm[q] >= cs[q] for q in cs)
    with pytest.raises(ValueError, match="nprobe"):
        lsh_ann(emb, nprobe=99)


def test_lsh_multiprobe_no_duplicate_candidates(spark):
    """Probed buckets are distinct per query, so (query, neighbor)
    pairs are unique before ranking."""
    from example_kafkastreams_spark.operators.knn import lsh_ann

    emb, _ = _clustered(spark)
    rows = lsh_ann(emb, num_queries=3, k=50, nprobe=5).collect()
    release_sketch_caches()
    pairs = [(r.query_id, r.neighbor_id) for r in rows]
    assert len(pairs) == len(set(pairs))


def test_adc_plan_constant_in_query_count(spark):
    """The serving-path contract: ADC scoring is ONE broadcast join —
    the number of queries (and probed cells) changes broadcast ROWS,
    never plan BRANCHES. The former shape unioned one sub-plan per
    query (per probed cell for IVF-PQ), which is driver-side plan
    explosion at realistic batch sizes; pin the rewrite by comparing
    physical plans at two query counts."""
    from example_kafkastreams_spark.operators.knn import ivf_pq_ann

    emb, _ = _clustered(spark, n_clusters=4, per_cluster=16)

    def shape(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        # pq: BroadcastNestedLoopJoin (every query scores every code
        # row); ivfpq: BroadcastHashJoin on cell — both broadcast the
        # query side
        return (
            plan.count("Union"),
            plan.count("BroadcastHashJoin")
            + plan.count("BroadcastNestedLoopJoin"),
            plan.count("Scan "),
        )

    for fn in (
        lambda nq: pq_ann(emb, num_queries=nq, k=3),
        lambda nq: ivf_pq_ann(emb, num_queries=nq, k=3, nprobe=2),
    ):
        small, big = shape(fn(2)), shape(fn(8))
        release_sketch_caches()
        assert small == big, (small, big)
        unions, joins, _ = big
        assert unions == 0
        assert joins >= 1
