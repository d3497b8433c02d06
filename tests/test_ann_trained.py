"""Sampled-training + exact-refine ANN (knn.sample_vectors /
kmeans_train_local / pq_codebook_local / the Arrow encoder /
exact_rerank / ann_index.ann_build + knn.ann_serve) — the
serving-grade recipe VERDICT r6/r7 item 1 asked for.

Conventions under test: the Arrow encoder is row-identical to the
spliced-expression encoder on the same parameters, ties included;
refine over a full shortlist IS brute force; sampled training is
deterministic and bounded; string-id corpora survive the ADC path
(ADVICE r7)."""

import math
import random

import numpy as np
import pytest
from pyspark.sql import functions as F, types as T

from example_kafkastreams_spark.operators.ann_index import ann_build
from example_kafkastreams_spark.operators.cache import (
    release_sketch_caches,
)
from example_kafkastreams_spark.operators.knn import (
    _encode_arrow,
    _encode_sql,
    ann_encode,
    ann_serve,
    brute_force_knn,
    exact_rerank,
    kmeans_train_local,
    pq_adc_score,
    pq_codebook,
    pq_codebook_local,
    pq_encode,
    sample_vectors,
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


def test_sample_vectors_bounded_and_deterministic(spark):
    emb, _ = _clustered(spark)
    a = sample_vectors(emb, n=10)
    b = sample_vectors(emb.repartition(7), n=10)
    assert a.shape == (10, 64)
    assert np.array_equal(a, b)
    full = sample_vectors(emb, n=10_000)
    assert full.shape[0] == emb.count()


def test_kmeans_local_deterministic_and_improves(spark):
    emb, _ = _clustered(spark, n_clusters=4)
    X = sample_vectors(emb, n=1000)
    c1 = kmeans_train_local(X, 4, iterations=8)
    c2 = kmeans_train_local(X, 4, iterations=8)
    assert c1 == c2

    def inertia(C):
        C = np.asarray(C)
        return float(
            ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).min(1).sum()
        )

    assert inertia(c1) <= inertia(X[:4].tolist())
    with pytest.raises(ValueError, match="cannot seed"):
        kmeans_train_local(X[:3], 4)


def test_pq_codebook_local_shapes(spark):
    emb, _ = _clustered(spark)
    X = sample_vectors(emb, n=1000)
    cb = pq_codebook_local(X, m=16, num_codes=32, iterations=3)
    assert len(cb) == 16
    assert all(len(s) == 32 for s in cb)
    assert all(len(cw) == 4 for s in cb for cw in s)
    with pytest.raises(ValueError, match="not divisible"):
        pq_codebook_local(X, m=7)


def test_vectorized_encode_matches_expression(spark):
    """The Arrow encoder must produce the SAME codes as the
    spliced-expression encoder on the same codebook — same direct
    (x−c)² fold, same first-min tie pick."""
    emb, _ = _clustered(spark)
    cb = pq_codebook(emb, m=8, num_codes=16)
    a = {r.vec_id: list(r.codes) for r in pq_encode(emb, cb).collect()}
    b = {
        r.vec_id: list(r.codes)
        for r in _encode_arrow(
            emb, None, cb, "vec_id", "embedding"
        ).collect()
    }
    assert a == b


def test_vectorized_encode_shuffle_free(spark):
    emb, _ = _clustered(spark)
    cb = pq_codebook(emb, m=8, num_codes=16)
    plan = (
        _encode_arrow(emb, None, cb, "vec_id", "embedding")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_arrow_and_expression_encoders_agree_on_ties(spark):
    """The two encoders compute the same folds, so they agree by
    construction — not because the data happens to hold no ties.
    Every vector here ties EXACTLY (in real arithmetic) between two
    cells and, per subspace, between two codewords: each second
    centroid/codeword is its partner reversed and every (sub)vector is
    a palindrome, so the two distances sum the same terms in opposite
    orders and only the rounding of the fold decides the pick. A BLAS
    dot or a pairwise ``sum`` rounds differently from the SQL left
    fold and flips a share of them."""
    rng = np.random.default_rng(20)
    dim, m, n = 64, 8, 400
    dsub = dim // m

    def pal(size):
        half = rng.normal(size=size // 2)
        return np.concatenate([half, half[::-1]])

    c0 = rng.normal(size=dim)
    cents = [list(map(float, c0)), list(map(float, c0[::-1]))]
    words = [rng.normal(size=(8, dsub)) for _ in range(m)]
    cb = [
        [list(map(float, w)) for w in ws]
        + [list(map(float, w[::-1])) for w in ws]
        for ws in words
    ]
    def vec():  # a palindrome made of palindromic subvectors
        half = [pal(dsub) for _ in range(m // 2)]
        return np.concatenate(half + half[::-1])

    rows = [(i, [float(x) for x in vec()]) for i in range(n)]
    # float32 storage, like the corpus; palindromes survive the cast
    emb = spark.createDataFrame(rows, SCHEMA)

    def by_id(df, cols):
        return {r.vec_id: tuple(
            list(r[c]) if c == "codes" else r[c] for c in cols
        ) for r in df.collect()}

    for cs, cols in ((None, ("codes",)), (cents, ("cell", "codes"))):
        sql = by_id(_encode_sql(emb, cs, cb, "vec_id", "embedding"), cols)
        arrow = by_id(
            _encode_arrow(emb, cs, cb, "vec_id", "embedding"), cols
        )
        assert len(sql) == n
        diff = sorted(i for i in sql if sql[i] != arrow[i])
        assert not diff, (cols, len(diff), diff[:5])


def test_ivf_pq_encode_local_contract(spark):
    emb, _ = _clustered(spark, n_clusters=4)
    X = sample_vectors(emb, n=1000)
    cents = kmeans_train_local(X, 4, metric="cosine")
    cb = pq_codebook_local(X, m=8, num_codes=16, iterations=3)
    enc = _encode_arrow(emb, cents, cb, "vec_id", "embedding")
    rows = enc.collect()
    assert enc.columns == ["vec_id", "cell", "codes"]
    assert all(0 <= r.cell < 4 for r in rows)
    assert all(len(r.codes) == 8 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r.codes)
    # partition independent
    again = {
        r.vec_id: (r.cell, list(r.codes))
        for r in _encode_arrow(
            emb.repartition(5), cents, cb, "vec_id", "embedding"
        ).collect()
    }
    assert again == {r.vec_id: (r.cell, list(r.codes)) for r in rows}


def test_exact_rerank_full_shortlist_is_brute_force(spark):
    """With every candidate in the shortlist, refine IS brute force —
    identical rows (same cosine fold, same rounding, same tie-break)."""
    emb, _ = _clustered(spark)
    qrows = (
        emb.filter(F.col("vec_id") < 4)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    shortlist = spark.createDataFrame(
        [
            (q.vec_id, i)
            for q in qrows
            for i in ids
            if i != q.vec_id
        ],
        "query_id long, neighbor_id long",
    )
    got = {
        (r.query_id, r.knn_rank): (r.neighbor_id, r.cosine)
        for r in exact_rerank(shortlist, emb, qrows, k=5).collect()
    }
    want = {
        (r.query_id, r.knn_rank): (r.neighbor_id, r.cosine)
        for r in brute_force_knn(emb, num_queries=4, k=5).collect()
    }
    assert got == want


def test_trained_pq_recall_exact_on_clusters(spark):
    """Trained codebooks + refine on well-separated clusters recover
    the exact top-k — the shortlist (refine=20 on a 48-vector corpus)
    safely contains the true neighbors and the re-rank is exact."""
    emb, _ = _clustered(spark)
    meta, enc = ann_build(
        emb, {"kind": "pq", "m": 8, "num_codes": 16}, iterations=4
    )
    got = {
        (r.query_id, r.knn_rank): r.neighbor_id
        for r in ann_serve(
            meta, enc, emb.filter(F.col("vec_id") < 4), 3, refine=20
        ).collect()
    }
    release_sketch_caches()
    want = {
        (r.query_id, r.knn_rank): r.neighbor_id
        for r in brute_force_knn(emb, num_queries=4, k=3).collect()
    }
    assert got == want


def test_trained_ivfpq_recall_exact_on_clusters(spark):
    emb, _ = _clustered(spark)
    meta, enc = ann_build(
        emb,
        {"kind": "ivfpq", "num_centroids": 4, "m": 8, "num_codes": 16},
        iterations=4,
    )
    got = {
        (r.query_id, r.knn_rank): r.neighbor_id
        for r in ann_serve(
            meta, enc, emb.filter(F.col("vec_id") < 4), 3, nprobe=4,
            refine=20,
        ).collect()
    }
    release_sketch_caches()
    want = {
        (r.query_id, r.knn_rank): r.neighbor_id
        for r in brute_force_knn(emb, num_queries=4, k=3).collect()
    }
    assert got == want


def test_fused_serve_bitwise_equals_two_pass(spark):
    """The single-job fused serve (raw vectors carried through the ADC
    shortlist, refine in place) must be BIT-identical to the two-pass
    shape (adc_score → exact_rerank's broadcast + second corpus scan)
    for both PQ and IVF-PQ — same survivor set under the same total
    order, same IEEE cosine fold, same rounding and tie-break."""
    from example_kafkastreams_spark.operators.knn import ivfpq_adc_score

    emb, _ = _clustered(spark)
    qrows = (
        emb.filter(F.col("vec_id") < 4)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    rk = lambda df: sorted(
        (r.query_id, r.neighbor_id, r.cosine, r.knn_rank)
        for r in df.collect()
    )
    meta, enc = ann_build(
        emb, {"kind": "pq", "m": 8, "num_codes": 16}, iterations=4
    )
    cb = meta["codebook"]
    two_pass = rk(
        exact_rerank(
            pq_adc_score(ann_encode(emb, meta), cb, qrows, 20),
            emb, qrows, 3,
        )
    )
    fused = rk(ann_serve(meta, enc, qrows, 3, refine=20))
    release_sketch_caches()
    assert fused == two_pass

    meta2, enc2 = ann_build(
        emb,
        {"kind": "ivfpq", "num_centroids": 4, "m": 8, "num_codes": 16},
        iterations=4,
    )
    cents, cb2 = meta2["centroids"], meta2["codebook"]
    two_pass2 = rk(
        exact_rerank(
            ivfpq_adc_score(ann_encode(emb, meta2), cents, cb2, qrows, 20, 4),
            emb, qrows, 3,
        )
    )
    fused2 = rk(ann_serve(meta2, enc2, qrows, 3, nprobe=4, refine=20))
    release_sketch_caches()
    assert fused2 == two_pass2


def test_adc_score_string_ids(spark):
    """ADVICE r7: the broadcast LUT frame types query_id off the
    corpus id column — a string-id index must work end to end."""
    emb, _ = _clustered(spark)
    s_emb = emb.select(
        F.concat(F.lit("doc-"), F.col("vec_id")).alias("vec_id"),
        "embedding",
    )
    cb = pq_codebook(emb, m=8, num_codes=16)
    enc = pq_encode(s_emb, cb)
    qrows = (
        s_emb.filter(F.col("vec_id").isin("doc-0", "doc-1"))
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    rows = pq_adc_score(enc, cb, qrows, k=3).collect()
    assert {r.query_id for r in rows} == {"doc-0", "doc-1"}
    assert all(isinstance(r.neighbor_id, str) for r in rows)
    assert all(r.query_id != r.neighbor_id for r in rows)


def test_query_lut_np_bitwise_equals_reference():
    """The vectorized LUT builder must reproduce _query_lut's exact
    IEEE doubles — elementwise numpy ops with a manual left-to-right
    dsub accumulation are the same fold — or ADC scores would drift
    between the fresh path and the serve path."""
    from example_kafkastreams_spark.operators.knn import (
        _query_lut,
        _query_lut_np,
    )

    rng = np.random.default_rng(7)
    for m, codes, dsub in ((8, 16, 8), (16, 256, 4), (4, 48, 3)):
        cb = [
            [list(map(float, rng.normal(size=dsub))) for _ in range(codes)]
            for _ in range(m)
        ]
        cb_np = [np.asarray(sub, dtype=np.float64) for sub in cb]
        for _ in range(5):
            qv = list(map(float, rng.normal(size=m * dsub) * 10))
            assert _query_lut(qv, cb) == _query_lut_np(qv, cb_np)


def test_query_luts_np_batch_bitwise_equals_reference():
    """The BATCHED LUT builder (one tensor op for every probe pair)
    must reproduce _query_lut row-for-row — the IVF-PQ serve builds
    |queries|*nprobe LUTs through it, and any fold-order drift would
    change ADC scores between the batched and scalar paths."""
    from example_kafkastreams_spark.operators.knn import (
        _query_lut,
        _query_luts_np_batch,
    )

    rng = np.random.default_rng(11)
    for m, codes, dsub in ((8, 16, 8), (16, 256, 4)):
        cb = [
            [list(map(float, rng.normal(size=dsub))) for _ in range(codes)]
            for _ in range(m)
        ]
        cb_np = [np.asarray(sub, dtype=np.float64) for sub in cb]
        qvs = [
            list(map(float, rng.normal(size=m * dsub) * 10))
            for _ in range(7)
        ]
        batch = _query_luts_np_batch(
            np.asarray(qvs, dtype=np.float64), cb_np
        )
        for i, qv in enumerate(qvs):
            assert [list(sub) for sub in batch[i]] == _query_lut(qv, cb)


def test_lut_probes_frame_arrow_equals_row_path(spark):
    """The zero-copy Arrow probes frame must hold the same bits as the
    from_pylist row path — same schema, same rows, same doubles."""
    from pyspark.sql import types as T

    from example_kafkastreams_spark.operators.knn import (
        _lut_probes_frame,
        _probes_frame,
    )

    rng = np.random.default_rng(3)
    luts = rng.normal(size=(5, 4, 8)).astype(np.float64)
    metas = [(i, f"q-{i}") for i in range(5)]
    fast = _lut_probes_frame(
        spark,
        metas,
        luts,
        [("cell", T.IntegerType()), ("query_id", T.StringType())],
    )
    schema = T.StructType(
        [
            T.StructField("cell", T.IntegerType()),
            T.StructField("query_id", T.StringType()),
            T.StructField(
                "__lut", T.ArrayType(T.ArrayType(T.DoubleType()))
            ),
        ]
    )
    rows = [
        (*meta, [list(sub) for sub in lut])
        for meta, lut in zip(metas, luts)
    ]
    slow = _probes_frame(spark, rows, schema)
    assert [f.name for f in fast.schema.fields] == [
        "cell", "query_id", "__lut",
    ]
    got = sorted(fast.collect(), key=lambda r: r.cell)
    want = sorted(slow.collect(), key=lambda r: r.cell)
    assert got == want


def test_py_cosine_matrix_bitwise_equals_scalar():
    """The batched cosine must reproduce _py_cosine's exact doubles
    cell-for-cell — serve-time Python cell picks must keep matching
    SQL-assigned cells bit-for-bit."""
    from example_kafkastreams_spark.operators.knn import (
        _py_cosine,
        _py_cosine_matrix,
        _ranked_cells,
    )

    rng = np.random.default_rng(5)
    Q = rng.normal(size=(9, 16)) * 3
    C = rng.normal(size=(7, 16))
    got = _py_cosine_matrix(Q, C)
    for qi in range(Q.shape[0]):
        for ci in range(C.shape[0]):
            assert got[qi, ci] == _py_cosine(
                list(map(float, Q[qi])), list(map(float, C[ci]))
            )
    # ranked picks reproduce the scalar sort including tie order
    qvs = [list(map(float, q)) for q in Q]
    cents = [list(map(float, c)) for c in C]
    want = [
        sorted(
            range(len(cents)),
            key=lambda ci: (-_py_cosine(qv, cents[ci]), ci),
        )[:3]
        for qv in qvs
    ]
    assert _ranked_cells(qvs, cents, 3) == want


# --- exact-reproducible trainer (kmeans_train_exact) ------------------------

def test_kmeans_exact_matches_duckdb_bitwise(spark):
    """The whole point of the exact trainer: the unrolled DuckDB CTE
    chain re-derives the centroids BITWISE from the same parquet."""
    import duckdb

    from example_kafkastreams_spark.catalog import load_table
    from example_kafkastreams_spark.operators.knn import (
        kmeans_exact_cent_ctes,
        kmeans_train_exact,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    cents = kmeans_train_exact(emb, k=4, iterations=3, sample_n=64)
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW embeddings AS"
            f" SELECT * FROM '{sf}/embeddings.parquet'"
        )
        rows = con.execute(
            "WITH " + kmeans_exact_cent_ctes(4, 3, 64, 64)
            + " SELECT cv FROM kmcent ORDER BY cid"
        ).fetchall()
    finally:
        con.close()
    assert [list(r[0]) for r in rows] == cents


def test_kmeans_exact_empty_cell_keeps_previous(spark):
    """A seed centroid that captures no members must survive the
    update unchanged (both engines COALESCE back to it)."""
    import duckdb
    import pandas as pd

    from example_kafkastreams_spark.operators.knn import (
        kmeans_exact_cent_ctes,
        kmeans_train_exact,
    )

    # seeds 0 and 1 nearly opposite; every later vector hugs seed 0's
    # direction, so seed 1's cell empties after the first update
    vecs = [[1.0, 0.05], [-1.0, 0.02]] + [
        [1.0 + 0.01 * i, 0.03] for i in range(10)
    ]
    pdf = pd.DataFrame(
        {"vec_id": range(len(vecs)), "embedding": vecs}
    )
    emb = spark.createDataFrame(pdf)
    cents = kmeans_train_exact(emb, k=2, iterations=3, sample_n=99)
    con = duckdb.connect()
    try:
        con.register("embeddings", pdf)
        rows = con.execute(
            "WITH " + kmeans_exact_cent_ctes(2, 3, 2, 99)
            + " SELECT cv FROM kmcent ORDER BY cid"
        ).fetchall()
    finally:
        con.close()
    assert [list(r[0]) for r in rows] == cents
    # the emptied cell retains the raw seed vector
    assert cents[1] == [-1.0, 0.02]


def test_kmeans_exact_improves_inertia_over_seed(spark):
    """Training moves centroids somewhere useful: mean best-cosine
    over the sample must not decrease vs the raw first-k seeds."""
    from example_kafkastreams_spark.catalog import load_table
    from example_kafkastreams_spark.operators.knn import (
        _py_cosine,
        kmeans_train_exact,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    rows = (
        emb.filter("vec_id < 64").orderBy("vec_id")
        .select("embedding").collect()
    )
    X = [[float(x) for x in r[0]] for r in rows]
    seeds = [list(x) for x in X[:4]]
    trained = kmeans_train_exact(emb, k=4, iterations=3, sample_n=64)

    def mean_best(cents):
        return sum(
            max(_py_cosine(x, c) for c in cents) for x in X
        ) / len(X)

    assert mean_best(trained) >= mean_best(seeds) - 1e-12


def test_kmeans_exact_rejects_zero_norm(spark):
    import pandas as pd
    import pytest as _pytest

    from example_kafkastreams_spark.operators.knn import kmeans_train_exact

    pdf = pd.DataFrame(
        {"vec_id": [0, 1, 2], "embedding": [[1.0, 0.0], [0.0, 0.0], [0.5, 1.0]]}
    )
    emb = spark.createDataFrame(pdf)
    with _pytest.raises(ValueError, match="zero-norm"):
        kmeans_train_exact(emb, k=2, iterations=1, sample_n=99)


def test_pq_codebook_exact_matches_duckdb_bitwise(spark):
    """Per-subspace L2 trainer == the per-subspace unrolled CTE chains
    bitwise (the q56 pq_tr invariant)."""
    import duckdb

    from example_kafkastreams_spark.catalog import load_table
    from example_kafkastreams_spark.operators.knn import (
        kmeans_exact_cent_ctes,
        pq_codebook_exact,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    cb = pq_codebook_exact(emb, m=4, num_codes=3, iterations=2, sample_n=48)
    chains = ",\n".join(
        kmeans_exact_cent_ctes(
            3, 2, 16, 48, metric="l2",
            slice_at=(j * 16 + 1, 16), prefix=f"tkb{j}",
        )
        for j in range(4)
    )
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW embeddings AS"
            f" SELECT * FROM '{sf}/embeddings.parquet'"
        )
        for j in range(4):
            rows = con.execute(
                "WITH " + chains
                + f" SELECT cv FROM tkb{j}cent ORDER BY cid"
            ).fetchall()
            assert [list(r[0]) for r in rows] == cb[j], f"subspace {j}"
    finally:
        con.close()


def test_pq_codebook_exact_drops_quantization_error(spark):
    """Trained codewords must not quantize worse than the raw first-k
    sample codebook on the training sample."""
    from example_kafkastreams_spark.catalog import load_table
    from example_kafkastreams_spark.operators.knn import (
        _py_l2sq,
        pq_codebook,
        pq_codebook_exact,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    sample = [
        [float(x) for x in r[0]]
        for r in emb.filter("vec_id < 64").orderBy("vec_id")
        .select("embedding").collect()
    ]
    trained = pq_codebook_exact(emb, m=8, num_codes=4, iterations=3,
                                sample_n=64)
    raw = pq_codebook(emb, m=8, num_codes=4)

    def total_err(cb):
        err = 0.0
        dsub = len(cb[0][0])
        for x in sample:
            for j in range(len(cb)):
                s = x[j * dsub:(j + 1) * dsub]
                err += min(_py_l2sq(s, cw) for cw in cb[j])
        return err

    assert total_err(trained) <= total_err(raw) + 1e-9


def test_kmeans_exact_rejects_noncontiguous_ids(spark):
    """The SQL twin seeds WHERE id < k; a sparse/offset id space would
    silently train different centroids, so the trainer must refuse it
    (ADVICE r10)."""
    from example_kafkastreams_spark.operators.knn import (
        kmeans_train_exact,
        pq_codebook_exact,
    )

    rows = [(i * 2, [float(i), 1.0]) for i in range(8)]  # ids 0,2,4,…
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="contiguous"):
        kmeans_train_exact(emb, k=2, iterations=1, sample_n=8)
    with pytest.raises(ValueError, match="contiguous"):
        pq_codebook_exact(emb, m=2, num_codes=2, iterations=1, sample_n=8)


def test_kmeans_exact_core_rejects_zero_norm_centroid():
    """A centroid that degenerates to the zero vector makes cosine NaN
    and the two engines' NaN orderings diverge — the core must raise
    instead (ADVICE r10). Two opposite vectors in one cell mean to
    zero."""
    from example_kafkastreams_spark.operators.knn import _kmeans_exact_core

    X = [[1.0, 0.0], [-1.0, 0.0], [0.0, 1.0]]
    # k=2 seeds at X[0], X[1]; cosine assigns x2 to cell 0 or 1 and the
    # opposite pair collapses: force the degenerate cell by seeding so
    # both antipodal rows land together
    with pytest.raises(ValueError, match="zero norm"):
        _kmeans_exact_core([[1.0, 0.0], [-1.0, 0.0]], 1, 1, "cosine")
