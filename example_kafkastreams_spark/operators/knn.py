"""Similarity search over an embedding column (array<float>).

North-star extension (SURVEY.md §2.9): approximate-nearest-neighbor
over `embeddings.embedding` (64-dim float vectors).

Three layers, mirroring what a 100 TB pipeline runs:

- Exact search. ``brute_force_knn`` is exact cosine top-k: the QUERY
  set is the small side and is broadcast; the corpus streams through
  scan→(broadcast nested loop)→partial top-k, so the only exchange is
  the final per-query k-row aggregation. ``matryoshka_knn`` and
  ``pca_knn`` shortlist in a cheaper space and refine exactly.
- Oracle-checked ANN operators. ``lsh_ann`` (sign-random-projection
  buckets), ``ivf_ann``, ``pq_ann`` / ``ivf_pq_ann`` and the IVF-Flat
  pair ``ivf_flat_encode`` / ``ivfflat_score`` build their quantizers
  from deterministic samples or the ``*_exact`` trainers, whose
  literals splice into both the Spark plan and the DuckDB oracle, so
  "random" and "trained" are reproducible across engines.
- The serving index path. An index is its parameters (the
  ``meta.json`` dict of ``operators.ann_index``) plus an encoded frame.
  ``ann_encode`` is the one place an encoder is picked from those
  parameters and ``ann_serve`` the one place a scorer is; the
  in-session build, the persistent artifact and the streaming append
  sink (``operators.ann_index``) all go through them. Serving-grade
  parameters come from a bounded driver-side sample
  (``sample_vectors``, ``kmeans_train_local``, ``pq_codebook_local``).

All vector math is double-precision left folds from
``functions.portable`` — bitwise identical in Spark and DuckDB, so
ranking (and therefore top-k membership) matches exactly with ties
broken on vec_id. The numpy kernels (``_cosine_cells``,
``_pq_argmin``) accumulate in the same order, so an Arrow encode
assigns the same cells and codes as the SQL expressions.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window as W, functions as F
from .cache import persist_tracked
from .neardup import _rebalance

from ..functions import portable as P

ANN_SEED = 42


def hyperplanes(num_planes: int = 4, dim: int = 64, seed: int = ANN_SEED) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes, rounded so the SQL literals
    round-trip exactly through both engines' float parsers."""
    rs = np.random.RandomState(seed)
    return [
        [round(float(v), 6) for v in row]
        for row in rs.standard_normal((num_planes, dim))
    ]


def _pair_cosine_expr(a: str, b: str, n2a: str, n2b: str) -> str:
    """Per-pair cosine with PRE-COMPUTED squared norms.

    ``P.cosine`` folds three dot products per pair; in a bucket
    self-join each vector's self-dot is re-evaluated once per partner.
    Computing ``n2 = dot(v, v)`` once per vector on the bucket frame
    and splicing it here leaves ONE fold per pair — and the value is
    bit-identical, because ``dot(a,b) / sqrt(n2a * n2b)`` is the exact
    IEEE op sequence ``P.cosine`` produces (sqrt of the product, not a
    product of sqrts)."""
    return P.round_dbl(
        f"({P.dot(a, b, P.SPARK)}) / sqrt({n2a} * {n2b})", 6, P.SPARK
    )


def _two_phase_topk(
    scored: DataFrame,
    partition_key: str,
    order_cols: list,
    k: int,
    rank_name: str = "knn_rank",
) -> DataFrame:
    """Distributed top-k without the per-key funnel.

    A single ``row_number() OVER (PARTITION BY query)`` shuffles the
    ENTIRE scored set into |queries| partitions and sorts each in one
    task — fine at sf0.1, a scale-killer at 100× (VERDICT r1). Instead:
    rank locally per (input partition, key) and keep k — each local
    top-k is a superset of that partition's contribution to the global
    top-k because both phases use the same total order — then rank the
    ≤ |partitions|·k survivors globally. The final window's input is
    tiny, so no single task ever sorts the corpus. Results are
    bit-identical to the one-window form.
    """
    pre = W.partitionBy("__pid", partition_key).orderBy(*order_cols)
    fin = W.partitionBy(partition_key).orderBy(*order_cols)
    return (
        scored.withColumn("__pid", F.spark_partition_id())
        .withColumn("__lrank", F.row_number().over(pre))
        .filter(F.col("__lrank") <= k)
        .drop("__pid", "__lrank")
        .withColumn(rank_name, F.row_number().over(fin))
        .filter(F.col(rank_name) <= k)
    )


def brute_force_knn(
    emb: DataFrame,
    num_queries: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for query vectors (id < num_queries).

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k, ordered
    by raw double cosine desc with neighbor_id tiebreak.
    """
    q = emb.filter(F.col(id_col) < num_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    # materialize the cosine ONCE per pair: both rank phases and the
    # final projection reuse the column instead of re-running the
    # 3-fold vector expression per reference
    scored = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).withColumn("__cos", F.expr(P.cosine("qv", "cv", P.SPARK)))
    return _two_phase_topk(
        scored,
        "query_id",
        [F.col("__cos").desc(), F.col("neighbor_id")],
        k,
    ).select(
        "query_id",
        "neighbor_id",
        F.expr(P.round_dbl("__cos", 6, P.SPARK)).alias("cosine"),
        "knn_rank",
    )


def matryoshka_knn(
    emb: DataFrame,
    num_queries: int = 8,
    k: int = 5,
    prefix_dim: int = 16,
    shortlist: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka two-phase search (Kusupati et al. 2022 adaptive
    retrieval): shortlist candidates by cosine over the FIRST
    ``prefix_dim`` components (MRL-trained embeddings front-load
    information, so the truncated prefix is itself a valid embedding),
    then exact full-dimension refine on the shortlist only.

    Scale shape: the shortlist pass folds ``prefix_dim``/d of the
    flops of brute force over the same broadcast-join plan — and with
    the corpus stored prefix-first (a ``prefix`` column or parquet
    column split), the scan itself reads d/``prefix_dim``× fewer
    vector bytes; the refine pass touches only queries×shortlist full
    vectors. Same two-phase discipline as the PQ/ADC refine — cheap
    scorer everywhere, exact scorer on a candidate set.

    Output: (query_id, neighbor_id, cosine, knn_rank) — the FULL-dim
    cosine, rank 1..k with the house neighbor_id tiebreak.
    """
    q = emb.filter(F.col(id_col) < num_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    pq_ = P.slice_("qv", "1", prefix_dim, P.SPARK)
    pc_ = P.slice_("cv", "1", prefix_dim, P.SPARK)
    scored = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).withColumn("__pcos", F.expr(P.cosine(pq_, pc_, P.SPARK)))
    short = _two_phase_topk(
        scored,
        "query_id",
        [F.col("__pcos").desc(), F.col("neighbor_id")],
        shortlist,
        rank_name="__srank",
    ).drop("__srank", "__pcos")
    # refine input is queries×shortlist — one small window suffices
    fin = W.partitionBy("query_id").orderBy(
        F.col("__cos").desc(), F.col("neighbor_id")
    )
    return (
        short.withColumn("__cos", F.expr(P.cosine("qv", "cv", P.SPARK)))
        .withColumn("knn_rank", F.row_number().over(fin))
        .filter(F.col("knn_rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.expr(P.round_dbl("__cos", 6, P.SPARK)).alias("cosine"),
            "knn_rank",
        )
    )


def pca_train(
    emb: DataFrame,
    out_dim: int = 16,
    sample_n: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[float], list[list[float]]]:
    """Sampled PCA basis — the dimensionality-reduction twin of the
    sampled-trainer convention (``kmeans_train_local``; tokenizers,
    codebooks, and projection bases are trained on a bounded sample
    and SHIPPED; the collect here is ≤ ``sample_n`` rows by
    construction). Returns (mean, components) — ``out_dim`` unit
    eigenvectors of the sample covariance, variance-descending, each
    sign-fixed so its largest-|coordinate| is positive (the eigensolver's
    sign freedom would otherwise make the basis run-dependent).

    The basis is bitwise reproducible on any hardware, so a shipped
    basis can be re-derived exactly: the mean and scatter entries are
    ``math.fsum`` sums (correctly rounded) and the eigensolver is
    ``_jacobi_eigh``, built from element-wise IEEE operations only. A
    LAPACK SVD goes through BLAS kernels picked per CPU, whose
    summation order, and so whose last bits, differ between machines.

    Use as the OPQ-lite front for ANN: project (map-side literal
    expressions, zero shuffle), search in the reduced space, refine
    full-dim — ``pca_knn`` composes exactly that.
    """
    rows = (
        emb.filter(F.col(id_col) < sample_n)
        .orderBy(id_col)
        .select(vec_col)
        .collect()
    )
    if len(rows) < 2:
        raise ValueError("pca_train needs >= 2 sample vectors")
    x = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
    n, d = x.shape
    mean = np.array([math.fsum(col) / n for col in x.T])
    xc = (x - mean).T
    scatter = np.empty((d, d))
    for i in range(d):
        for j in range(i, d):
            scatter[i, j] = scatter[j, i] = math.fsum(xc[i] * xc[j])
    evals, evecs = _jacobi_eigh(scatter)
    order = sorted(range(d), key=lambda i: (-evals[i], i))[:out_dim]
    comps = []
    for i in order:
        c = evecs[i]
        # sign convention: flip so each component's largest-|.| coord > 0
        if c[int(np.abs(c).argmax())] < 0:
            c = -c
        comps.append([float(v) for v in c])
    return [float(v) for v in mean], comps


def _jacobi_eigh(a: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Eigen-decomposition of a symmetric matrix by cyclic Jacobi
    rotations: returns (eigenvalues, eigenvectors as rows), unsorted.
    Only element-wise array arithmetic and scalar ``math.sqrt`` run,
    each correctly rounded, so the result does not depend on the BLAS
    build or the CPU's vector width. A rotation is skipped once its
    off-diagonal entry is below double precision relative to the two
    diagonal entries; the sweeps end when a whole sweep skips every
    pair (quadratic convergence, ~10 sweeps at d=64; capped at 100)."""
    a = a.copy()
    d = a.shape[0]
    v = np.eye(d)
    for _ in range(100):
        rotated = False
        for p in range(d - 1):
            for q in range(p + 1, d):
                apq = a[p, q]
                if abs(apq) <= 1e-16 * math.sqrt(abs(a[p, p] * a[q, q])):
                    continue
                rotated = True
                # the rotation angle zeroing a[p, q], in its stable form
                theta = (a[q, q] - a[p, p]) / (2.0 * apq)
                t = 1.0 / (abs(theta) + math.sqrt(theta * theta + 1.0))
                if theta < 0:
                    t = -t
                c = 1.0 / math.sqrt(t * t + 1.0)
                s = t * c
                for m in (a, a.T, v):
                    mp, mq = m[p].copy(), m[q].copy()
                    m[p], m[q] = c * mp - s * mq, s * mp + c * mq
        if not rotated:
            break
    return a.diagonal().copy(), v


def pca_project_exprs(
    mean: list[float],
    components: list[list[float]],
    vec_col: str,
    d: str,
) -> list[str]:
    """The projection as a DUAL-DIALECT expression list — one fold per
    output dim: out[j] = dot(vec, comp_j) − dot(mean, comp_j), each
    component a spliced double-literal vector and the mean dot
    precomputed in Python with P.dot's exact ascending fold order.
    Shared by ``pca_project`` (Spark) and q45's ``pca`` oracle arm
    (DuckDB), so both engines run the identical IEEE sequence."""
    outs = []
    for comp in components:
        lit = P.vec_literal(comp, d)
        mdot = sum(
            m * c for m, c in zip(mean, comp)
        )  # driver-side scalar, exact same fold order as P.dot
        outs.append(
            f"({P.dot(vec_col, lit, d)})"
            f" - CAST('{mdot!r}' AS DOUBLE)"
        )
    return outs


def pca_project(
    emb: DataFrame,
    mean: list[float],
    components: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "reduced",
) -> DataFrame:
    """Project onto the shipped basis as PURE map-side expressions:
    out[j] = dot(vec, comp_j) − dot(mean, comp_j), with each component
    a spliced double-literal vector and the mean dot precomputed in
    Python — one fold per output dim, zero shuffle, the whole model in
    the plan (the classifier/bloom literal-inlining discipline)."""
    outs = pca_project_exprs(mean, components, vec_col, P.SPARK)
    return emb.withColumn(
        out_col, F.expr("array(" + ", ".join(outs) + ")")
    )


def pca_knn(
    emb: DataFrame,
    num_queries: int = 8,
    k: int = 5,
    out_dim: int = 16,
    shortlist: int = 32,
    sample_n: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    basis: tuple[list[float], list[list[float]]] | None = None,
) -> DataFrame:
    """PCA-shortlisted exact search: train the sampled basis, project
    map-side, shortlist by reduced-space cosine, exact full-dim refine
    — ``matryoshka_knn``'s shape with a TRAINED front instead of a
    prefix (for embeddings that don't front-load information, the PCA
    basis concentrates variance the prefix can't). Pass ``basis`` =
    (mean, components) to serve under a SHIPPED basis (the
    tokenizer/codebook convention — q45's ``pca`` branch splices
    ``pca_basis.PCA_MEAN/PCA_COMPS`` into both engines) and skip the
    in-session training; ``out_dim``/``sample_n`` are ignored then."""
    mean, comps = basis if basis is not None else pca_train(
        emb, out_dim=out_dim, sample_n=sample_n,
        id_col=id_col, vec_col=vec_col,
    )
    proj = pca_project(emb, mean, comps, vec_col=vec_col)
    q = proj.filter(F.col(id_col) < num_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col("reduced").alias("qr"),
    )
    c = proj.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col("reduced").alias("cr"),
    )
    scored = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).withColumn("__pcos", F.expr(P.cosine("qr", "cr", P.SPARK)))
    short = _two_phase_topk(
        scored,
        "query_id",
        [F.col("__pcos").desc(), F.col("neighbor_id")],
        shortlist,
        rank_name="__srank",
    ).drop("__srank", "__pcos")
    fin = W.partitionBy("query_id").orderBy(
        F.col("__cos").desc(), F.col("neighbor_id")
    )
    return (
        short.withColumn("__cos", F.expr(P.cosine("qv", "cv", P.SPARK)))
        .withColumn("knn_rank", F.row_number().over(fin))
        .filter(F.col("knn_rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.expr(P.round_dbl("__cos", 6, P.SPARK)).alias("cosine"),
            "knn_rank",
        )
    )


def with_bucket(
    emb: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    return emb.select(
        F.col(id_col),
        F.col(vec_col),
        F.expr(P.hyperplane_bucket(vec_col, planes, P.SPARK)).alias("bucket"),
    )


def lsh_ann(
    emb: DataFrame,
    num_queries: int = 8,
    k: int = 3,
    planes: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """ANN top-k restricted to the query's LSH bucket(s).

    ``nprobe=1`` searches only the query's own bucket (recall < 1 by
    construction). ``nprobe > 1`` is classic multi-probe LSH: probe
    ``nprobe - 1`` additional buckets at Hamming distance 1 (flip one
    plane's sign bit — the likeliest buckets to hold missed
    neighbors), which buys recall WITHOUT re-hashing or more tables.
    The join shape is unchanged — only the broadcast QUERY side grows
    to ``nprobe`` rows per query (probed bucket ids are distinct, so
    no candidate pair appears twice). Max ``len(planes) + 1``.
    Output: (query_id, neighbor_id, cosine, rank).
    """
    planes = planes or hyperplanes()
    if not 1 <= nprobe <= len(planes) + 1:
        raise ValueError(f"nprobe must be in [1, {len(planes) + 1}]")
    # bucket signatures feed both join sides: rebalance off the
    # single-row-group scan partition and persist (same pattern as the
    # text sketches — the hyperplane dot products are the expensive
    # map; _rebalance is a no-op on an already-parallel scan)
    b = persist_tracked(with_bucket(
        _rebalance(emb, id_col), planes, id_col, vec_col,
    ))
    probes = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << p))
            for p in range(nprobe - 1)
        ],
    )
    q = b.filter(F.col(id_col) < num_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(probes).alias("qbucket"),
    )
    c = b.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col("bucket"),
    )
    scored = c.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("qbucket"))
        & (F.col("neighbor_id") != F.col("query_id")),
    ).withColumn("__cos", F.expr(P.cosine("qv", "cv", P.SPARK)))
    return _two_phase_topk(
        scored,
        "query_id",
        [F.col("__cos").desc(), F.col("neighbor_id")],
        k,
    ).select(
        "query_id",
        "neighbor_id",
        F.expr(P.round_dbl("__cos", 6, P.SPARK)).alias("cosine"),
        "knn_rank",
    )


def ivf_ann(
    emb: DataFrame,
    num_queries: int = 8,
    k: int = 3,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: coarse quantizer + within-cell search.

    The classic inverted-file index shape: every vector is assigned to
    its nearest centroid (one small broadcast join — the centroid set
    is tiny); search touches only the query's cell. Here the coarse
    quantizer is a deterministic sample (the first ``num_centroids``
    vectors) instead of k-means — same plan shape and cost model,
    reproducible in the SQL oracle (the IVF-Flat serving index,
    ``ivf_flat_encode`` / ``ivfflat_score``, takes trained centroids).
    Single-probe recall < 1, like ``lsh_ann``;
    production adds nprobe > 1 by taking the top-n centroids per query
    (same join, rank ≤ nprobe).

    Scale: assignment is |corpus|·|centroids| map work behind a
    broadcast (no corpus shuffle); the within-cell join shuffles on the
    cell id — collisions scale with cell population, the IVF promise.
    """
    cent = emb.filter(F.col(id_col) < num_centroids).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    )
    # the |corpus| x |centroids| assignment map is the expensive stage;
    # spread it off the single-row-group scan partition (no-op when the
    # scan is already parallel)
    emb = _rebalance(emb, id_col)

    def assign(df: DataFrame, out_prefix: str) -> DataFrame:
        # Nearest centroid as a hash aggregation, not a window rank:
        # max_by over (cosine, -cid) == "cosine desc, cid asc" rank 1,
        # but partial aggregation collapses the |centroids| scored rows
        # per vector map-side (they are co-located — the centroid set
        # was broadcast), so the exchange carries ONE row per vector
        # instead of |centroids| rows into a per-vector sort.
        cos = F.expr(P.cosine("v", "cv", P.SPARK))
        return (
            df.select(
                F.col(id_col).alias(f"{out_prefix}_id"),
                F.col(vec_col).alias("v"),
            )
            .join(F.broadcast(cent))
            .groupBy(f"{out_prefix}_id")
            .agg(
                F.max_by(F.col("cid"), F.struct(cos, -F.col("cid"))).alias(
                    f"{out_prefix}_cell"
                ),
                F.any_value(F.col("v")).alias(f"{out_prefix}_v"),
            )
            .select(f"{out_prefix}_id", f"{out_prefix}_v", f"{out_prefix}_cell")
        )

    cells = assign(emb, "vec")
    qcells = assign(emb.filter(F.col(id_col) < num_queries), "query")
    scored = cells.hint("shuffle_hash").join(
        qcells,
        (F.col("vec_cell") == F.col("query_cell"))
        & (F.col("vec_id") != F.col("query_id")),
    ).withColumn("__cos", F.expr(P.cosine("query_v", "vec_v", P.SPARK)))
    return _two_phase_topk(
        scored,
        "query_id",
        [F.col("__cos").desc(), F.col("vec_id")],
        k,
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr(P.round_dbl("__cos", 6, P.SPARK)).alias("cosine"),
        "knn_rank",
    )


def bucketed_similar_pairs(
    emb: DataFrame,
    top_n: int = 20,
    planes: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup: the ``top_n`` most similar
    same-bucket pairs (vec_a < vec_b).

    The bucket equi-join replaces the |corpus|² comparison — at scale
    the global top-n is a cheap final reduction over per-bucket
    partial top-ns (Spark's TakeOrderedAndProject does exactly this).
    """
    planes = planes or hyperplanes()
    # same rebalance+persist rationale as lsh_ann: the bucket table
    # feeds both self-join sides; n2 computed once per vector, not
    # once per pair side (see _pair_cosine_expr)
    b = persist_tracked(
        with_bucket(_rebalance(emb, id_col), planes, id_col, vec_col)
        .withColumn("__n2", F.expr(P.dot(vec_col, vec_col, P.SPARK)))
    )
    l = b.select(
        F.col(id_col).alias("vec_a"),
        F.col(vec_col).alias("va"),
        F.col("bucket"),
        F.col("__n2").alias("__n2a"),
    )
    # shuffle on the bucket id: broadcasting would serialize the bucket
    # computation into the build, and at scale neither side is small
    r = b.hint("shuffle_hash").select(
        F.col(id_col).alias("vec_b"),
        F.col(vec_col).alias("vb"),
        F.col("bucket").alias("bucket_b"),
        F.col("__n2").alias("__n2b"),
    )
    return (
        l.join(
            r,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select(
            "vec_a",
            "vec_b",
            F.expr(
                _pair_cosine_expr("va", "vb", "__n2a", "__n2b")
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_a", "vec_b")
        .limit(top_n)
    )


def pairs_with_semantic(
    emb: DataFrame,
    top_n: int = 20,
    threshold: float = 0.95,
    planes: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """(top pairs, semantic labels) off ONE bucket build and ONE
    scored pair join — the shared-scan composition of
    ``bucketed_similar_pairs`` and ``semantic_dedup`` for callers that
    want both views of the same bucket join (q47's merged driver row).

    Branch semantics are exactly the standalone operators' (pinned by
    a unit test): the pair frame is ``bucketed_similar_pairs``'s
    global top-n; the label frame is ``semantic_dedup``'s
    (id, kept_id, is_survivor) — here computed WITHOUT the
    exact-duplicate pre-contraction, which is a pure shuffle
    optimization: duplicate vectors share a bucket and score
    cosine ≈ 1 ≥ threshold, so the thresholded edge set already
    connects them and the component labels are identical.

    Scale: one persisted bucket table feeds both self-join sides, one
    persisted scored frame feeds both the top-n reduction (a cheap
    TakeOrderedAndProject) and the component loop's edge subgraph.
    """
    from .components import connected_components

    planes = planes or hyperplanes()
    b = persist_tracked(
        with_bucket(_rebalance(emb, id_col), planes, id_col, vec_col)
        .withColumn("__n2", F.expr(P.dot(vec_col, vec_col, P.SPARK)))
    )
    l = b.select(
        F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"),
        F.col("bucket"), F.col("__n2").alias("__n2a"),
    )
    r = b.hint("shuffle_hash").select(
        F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"),
        F.col("bucket").alias("bucket_b"), F.col("__n2").alias("__n2b"),
    )
    scored = persist_tracked(
        l.join(
            r,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        ).select(
            "vec_a",
            "vec_b",
            F.expr(
                _pair_cosine_expr("va", "vb", "__n2a", "__n2b")
            ).alias("cosine"),
        )
    )
    top = scored.orderBy(F.col("cosine").desc(), "vec_a", "vec_b").limit(
        top_n
    )
    edges = scored.filter(F.col("cosine") >= threshold).select(
        "vec_a", "vec_b"
    )
    comp = connected_components(
        edges, nodes=b.select(id_col), node_col=id_col,
        src="vec_a", dst="vec_b",
    )
    sem = comp.select(
        F.col(id_col),
        F.col("component_id").alias("kept_id"),
        (F.col(id_col) == F.col("component_id")).alias("is_survivor"),
    )
    return top, sem


def quantize_embeddings(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """L2-normalize + int8-quantize: q_i = floor(127·x_i/‖x‖ + 0.5).

    The compression stage of a vector index build (int8 storage is 4x
    smaller than float32 and SIMD-friendly). Pure map: one fold for
    the norm, one transform for the lanes — no shuffle, no Python.
    floor(x+0.5) is half-up rounding with identical IEEE behavior in
    both engines (unlike round(), whose half-even/half-away defaults
    differ). The quantized vector is emitted as a CSV string so the
    oracle's value hash is layout-independent.
    """
    l2 = f"sqrt({P.dot(vec_col, vec_col, P.SPARK)})"
    base = emb.select(
        F.col(id_col),
        F.col(vec_col),
        F.expr(l2).alias("l2_raw"),
    )
    lanes = (
        f"transform({vec_col}, x -> CAST(CAST("
        f"  CASE WHEN l2_raw = 0 THEN 0"
        f"       ELSE floor(CAST(x AS DOUBLE) * 127 / l2_raw + 0.5)"
        f"  END AS BIGINT) AS STRING))"
    )
    return base.select(
        F.col(id_col),
        F.round(F.col("l2_raw"), 6).alias("l2_norm"),
        F.expr(f"concat_ws(',', {lanes})").alias("qvec"),
        F.expr(f"size({vec_col})").alias("n_dims"),
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.95,
    planes: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style embedding dedup: (id, kept_id, is_survivor).

    Semantically-redundant items (same content re-rendered, template
    variants, paraphrases) cluster tightly in embedding space even
    when every text sketch differs — the regime SemDeDup targets.
    Composition of two shipped operators: same-bucket pairs with
    cosine ≥ ``threshold`` form the edge set (the q47 join, threshold
    filter instead of global top-n), connected components collapse the
    transitive closure, and the component label (min reachable id) IS
    the survivor: ``kept_id`` names each item's replacement, rows with
    ``is_survivor`` are the deduped corpus.

    Scale: edges are bucket-equi-join bounded (never |corpus|²),
    components iterate on the edge subgraph only (components.py), and
    the output is one row per item — the same shapes q47/q57 carry.
    EXACT-duplicate vectors are contracted FIRST (min-id
    representative per distinct vector bytes — the embedding-domain
    twin of neardup's star contraction): a k-way duplicated corpus
    would otherwise emit C(k,2) cosine-1 pairs per group into the
    bucket self-join; contracted, each group costs one representative
    in the join and one map-side label broadcast-back at the end.
    """
    planes = planes or hyperplanes()
    from .components import connected_components

    # rebalance the SCAN input (the only _rebalance-safe shape — its
    # partition-count probe runs jobs on shuffle-bearing plans under
    # AQE); everything downstream inherits the parallelism
    keyed = _rebalance(emb, id_col).select(
        F.col(id_col),
        F.col(vec_col),
        F.md5(F.col(vec_col).cast("string")).alias("__vkey"),
    )
    members = persist_tracked(
        keyed.select(
            F.col(id_col), F.col("__vkey"),
            F.min(id_col).over(
                W.partitionBy("__vkey")
            ).alias("__rep"),
        )
    )
    reps = keyed.join(
        members.filter(F.col(id_col) == F.col("__rep")).select(id_col),
        id_col,
        "left_semi",
    )
    b = persist_tracked(
        with_bucket(reps, planes, id_col, vec_col)
        .withColumn("__n2", F.expr(P.dot(vec_col, vec_col, P.SPARK)))
    )
    l = b.select(
        F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"),
        F.col("bucket"), F.col("__n2").alias("__n2a"),
    )
    r = b.hint("shuffle_hash").select(
        F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"),
        F.col("bucket").alias("bucket_b"), F.col("__n2").alias("__n2b"),
    )
    edges = (
        l.join(
            r,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .withColumn(
            "__cos",
            F.expr(_pair_cosine_expr("va", "vb", "__n2a", "__n2b")),
        )
        .filter(F.col("__cos") >= threshold)
        .select("vec_a", "vec_b")
    )
    # node set = the persisted bucket frame's ids (one row per rep) —
    # not reps itself, which would re-run the keying scan + semi join
    comp = connected_components(
        edges, nodes=b.select(id_col), node_col=id_col,
        src="vec_a", dst="vec_b",
    )
    # rep labels back onto every member; rep_id == min member id of
    # its group and component_id == min reachable rep ⇒ kept_id is the
    # min id of the whole transitive cluster, duplicates included.
    # Labels are |distinct vectors| rows — AQE broadcasts when small,
    # shuffles on __rep otherwise; either way no vector bytes move.
    labels = comp.select(
        F.col(id_col).alias("__rep"), F.col("component_id")
    )
    return members.join(labels, "__rep").select(
        F.col(id_col),
        F.col("component_id").alias("kept_id"),
        (F.col(id_col) == F.col("component_id")).alias("is_survivor"),
    )


def srp_bucket_index(
    emb: DataFrame,
    planes: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The PERSISTENT semantic-dedup index: (id, embedding, bucket),
    one row per DISTINCT embedding (min-id representative) — the
    embedding-domain twin of ``neardup.minhash_band_index`` (VERDICT
    r6 item 3).

    Without it every day-2 ingest re-buckets the full corpus
    (``semantic_dedup`` is one-shot); stored, a delta near-dups
    against admitted content via a bucket equi-join whose corpus side
    is this rep table. Unlike the text sketches the index must carry
    the VECTOR (cross edges verify exact cosine ≥ threshold), so a
    row is id + dim floats + one int — still |distinct vectors|, not
    |corpus|, and duplicate-heavy corpora contract hard. Store
    parquet; bucketed on ``bucket`` (sources.bucketed) the delta
    join's index side needs no exchange. Identical vectors always
    share a bucket (the bucket is a function of the vector), so the
    min-id contraction loses no edges.
    """
    planes = planes or hyperplanes()
    keyed = _rebalance(emb, id_col).select(
        F.col(id_col),
        F.col(vec_col),
        F.md5(F.col(vec_col).cast("string")).alias("__vkey"),
    )
    reps = keyed.groupBy("__vkey").agg(
        F.min(id_col).alias(id_col),
        F.min_by(F.col(vec_col), F.col(id_col)).alias(vec_col),
    )
    return with_bucket(reps, planes, id_col, vec_col).select(
        id_col, vec_col, "bucket"
    )


def admit_against_srp_index(
    delta: DataFrame,
    srp_index: DataFrame | None,
    threshold: float = 0.95,
    planes: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Batch ADMISSION of an embedding delta against previously
    admitted content: returns ``(survivors, index_delta)`` — the
    semantic twin of ``neardup.admit_against_band_index``, same
    poisoned-component contract:

    * within-delta edges: same-bucket rep pairs with cosine ≥
      ``threshold`` plus rep→member star edges for exact-duplicate
      vectors (identical vectors share a bucket, so contraction is
      lossless);
    * cross edges: delta reps × index reps on the bucket equi-join,
      cosine ≥ ``threshold`` (the same ``_pair_cosine_expr`` fold the
      one-shot uses — symmetric bitwise, so thresholds agree);
    * a connected component touching ANY index vector is dropped
      wholesale; a clean component keeps its min-id doc;
    * ``index_delta`` = this delta's distinct-vector rep rows for
      every ADMITTED (clean) component — append it:
      ``index' = index ∪ index_delta``.

    ``srp_index=None`` bootstraps an empty corpus.

    Append-only caveat (shared with the band-index admission,
    unit-pinned there): a delta doc that BRIDGES two admitted
    clusters poisons-and-drops, leaving both admitted survivors —
    one-shot re-clustering would merge them. Equality tests need
    bridge-free fixtures.

    Scale: everything is delta-proportional — the corpus side is the
    distinct-vector rep table joined per-bucket, the component loop
    sees only within-delta edges (labels delta-sized), and the index
    grows by the delta's distinct vectors only (SCALE_PROBE
    ``incremental_srp`` measures the flat probe).
    """
    from .components import connected_components

    planes = planes or hyperplanes()
    keyed = _rebalance(delta, id_col).select(
        F.col(id_col),
        F.col(vec_col),
        F.md5(F.col(vec_col).cast("string")).alias("__vkey"),
    )
    members = persist_tracked(
        keyed.select(
            F.col(id_col),
            F.min(id_col).over(W.partitionBy("__vkey")).alias("__rep"),
        )
    )
    reps = keyed.join(
        members.filter(F.col(id_col) == F.col("__rep")).select(id_col),
        id_col,
        "left_semi",
    )
    b = persist_tracked(
        with_bucket(reps, planes, id_col, vec_col)
        .withColumn("__n2", F.expr(P.dot(vec_col, vec_col, P.SPARK)))
    )
    left = b.select(
        F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"),
        F.col("bucket"), F.col("__n2").alias("__n2a"),
    )
    right = b.hint("shuffle_hash").select(
        F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"),
        F.col("bucket").alias("bucket_b"), F.col("__n2").alias("__n2b"),
    )
    within = (
        left.join(
            right,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .withColumn(
            "__cos",
            F.expr(_pair_cosine_expr("va", "vb", "__n2a", "__n2b")),
        )
        .filter(F.col("__cos") >= threshold)
        .select("vec_a", "vec_b")
        .unionByName(
            members.filter(F.col(id_col) != F.col("__rep")).select(
                F.col("__rep").alias("vec_a"),
                F.col(id_col).alias("vec_b"),
            )
        )
    )
    within = persist_tracked(within)
    delta_ids = delta.select(id_col)
    labels = connected_components(
        within, delta_ids, id_col, src="vec_a", dst="vec_b",
        broadcast=True,
    )
    if srp_index is None:
        clean = persist_tracked(delta_ids.join(labels, id_col))
    else:
        idx_b = srp_index.select(
            F.col(id_col).alias("vec_b"),
            F.col(vec_col).alias("vb"),
            F.col("bucket").alias("bucket_b"),
        ).withColumn("__n2b", F.expr(P.dot("vb", "vb", P.SPARK)))
        touched = (
            left.join(idx_b, F.col("bucket") == F.col("bucket_b"))
            .withColumn(
                "__cos",
                F.expr(_pair_cosine_expr("va", "vb", "__n2a", "__n2b")),
            )
            .filter(F.col("__cos") >= threshold)
            .select(F.col("vec_a").alias(id_col))
            .distinct()
        )
        poisoned = (
            labels.join(touched, id_col)
            .select("component_id")
            .distinct()
        )
        clean = persist_tracked(
            delta_ids.join(labels, id_col).join(
                poisoned, "component_id", "left_anti"
            )
        )
    survivors = (
        delta.join(
            clean.filter(F.col(id_col) == F.col("component_id"))
            .select(id_col),
            id_col,
            "left_semi",
        )
    )
    index_delta = b.select(id_col, vec_col, "bucket").join(
        clean.select(id_col), id_col, "left_semi"
    )
    return survivors, index_delta


# --- product quantization (PQ) -------------------------------------------


def _l2sq_expr(vec_expr: str, literal_vec: list[float]) -> str:
    """‖x − c‖² between a column subvector and a spliced codeword —
    exact double literals via P.vec_literal, one fold (the dual-dialect
    P.l2sq, so the q56 oracle's DuckDB twin folds the same bits)."""
    return P.l2sq(vec_expr, P.vec_literal(literal_vec, P.SPARK), P.SPARK)


def pq_codebook(
    emb: DataFrame,
    m: int = 8,
    num_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    head_rows: list | None = None,
) -> list[list[list[float]]]:
    """``codebook[j][c]`` = the c-th codeword of subspace j.

    Deterministic "training": the first ``num_codes`` vectors'
    subvectors — the same reproducible-sample convention as
    ``ivf_ann``'s coarse quantizer, so results are
    engine-replayable; swapping in k-means-trained codewords is a
    literal substitution with the identical plan. Driver-side cost is
    a ``num_codes``-row collect — an index-BUILD artifact, exactly how
    a production PQ index ships its trained codebooks to encoders.
    ``head_rows``: pre-collected id-ordered (id, vec) prefix covering
    at least ``id < num_codes`` — one shared collect serves every
    build-artifact sample (catalog.load_head_rows).
    """
    if head_rows is not None:
        vecs = [r[1] for r in head_rows if int(r[0]) < num_codes]
    else:
        vecs = [
            r[0]
            for r in emb.filter(F.col(id_col) < num_codes)
            .orderBy(id_col)
            .select(vec_col)
            .collect()
        ]
    if not vecs:
        raise ValueError("empty codebook sample")
    dim = len(vecs[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return [
        [list(map(float, v[j * dsub:(j + 1) * dsub])) for v in vecs]
        for j in range(m)
    ]


def pq_encode(
    emb: DataFrame,
    codebook: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>): each vector compressed to m codeword
    ids — 64 float32 dims → 8 bytes at m=8/k=16.

    Fully MAP-SIDE: the codebook splices into the projection as exact
    double literals, each subspace's argmin is
    ``array_position(d², array_min(d²))`` (ties → lowest code), and no
    corpus row ever shuffles — the 100 TB encode is a scan-shaped
    pass, embarrassingly parallel like chunking. m·k small folds per
    vector is the deliberate price of zero exchanges (an exploded
    join+groupBy alternative would shuffle m rows per vector, twice).
    """
    return _encode_sql(emb, None, codebook, id_col, vec_col)


def _pq_codes_sql(codebook: list[list[list[float]]], vec: str) -> str:
    """``array(code_0, …, code_{m-1})`` over the array expression
    ``vec``: per subspace ``array_position(d², array_min(d²)) - 1``
    against the spliced codewords (ties → lowest code)."""
    dsub = len(codebook[0][0])
    code_exprs = []
    for j, words in enumerate(codebook):
        sub = f"slice({vec}, {j * dsub + 1}, {dsub})"
        arr = "array(" + ", ".join(_l2sq_expr(sub, cw) for cw in words) + ")"
        code_exprs.append(
            f"CAST(array_position({arr}, array_min({arr})) - 1 AS INT)"
        )
    return f"array({', '.join(code_exprs)})"


def _encode_sql(
    emb: DataFrame,
    cents: list[list[float]] | None,
    codebook: list[list[list[float]]],
    id_col: str,
    vec_col: str,
    keep_vec: bool = False,
) -> DataFrame:
    """The expression encoder: (id, codes) without ``cents`` (PQ), or
    (id, cell, codes) with them (IVF-PQ: cell = argmax cosine against
    the spliced centroid literals, ties → lowest cell; residual = x −
    centroid[cell] via one ``zip_with`` against ``element_at`` of the
    centroid array-of-arrays literal; codes over the residual).
    ``keep_vec`` appends the raw vector column."""
    keep = [F.col(vec_col)] if keep_vec else []
    if cents is None:
        return emb.select(
            F.col(id_col),
            F.expr(_pq_codes_sql(codebook, vec_col)).alias("codes"),
            *keep,
        )
    cents_lit = (
        "array("
        + ", ".join(P.vec_literal(c, P.SPARK) for c in cents)
        + ")"
    )
    n2_expr, coss = _cosine_vs_literal_exprs(vec_col, cents)
    residual_expr = (
        f"zip_with({vec_col}, element_at({cents_lit}, cell + 1),"
        f" (x, y) -> CAST(x AS DOUBLE) - y)"
    )
    return (
        emb.select(F.col(id_col), F.col(vec_col))
        .withColumn("__n2", F.expr(n2_expr))
        .withColumn("__cosarr", F.expr("array(" + ", ".join(coss) + ")"))
        .withColumn("cell", F.expr(_ARGMAX_CELL))
        .withColumn("__res", F.expr(residual_expr))
        .select(
            id_col,
            "cell",
            F.expr(_pq_codes_sql(codebook, "__res")).alias("codes"),
            *keep,
        )
    )


def pq_ann(
    emb: DataFrame,
    num_queries: int = 8,
    k: int = 3,
    m: int = 8,
    num_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance ANN: (query_id, neighbor_id, approx_d2,
    knn_rank) — the memory-bound scale path of the ANN family.

    Classic ADC (Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011): the corpus is stored as PQ codes
    (``pq_encode``, 8 bytes/vector here); per query a k×m lookup table
    of exact subspace distances to every codeword is computed ONCE
    (driver-side Python on the collected ≤``num_queries`` query rows —
    the same small-side convention as ``brute_force_knn``'s query
    broadcast), and scoring a vector is m table lookups summed
    left-to-right. Approximation: d²(q,x) ≈ Σⱼ ‖qⱼ − c_{j,xⱼ}‖².

    Scale: the encoded corpus never shuffles — per query the score is
    a map-side projection over the codes column; only the two-phase
    top-k reduction moves ≤ partitions·k rows per query. Memory: the
    scan reads m bytes per vector instead of 4·dim — the reason PQ
    indexes hold billions of vectors where raw floats cannot.

    The codebook is the deterministic first-``num_codes`` sample
    (``pq_codebook``); a trained index is ``ann_index.ann_build`` +
    ``ann_serve``, the same scoring.
    """
    codebook = pq_codebook(emb, m, num_codes, id_col, vec_col)
    enc = persist_tracked(pq_encode(emb, codebook, id_col, vec_col))
    meta = {"kind": "pq", "codebook": codebook, "id_col": id_col,
            "vec_col": vec_col}
    return ann_serve(meta, enc, emb.filter(F.col(id_col) < num_queries), k)


def _query_lut(
    qv: list[float], codebook: list[list[list[float]]]
) -> list[list[float]]:
    """Exact per-subspace distances of one query to every codeword:
    IEEE doubles, left-to-right — the same fold order the encoder's
    SQL uses, so ADC scores are engine-replayable."""
    dsub = len(codebook[0][0])
    return [
        [
            sum(
                (qv[j * dsub + i] - cw[i]) * (qv[j * dsub + i] - cw[i])
                for i in range(dsub)
            )
            for cw in codebook[j]
        ]
        for j in range(len(codebook))
    ]


def _query_lut_np(
    qv: list[float], cb_np: list[np.ndarray]
) -> list[list[float]]:
    """``_query_lut``'s vectorized twin — BIT-IDENTICAL output
    (unit-pinned): elementwise numpy float64 ops are the same IEEE
    mul/sub/add, and the accumulation walks the dsub axis in the same
    left-to-right order as ``sum()``'s fold (which starts 0 + t0 = t0
    exactly). ~10x faster per query at serving-scale codebooks
    (m=16 x 256 codes), which is what makes the driver-side LUT build
    disappear from the serve wall."""
    out = []
    q = np.asarray(qv, dtype=np.float64)
    dsub = cb_np[0].shape[1]
    for j, sub in enumerate(cb_np):
        d = q[j * dsub:(j + 1) * dsub][None, :] - sub
        t = d * d
        acc = t[:, 0].copy()
        for i in range(1, dsub):
            acc += t[:, i]
        out.append(acc.tolist())
    return out


def _query_luts_np_batch(
    Q: np.ndarray, cb_np: list[np.ndarray]
) -> np.ndarray:
    """``_query_lut_np`` batched over a (n, dim) query/residual matrix
    → (n, m, codes) float64 tensor, BIT-IDENTICAL per row (unit-pinned):
    numpy elementwise sub/mul/add are per-element IEEE ops whatever the
    array shape, and the accumulation walks the dsub axis in the same
    left-to-right order. Batching matters at serving fan-out — IVF-PQ
    probes build |queries|·nprobe LUTs, and n separate Python calls
    (each ~m·codes·dsub scalar ops through list conversions) were the
    dominant driver-side term of the serve wall."""
    n = Q.shape[0]
    m = len(cb_np)
    codes, dsub = cb_np[0].shape
    out = np.empty((n, m, codes), dtype=np.float64)
    for j, sub in enumerate(cb_np):
        d = Q[:, j * dsub:(j + 1) * dsub][:, None, :] - sub[None, :, :]
        t = d * d
        acc = t[:, :, 0].copy()
        for i in range(1, dsub):
            acc += t[:, :, i]
        out[:, j, :] = acc
    return out


def _lut_probes_frame(
    spark, metas: list[tuple], luts: np.ndarray, meta_fields: list
) -> DataFrame:
    """Broadcast (meta…, __lut) frame built ZERO-COPY from the batched
    LUT tensor: the float64 buffer becomes the Arrow values array
    directly and the two nesting levels are arithmetic offset vectors —
    no per-float Python traversal. ``pa.Table.from_pylist`` walked
    n·m·codes Python objects (4M floats at the IVF-PQ serving defaults,
    seconds of driver time); this is O(columns). Falls back to the
    row path when Arrow can't map the meta types or the flat LUT
    exceeds 32-bit list offsets."""
    from pyspark.sql import types as T

    n = len(metas)
    schema = T.StructType(
        [T.StructField(name, dtype) for name, dtype in meta_fields]
        + [
            T.StructField(
                "__lut", T.ArrayType(T.ArrayType(T.DoubleType()))
            )
        ]
    )
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        if n == 0 or luts.reshape(-1).shape[0] >= 2**31 - 1:
            raise ValueError("arrow fast path inapplicable")
        _, m, codes = luts.shape
        values = pa.array(np.ascontiguousarray(luts).reshape(-1))
        inner = pa.ListArray.from_arrays(
            pa.array(
                np.arange(0, n * m * codes + 1, codes, dtype=np.int32)
            ),
            values,
        )
        outer = pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * m + 1, m, dtype=np.int32)), inner
        )
        cols, names = [], []
        for i, (name, dtype) in enumerate(meta_fields):
            cols.append(
                pa.array([r[i] for r in metas], type=to_arrow_type(dtype))
            )
            names.append(name)
        cols.append(outer)
        names.append("__lut")
        return spark.createDataFrame(
            pa.Table.from_arrays(cols, names=names)
        )
    except Exception:
        rows = [(*meta, [sub.tolist() for sub in lut])
                for meta, lut in zip(metas, luts)]
        return _probes_frame(spark, rows, schema)


def _probes_frame(spark, probe_rows: list, schema) -> DataFrame:
    """Broadcast-side (probe metadata, per-query payload) frame built
    through Arrow when possible — serializing 1k rows of m x codes
    LUT doubles through the default pickle row path costs seconds of
    serve latency; an arrow Table ships the same bits ~5x faster.
    Falls back to the row path for id types Arrow can't map."""
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        pa_schema = pa.schema(
            [(f.name, to_arrow_type(f.dataType)) for f in schema.fields]
        )
        names = [f.name for f in schema.fields]
        tbl = pa.Table.from_pylist(
            [dict(zip(names, r)) for r in probe_rows], schema=pa_schema
        )
        return spark.createDataFrame(tbl)
    except Exception:
        return spark.createDataFrame(probe_rows, schema)


def _adc_lookup_expr(m: int) -> str:
    """Σⱼ lut[j][codes[j]] as a fixed left-to-right sum — m element_at
    lookups against the joined ``__lut`` column, the SAME fold order
    (and therefore the same bits) as the former per-query spliced
    literals."""
    return " + ".join(
        f"element_at(element_at(__lut, {j + 1}), codes[{j}] + 1)"
        for j in range(m)
    )


def _pq_adc_scored(
    enc: DataFrame,
    codebook: list[list[list[float]]],
    qrows: list,
    id_col: str = "vec_id",
    carry_cols: tuple = (),
) -> DataFrame:
    """The (query_id, neighbor_id, __d2 [, carry_cols…]) ADC-scored
    frame both PQ serve shapes reduce: ``pq_adc_score`` top-k's it
    directly, the fused refine (``_fused_refine``) carries the raw
    vector column through it so the exact re-rank needs no second
    corpus pass."""
    spark = enc.sparkSession
    m = len(codebook)
    # query_id is typed off the CORPUS id column — ann_index_query
    # accepts arbitrary id_col types (string uuids included), and a
    # hardcoded bigint would raise at query time for them.
    cb_np = [np.asarray(sub, dtype=np.float64) for sub in codebook]
    Q = np.asarray(
        [[float(x) for x in qr[1]] for qr in qrows], dtype=np.float64
    )
    qlut = _lut_probes_frame(
        spark,
        [(qr[0],) for qr in qrows],
        _query_luts_np_batch(Q, cb_np) if len(qrows) else
        np.empty((0, m, len(codebook[0])), dtype=np.float64),
        [("query_id", enc.schema[id_col].dataType)],
    )
    return (
        enc.crossJoin(F.broadcast(qlut))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.expr(_adc_lookup_expr(m)).alias("__d2"),
            *carry_cols,
        )
    )


def pq_adc_score(
    enc: DataFrame,
    codebook: list[list[list[float]]],
    qrows: list,
    k: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC scoring over an ALREADY-ENCODED corpus — the query-time half
    of PQ (q56's ``adc`` branch; ``ann_serve`` runs the same scoring
    for every PQ index). ``qrows`` are collected (id, vector) rows.

    Plan shape: ONE broadcast join, constant in the number of queries
    (the FAISS serving convention). Each query's k×m LUT of exact
    subspace distances becomes a ROW of a broadcast (query_id, lut)
    frame — not a plan branch — and scoring is a single map-side
    projection over codes ⨯ broadcast queries: m ``element_at``
    lookups summed left-to-right (bit-identical to the former spliced
    literals, which built one unioned sub-plan per query and hit
    driver-side plan explosion at realistic batch sizes).
    """
    return _adc_topk(_pq_adc_scored(enc, codebook, qrows, id_col), k)


def _adc_topk(scored: DataFrame, k: int) -> DataFrame:
    """Top-``k`` of an ADC-scored (query_id, neighbor_id, __d2) frame:
    (query_id, neighbor_id, approx_d2, knn_rank)."""
    return _two_phase_topk(
        scored,
        "query_id",
        [F.col("__d2").asc(), F.col("neighbor_id")],
        k,
    ).select(
        "query_id",
        "neighbor_id",
        F.expr(P.round_dbl("__d2", 6, P.SPARK)).alias("approx_d2"),
        "knn_rank",
    )


def _empty_ann_result(emb: DataFrame, id_col: str, score: str) -> DataFrame:
    """Empty (query_id, neighbor_id, ``score``, knn_rank) frame typed
    off the corpus id column — what ``ann_serve`` returns when the
    query collect finds no rows (empty corpus, or no ids below
    ``num_queries``); ``score`` is ``approx_d2`` or ``cosine``, the
    column the same call returns with rows."""
    return emb.select(
        F.col(id_col).alias("query_id"),
        F.col(id_col).alias("neighbor_id"),
        F.lit(0.0).cast("double").alias(score),
        F.lit(0).cast("int").alias("knn_rank"),
    ).limit(0)


def _py_cosine_matrix(Q: np.ndarray, C: np.ndarray) -> np.ndarray:
    """``_py_cosine`` batched over every (query, centroid) pair —
    BIT-IDENTICAL per cell (unit-pinned): the dot and both norms
    accumulate with elementwise ``+=`` along the dim axis (numpy
    float64 elementwise ops are the same IEEE mul/add sequence as the
    scalar loop, and ``0.0 + t0 == t0`` exactly), and np.sqrt is the
    same correctly-rounded sqrt as math.sqrt. A zero-norm row or
    centroid yields NaN (0/0) where the scalar loop raises; the
    serve-time picks (``_ranked_cells``) raise on it, the encoders'
    ``_cosine_cells`` sends such a row to cell 0."""
    nq, d = Q.shape
    nc = C.shape[0]
    dot = np.zeros((nq, nc), dtype=np.float64)
    for i in range(d):
        dot += Q[:, i:i + 1] * C[None, :, i]
    n2a = np.zeros(nq, dtype=np.float64)
    for i in range(d):
        n2a += Q[:, i] * Q[:, i]
    n2b = np.zeros(nc, dtype=np.float64)
    for i in range(d):
        n2b += C[:, i] * C[:, i]
    with np.errstate(invalid="ignore", divide="ignore"):
        return dot / np.sqrt(n2a[:, None] * n2b[None, :])


def _ranked_cells(
    qvs: list[list[float]], cents: list[list[float]], nprobe: int
) -> list[list[int]]:
    """Per-query top-``nprobe`` cells by (-cosine, index) — the
    serve-time coarse-quantizer pick, vectorized through
    ``_py_cosine_matrix`` with the tie order of the scalar sort
    preserved (Python sort on the exact doubles)."""
    cos = _py_cosine_matrix(
        np.asarray(qvs, dtype=np.float64),
        np.asarray(cents, dtype=np.float64),
    )
    if np.isnan(cos).any():
        # the scalar loop's loud failure: a NaN sort key would
        # desynchronize the probed cells from the stored ones
        raise ZeroDivisionError(
            "zero-norm vector in serve-time cosine cell pick"
        )
    nc = len(cents)
    return [
        sorted(range(nc), key=lambda ci: (-cos[qi, ci], ci))[:nprobe]
        for qi in range(len(qvs))
    ]


def _py_cosine(a: list[float], b: list[float]) -> float:
    """Driver-side twin of P.cosine's left-fold IEEE sequence — used
    on collected small-side rows (centroids/queries) so Python-picked
    cells match SQL-picked cells bit-for-bit."""
    dot = 0.0
    for x, y in zip(a, b):
        dot += x * y
    n2a = 0.0
    for x in a:
        n2a += x * x
    n2b = 0.0
    for y in b:
        n2b += y * y
    import math

    return dot / math.sqrt(n2a * n2b)


def ivf_pq_index(
    emb: DataFrame,
    num_centroids: int = 8,
    m: int = 8,
    num_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    persist: bool = True,
    head_rows: list | None = None,
) -> tuple[DataFrame, list[list[float]], list[list[list[float]]]]:
    """The IVF-PQ INDEX build: (encoded frame (id, cell, codes),
    centroids, residual codebook), with deterministic-sample
    parameters (a trained index is ``ann_index.ann_build``).

    All map-side, zero corpus shuffle (``_encode_sql``):
    1. cell = argmax cosine against the spliced centroid literals
       (deterministic first-``num_centroids`` sample, the ivf_ann
       convention; ties → lowest cell via ``array_position`` of
       ``array_max``),
    2. residual = x − centroid[cell] (one ``zip_with`` against
       ``element_at`` of the centroid array-of-arrays literal),
    3. codes = per-subspace argmin against a residual codebook trained
       from the first ``num_codes`` vectors' residuals (driver-side
       sample, like ``pq_codebook``; the sample's cells are picked
       with ``_py_cosine`` — the bit-exact Python twin of the SQL
       cosine fold, so Python and SQL agree on every assignment).
    """

    def head(n: int) -> list:
        if head_rows is not None:
            return [r[1] for r in head_rows if int(r[0]) < n]
        return [
            r[0]
            for r in emb.filter(F.col(id_col) < n)
            .orderBy(id_col)
            .select(vec_col)
            .collect()
        ]

    cents = [[float(x) for x in v] for v in head(num_centroids)]
    dim = len(cents[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m

    def py_cell(v: list[float]) -> int:
        best, best_c = None, -1
        for ci, c in enumerate(cents):
            cos = _py_cosine(v, c)
            if best is None or cos > best:
                best, best_c = cos, ci
        return best_c

    residuals = []
    for r in head(num_codes):
        v = [float(x) for x in r]
        c = cents[py_cell(v)]
        residuals.append([x - y for x, y in zip(v, c)])
    codebook = [
        [r[j * dsub:(j + 1) * dsub] for r in residuals]
        for j in range(m)
    ]
    enc = _encode_sql(emb, cents, codebook, id_col, vec_col)
    if persist:
        enc = persist_tracked(enc)
    return enc, cents, codebook


def ivf_pq_ann(
    emb: DataFrame,
    num_queries: int = 8,
    k: int = 3,
    num_centroids: int = 8,
    m: int = 8,
    num_codes: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: coarse cells + PQ over RESIDUALS — the composition
    billion-vector indexes actually ship (FAISS IVFPQ; Jégou et al.
    2011 §V). (query_id, neighbor_id, approx_d2, knn_rank).

    Index build (all map-side, zero corpus shuffle):
    1. cell = argmax cosine against the spliced centroid literals
       (deterministic sample, the ivf_ann convention; ties → lowest
       cell, ``array_position`` of ``array_max``),
    2. residual = x − centroid[cell] (one ``zip_with`` against
       ``element_at`` of the centroid array-of-arrays literal),
    3. codes = per-subspace argmin against a RESIDUAL codebook
       (trained from the first ``num_codes`` vectors' residuals,
       driver-side — the same sample-bound convention as
       ``pq_codebook``).

    Search: per query, probe the ``nprobe`` nearest cells; per probed
    cell build the residual LUT (q − centroid, exact subspace
    distances to every codeword) and ADC-score ONLY that cell's
    encoded rows — the IVF promise (touch |corpus|·nprobe/num_centroids
    rows) stacked on the PQ promise (m byte-lookups per row). Python
    cell picks replay SQL's exact IEEE fold (``_py_cosine``), so the
    probed cells match the stored cells bit-for-bit.
    """
    enc, cents, codebook = ivf_pq_index(
        emb, num_centroids, m, num_codes, id_col, vec_col
    )
    meta = {"kind": "ivfpq", "centroids": cents, "codebook": codebook,
            "id_col": id_col, "vec_col": vec_col}
    return ann_serve(
        meta, enc, emb.filter(F.col(id_col) < num_queries), k, nprobe
    )


def _ivfpq_adc_scored(
    enc: DataFrame,
    cents: list[list[float]],
    codebook: list[list[list[float]]],
    qrows: list,
    nprobe: int = 2,
    id_col: str = "vec_id",
    carry_cols: tuple = (),
) -> DataFrame:
    """The residual-ADC-scored (query_id, neighbor_id, __d2
    [, carry_cols…]) frame both IVF-PQ serve shapes reduce — see
    ``_pq_adc_scored``."""
    spark = enc.sparkSession
    m = len(codebook)
    cb_np = [np.asarray(sub, dtype=np.float64) for sub in codebook]
    qvs = [[float(x) for x in qr[1]] for qr in qrows]
    picks = _ranked_cells(qvs, cents, nprobe) if qrows else []
    metas, residuals = [], []
    for qr, qv, ranked in zip(qrows, qvs, picks):
        for ci in ranked:
            metas.append((ci, qr[0]))
            residuals.append([x - y for x, y in zip(qv, cents[ci])])
    from pyspark.sql import types as T

    probes = _lut_probes_frame(
        spark,
        metas,
        _query_luts_np_batch(
            np.asarray(residuals, dtype=np.float64), cb_np
        ) if metas else
        np.empty((0, m, len(codebook[0])), dtype=np.float64),
        [
            ("cell", T.IntegerType()),
            ("query_id", enc.schema[id_col].dataType),
        ],
    )
    # Static cell prefilter: the join alone would SCAN every cell and
    # discard; an IN over the distinct probed cells (≤ num_centroids
    # values — bounded by the quantizer, not the query count) reaches
    # the parquet scan as a pushed filter, so unprobed cells are never
    # read (the IVF promise survives storage — plan-asserted in
    # tests/test_ann_index.py).
    probed_cells = sorted({ci for ci, _ in metas})
    return (
        enc.filter(F.col("cell").isin(probed_cells))
        .join(F.broadcast(probes), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.expr(_adc_lookup_expr(m)).alias("__d2"),
            *carry_cols,
        )
    )


def ivfpq_adc_score(
    enc: DataFrame,
    cents: list[list[float]],
    codebook: list[list[list[float]]],
    qrows: list,
    k: int,
    nprobe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Residual-ADC scoring over an already-built IVF-PQ index — the
    query-time half ``ann_serve`` runs for every IVF-PQ index, as one
    call (the two-pass reference the fused refine is pinned against).
    Python cell picks replay SQL's
    exact IEEE cosine fold (``_py_cosine``), so probed cells match the
    stored ``cell`` column bit-for-bit.

    Plan shape: ONE broadcast equi-join on ``cell``, constant in both
    the number of queries and ``nprobe`` — each (query, probed cell)
    pair is a ROW of a broadcast (cell, query_id, residual-LUT) frame,
    so an encoded row is scored exactly against the queries probing
    its cell (the IVF promise as a join predicate) with the same
    left-to-right ADC fold (bit-identical to the former per-(query,
    cell) spliced sub-plans)."""
    return _adc_topk(
        _ivfpq_adc_scored(enc, cents, codebook, qrows, nprobe, id_col), k
    )


# ---------------------------------------------------------------------------
# Sampled (driver-side) training, the two encoders and the one serve —
# the SERVING-GRADE ANN recipe.
#
# Production vector indexes train on a BOUNDED host-side sample (FAISS:
# ~100k vectors regardless of corpus size) and only the ENCODE pass is
# data-scale.  The same split here: `sample_vectors` takes a
# deterministic hash-ordered sample (map-side partial top-n — the
# driver never sees more than `n` rows no matter the corpus size),
# numpy Lloyd's runs on the driver in milliseconds, and the trained
# literals feed the distributed encoders `ann_encode` picks.
#
# Recall at serving quality additionally needs the FAISS "refine"
# stage (IndexRefineFlat): ADC ranks a SHORTLIST (refine >> k), and
# the true top-k is recovered by exact scoring of only the shortlist's
# raw vectors — NQ*refine rows, never a second full scan of raw floats.
# ---------------------------------------------------------------------------


def sample_vectors(
    emb: DataFrame,
    n: int = 16384,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic bounded training sample as a (n, dim) float64
    array.

    Hash-ordered ``limit`` — Spark plans ``orderBy(hash).limit(n)`` as
    TakeOrdered: each partition keeps its local top-``n`` by xxhash64
    and only those reach the driver, so the collect is bounded by
    ``n`` at any corpus size and the sample is an unbiased,
    replayable pseudo-random draw (no ``Math.random``/sampleBy seed
    drift across retries). Rows are re-sorted by id driver-side so
    k-means' first-``k`` init is stable regardless of hash order."""
    rows = (
        emb.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(n)
        .collect()
    )
    if not rows:
        raise ValueError("empty corpus")
    rows.sort(key=lambda r: r[0])
    return np.array(
        [[float(x) for x in r[1]] for r in rows], dtype=np.float64
    )


def kmeans_train_local(
    X: np.ndarray,
    k: int,
    iterations: int = 10,
    metric: str = "l2",
) -> list[list[float]]:
    """Lloyd's k-means on a driver-side sample (numpy float64):
    first-``k`` init, empty cells keep their previous centroid,
    ``metric`` = "l2" argmin distance / "cosine" argmax cosine (the
    encoders' cell pick, ``_cosine_cells``)."""
    if len(X) < k:
        raise ValueError(f"sample of {len(X)} rows cannot seed k={k}")
    C = X[:k].copy()
    for _ in range(iterations):
        if metric == "cosine":
            a = _cosine_cells(X, C)
        else:
            # ‖x−c‖² via the expanded form: argmin unaffected by ‖x‖²
            d2 = (C * C).sum(1)[None, :] - 2.0 * (X @ C.T)
            a = d2.argmin(1)
        for c in range(k):
            sel = a == c
            if sel.any():
                C[c] = X[sel].mean(0)
    return C.tolist()


def pq_codebook_local(
    X: np.ndarray, m: int = 16, num_codes: int = 256, iterations: int = 10
) -> list[list[list[float]]]:
    """Per-subspace L2 k-means over a driver-side sample — the
    ``pq_codebook`` return layout, so every encoder/scorer takes it
    unchanged."""
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return [
        kmeans_train_local(
            X[:, j * dsub:(j + 1) * dsub], num_codes, iterations, "l2"
        )
        for j in range(m)
    ]


def _cosine_cells(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Per-row argmax-cosine cell, bit for bit the SQL encoders' pick
    (``_ARGMAX_CELL`` over ``_cosine_vs_literal_exprs``): the cosines
    are ``_py_cosine_matrix``'s left folds and ``argmax`` keeps the
    first (lowest) cell on ties. A zero-norm row has all-NaN cosines
    and lands in cell 0."""
    return _py_cosine_matrix(X, C).argmax(1)


def _pq_argmin(
    X: np.ndarray, cb: list[np.ndarray]
) -> tuple[np.ndarray, np.ndarray]:
    """(codes, err): each row's nearest codeword per subspace and the
    summed squared distance to them. The distances are
    ``_query_luts_np_batch``'s left folds — the SQL encoders' ``P.l2sq``
    sequence — and ``argmin`` keeps the first code on ties, like
    ``array_position(d², array_min(d²))``; rows are chunked so the
    (rows, codes, dsub) temporaries stay small."""
    n, m = len(X), len(cb)
    codes = np.empty((n, m), dtype=np.int32)
    err = np.zeros(n)
    for lo in range(0, n, 1024):
        d2 = _query_luts_np_batch(X[lo:lo + 1024], cb)
        codes[lo:lo + 1024] = d2.argmin(2)
        for j in range(m):
            err[lo:lo + 1024] += d2[:, j, :].min(1)
    return codes, err


def _encode_arrow(
    emb: DataFrame,
    cents: list[list[float]] | None,
    codebook: list[list[list[float]]],
    id_col: str,
    vec_col: str,
    keep_vec: bool = False,
) -> DataFrame:
    """``_encode_sql``'s Arrow twin for LARGE codebooks: the same
    (id[, cell], codes[, vector]) frame, cell for cell and code for
    code (``_cosine_cells`` and ``_pq_argmin`` fold like the SQL).

    The expression encoder splices m·num_codes literal folds into one
    projection — fine at oracle scale (16 codes), but at the serving
    scale this engine trains (256 codes x m=16 = 4096 spliced folds)
    the generated code blows past JIT limits. Here the parameters ride
    the closure as numpy constants and each Arrow batch is one kernel
    call — still map-side, still zero corpus shuffle."""
    import pandas as pd

    C = None if cents is None else np.asarray(cents, dtype=np.float64)
    cb = [np.asarray(sub, dtype=np.float64) for sub in codebook]

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            out = {id_col: pdf[id_col]}
            if C is not None:
                cell = _cosine_cells(X, C)
                out["cell"] = cell.astype(np.int32)
                X = X - C[cell]
            out["codes"] = [c.tolist() for c in _pq_argmin(X, cb)[0]]
            if keep_vec:
                out[vec_col] = pdf[vec_col]
            yield pd.DataFrame(out)

    schema = [f"{id_col} {emb.schema[id_col].dataType.simpleString()}"]
    if C is not None:
        schema.append("cell int")
    schema.append("codes array<int>")
    if keep_vec:
        schema.append(
            f"{vec_col} {emb.schema[vec_col].dataType.simpleString()}"
        )
    return emb.select(id_col, vec_col).mapInPandas(gen, ", ".join(schema))


def exact_rerank(
    shortlist: DataFrame,
    emb: DataFrame,
    qrows: list,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """FAISS-refine stage: exact cosine top-``k`` over an ADC
    SHORTLIST. Output: (query_id, neighbor_id, cosine, knn_rank) —
    the ``brute_force_knn`` contract, because with the true top-k in
    the shortlist the result IS the brute-force answer.

    Scale shape: the shortlist (NQ·refine rows, driver-known small) is
    broadcast into a hash join against the corpus — a map-side point
    lookup of raw vectors, never a second full-corpus float scan; the
    query vectors ride a second broadcast; exact scoring is the same
    portable cosine fold as brute force; the reduction is the shared
    two-phase top-k.

    Measured non-option (round 9): collecting the shortlist and
    pushing its ids into the scan as an ``In`` literal looked like a
    win on paper (skip the broadcast-subplan job, prune row groups)
    but A/B'd SLOWER warm at sf0.1 (best 4.46 s vs 2.38 s, 64
    queries × refine=100) — a 6,400-literal predicate costs more to
    evaluate than the one broadcast job it saves, and parquet In
    pushdown degrades to a min/max range above the pushdown
    threshold. The broadcast-join shape stays."""
    from pyspark.sql import types as T

    spark = emb.sparkSession
    qdf = spark.createDataFrame(
        [(qr[0], [float(x) for x in qr[1]]) for qr in qrows],
        T.StructType(
            [
                T.StructField("query_id", emb.schema[id_col].dataType),
                T.StructField("__qv", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    cand = shortlist.select("query_id", "neighbor_id")
    scored = (
        emb.join(
            F.broadcast(cand),
            F.col(id_col) == F.col("neighbor_id"),
        )
        .join(F.broadcast(qdf), "query_id")
        .withColumn("__cos", F.expr(P.cosine(vec_col, "__qv", P.SPARK)))
    )
    return _two_phase_topk(
        scored,
        "query_id",
        [F.col("__cos").desc(), F.col("neighbor_id")],
        k,
    ).select(
        "query_id",
        "neighbor_id",
        F.expr(P.round_dbl("__cos", 6, P.SPARK)).alias("cosine"),
        "knn_rank",
    )


def _fused_refine(
    scored_v: DataFrame,
    id_type,
    qrows: list,
    refine: int,
    k: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC shortlist + exact refine in ONE job (FAISS
    IndexRefineFlat's serve, without the second pass): ``scored_v``
    carries each candidate's RAW vector through the approximate
    scoring, so the top-``refine`` survivors re-rank by exact cosine
    in place — no mid-plan broadcast of a computed shortlist, no
    second corpus scan for vector lookup. Returns the
    ``brute_force_knn`` contract (query_id, neighbor_id, cosine,
    knn_rank), bit-identical to ``pq_adc_score`` → ``exact_rerank``
    (same survivor set under the same total order, same IEEE cosine
    fold, same two-phase final top-k).

    Scale shape: the vector column rides only map-side until the
    shortlist's partial top-k prunes each partition to ≤ |queries| ·
    ``refine`` rows — the one exchange carries ≤ partitions ·
    |queries| · ``refine`` vectors, bounded by the serve contract,
    never the corpus."""
    from pyspark.sql import types as T

    spark = scored_v.sparkSession
    shortlist = _two_phase_topk(
        scored_v,
        "query_id",
        [F.col("__d2").asc(), F.col("neighbor_id")],
        refine,
        rank_name="__srank",
    ).drop("__srank", "__d2")
    qdf = _probes_frame(
        spark,
        [(qr[0], [float(x) for x in qr[1]]) for qr in qrows],
        T.StructType(
            [
                T.StructField("query_id", id_type),
                T.StructField("__qv", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    survivors = shortlist.join(F.broadcast(qdf), "query_id").withColumn(
        "__cos", F.expr(P.cosine(vec_col, "__qv", P.SPARK))
    )
    return _two_phase_topk(
        survivors,
        "query_id",
        [F.col("__cos").desc(), F.col("neighbor_id")],
        k,
    ).select(
        "query_id",
        "neighbor_id",
        F.expr(P.round_dbl("__cos", 6, P.SPARK)).alias("cosine"),
        "knn_rank",
    )


# Above this many codes per subspace the expression encoder's spliced
# literal folds (m * num_codes of them) blow past JIT method limits, so
# ann_encode switches to the Arrow encoder (same cells and codes).
_VECTORIZE_ABOVE = 32


def ann_encode(
    emb: DataFrame, meta: dict, keep_vec: bool = False
) -> DataFrame:
    """Encode ``emb`` under an index's parameters — the ONE place an
    encoder is picked. ``meta`` is the index's parameter dict (what an
    artifact's ``meta.json`` stores: ``kind``, ``centroids``,
    ``codebook``, ``id_col``, ``vec_col``); the in-session build, the
    persistent writer and the append sink all encode through here, so
    base ∪ appended rows always equal a one-shot encode.

    ``ivfflat`` → (id, cell, vector), the spliced-literal cell tag;
    ``pq`` → (id, codes) and ``ivfpq`` → (id, cell, codes): SQL
    expressions up to ``_VECTORIZE_ABOVE`` codes per subspace, the
    Arrow kernel above (the two agree cell for cell and code for code).
    ``keep_vec`` carries the raw vector column through a PQ encode —
    the in-session shape the fused refine serve reads."""
    kind = meta["kind"]
    idc, vc = meta["id_col"], meta.get("vec_col", "embedding")
    if kind == "ivfflat":
        return ivf_flat_encode(emb, meta["centroids"], idc, vc)
    if kind not in ("pq", "ivfpq"):
        raise ValueError(f"unknown index kind {kind!r}")
    cb = meta["codebook"]
    encode = _encode_arrow if len(cb[0]) > _VECTORIZE_ABOVE else _encode_sql
    cents = meta["centroids"] if kind == "ivfpq" else None
    return encode(emb, cents, cb, idc, vc, keep_vec)


def ann_serve(
    meta: dict,
    enc: DataFrame,
    queries,
    k: int,
    nprobe: int = 2,
    refine: int | None = None,
    rerank_against: DataFrame | None = None,
) -> DataFrame:
    """Top-``k`` neighbors of each query row against an encoded index —
    the ONE place a scorer is picked. ``queries`` is an (id, vector)
    frame in the index's columns, collected driver-side (the bounded
    small side, ``brute_force_knn``'s broadcast convention), or an
    already-collected id-ordered row list; no rows → a typed empty
    frame with the columns the call returns with rows (the argument
    errors below are raised either way).

    ``ivfflat``: exact cosine inside the ``nprobe`` probed cells
    (``ivfflat_score``); ``refine`` does not apply. ``pq`` / ``ivfpq``:
    ADC over all codes / the probed cells' codes (``pq_adc_score`` /
    ``ivfpq_adc_score``'s scoring), (query_id, neighbor_id, approx_d2,
    knn_rank). With ``refine``, an ADC shortlist of ``refine``
    candidates re-ranks by exact cosine to the ``brute_force_knn``
    contract (query_id, neighbor_id, cosine, knn_rank), in the shape the
    frame allows: an ``enc`` that carries the vector column (an
    in-session build) refines in place in one job (``_fused_refine``);
    a codes-only frame (a persistent artifact) looks the shortlist's
    vectors up in ``rerank_against`` (``exact_rerank``). The two shapes
    are bit-identical."""
    idc, vc = meta["id_col"], meta.get("vec_col", "embedding")
    kind = meta["kind"]
    if kind not in ("pq", "ivfpq", "ivfflat"):
        raise ValueError(f"unknown index kind {kind!r}")
    if kind == "ivfflat" and refine is not None:
        raise ValueError(
            "ivfflat scores exact cosine inside probed cells; "
            "refine/rerank does not apply"
        )
    fused = refine is not None and vc in enc.columns
    if refine is not None and not fused and rerank_against is None:
        raise ValueError("refine requires rerank_against")
    qrows = (
        list(queries)
        if isinstance(queries, list)
        else queries.orderBy(idc).select(idc, vc).collect()
    )
    if not qrows:
        score = "approx_d2" if kind != "ivfflat" and refine is None else "cosine"
        return _empty_ann_result(enc.select(F.col(idc)), idc, score)
    if kind == "ivfflat":
        return ivfflat_score(enc, meta["centroids"], qrows, k, nprobe, idc, vc)
    carry = (vc,) if fused else ()
    if kind == "pq":
        scored = _pq_adc_scored(enc, meta["codebook"], qrows, idc, carry)
    else:
        scored = _ivfpq_adc_scored(
            enc, meta["centroids"], meta["codebook"], qrows, nprobe, idc,
            carry,
        )
    if refine is None:
        return _adc_topk(scored, k)
    if fused:
        return _fused_refine(
            scored, enc.schema[idc].dataType, qrows, refine, k, vc
        )
    return exact_rerank(
        _adc_topk(scored, refine), rerank_against, qrows, k, idc, vc
    )


def ivf_flat_encode(
    emb: DataFrame,
    cents: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, vector) — the IVF-Flat index build (FAISS
    IndexIVFFlat): every vector tagged with its nearest trained
    centroid, raw vectors KEPT, so search is exact cosine inside
    probed cells — no compression loss, no refine stage. The cell pick
    is ``ivf_pq_index``'s spliced-literal argmax: map-side, zero
    corpus shuffle, and the vector column passes through untouched so
    query-time scoring folds the exact bits the corpus shipped with.

    The index quadrant this completes (storage bytes/vector vs
    query-time distances): brute force (4·dim, exact, full scan) /
    IVF-Flat (4·dim, exact, probed cells) / PQ (m, approximate, full
    code scan) / IVF-PQ (m, approximate, probed codes)."""
    n2_expr, coss = _cosine_vs_literal_exprs(vec_col, cents)
    cos_arr = "array(" + ", ".join(coss) + ")"
    return (
        emb.select(
            F.col(id_col), F.col(vec_col), F.expr(n2_expr).alias("__n2")
        )
        .withColumn("__cosarr", F.expr(cos_arr))
        .select(
            F.col(id_col),
            F.expr(_ARGMAX_CELL).alias("cell"),
            F.col(vec_col),
        )
    )


# argmax over the factored cosine array — first (lowest) cell on ties,
# exact double comparison, the array built once in its own column
_ARGMAX_CELL = (
    "CAST(array_position(__cosarr, array_max(__cosarr)) - 1 AS INT)"
)


def _cosine_vs_literal_exprs(
    vec_col: str, cents: list[list[float]]
) -> tuple[str, list[str]]:
    """(``__n2`` expr, per-centroid cosine exprs referencing it) —
    P.cosine against each spliced centroid with the two invariant
    subtrees factored out: ``dot(a, a)`` becomes ONE ``__n2`` column
    (identical value, one fold instead of |cents|), and each
    centroid's self-dot is precomputed driver-side with the same
    left-fold IEEE sequence (0.0 + x·x + …, the _py_cosine loop) and
    spliced as a single strtod literal. Every cosine VALUE is bitwise
    unchanged — only the expression tree shrinks (~5x on a 16x64
    quantizer; guide §3.3/§7.3: plan size is driver-side fixed cost).
    """
    n2_expr = P.dot(vec_col, vec_col, P.SPARK)
    coss = []
    for c in cents:
        n2b = 0.0
        for y in c:
            n2b += float(y) * float(y)
        coss.append(
            f"({P.dot(vec_col, P.vec_literal(c, P.SPARK), P.SPARK)})"
            f" / sqrt((__n2) * (CAST('{n2b!r}' AS DOUBLE)))"
        )
    return n2_expr, coss


def ivfflat_score(
    enc: DataFrame,
    cents: list[list[float]],
    qrows: list,
    k: int,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-``k`` within probed cells of a built IVF-Flat
    index — the ``brute_force_knn`` contract (query_id, neighbor_id,
    cosine, knn_rank). Same serving plan as ``ivfpq_adc_score``: each
    (query, probed cell) pair is a ROW of one broadcast
    (cell, query_id, query-vector) frame joined once on ``cell``
    (constant plan in the query count), with the static IN prefilter
    over the ≤ num_centroids distinct probed cells reaching the
    parquet scan as a pushed filter. Python cell picks replay SQL's
    exact IEEE cosine fold (``_py_cosine``), so probed cells match the
    stored ``cell`` column bit-for-bit; with
    ``nprobe = num_centroids`` the result IS brute force."""
    from pyspark.sql import types as T

    spark = enc.sparkSession
    qvs = [[float(x) for x in qr[1]] for qr in qrows]
    picks = _ranked_cells(qvs, cents, nprobe) if qrows else []
    probe_rows = [
        (ci, qr[0], qv)
        for qr, qv, ranked in zip(qrows, qvs, picks)
        for ci in ranked
    ]
    probes = _probes_frame(
        spark,
        probe_rows,
        T.StructType(
            [
                T.StructField("cell", T.IntegerType()),
                T.StructField("query_id", enc.schema[id_col].dataType),
                T.StructField("__qv", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    probed_cells = sorted({r[0] for r in probe_rows})
    scored = (
        enc.filter(F.col("cell").isin(probed_cells))
        .join(F.broadcast(probes), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.expr(P.cosine(vec_col, "__qv", P.SPARK)).alias("__cos"),
        )
    )
    return _two_phase_topk(
        scored,
        "query_id",
        [F.col("__cos").desc(), F.col("neighbor_id")],
        k,
    ).select(
        "query_id",
        "neighbor_id",
        F.expr(P.round_dbl("__cos", 6, P.SPARK)).alias("cosine"),
        "knn_rank",
    )


# --- exact-reproducible k-means (cross-engine-checkable trainer) ------------
# A distributed Lloyd's would keep trained centroids out of oracle rows:
# its per-cell double sums are partition-order dependent at the ULP
# level, and kmeans_train_local's numpy means are too. This trainer
# removes that caveat for BOUNDED samples (the FAISS train-on-a-sample
# convention): every op
# is one pinned IEEE sequence — first-k init over the id-ordered
# sample, cosine assignment via the _py_cosine fold with first-max
# tie-break (⇔ row_number ORDER BY cos DESC, cid), centroid mean =
# id-ordered left-fold sum / n, empty cells keep their previous
# centroid — so a DuckDB twin (kmeans_exact_cent_ctes) re-derives the
# centroids BITWISE and a trained quantizer can sit inside a
# driver-value-checked row end to end.


def _py_l2sq(a: list[float], b: list[float]) -> float:
    """Driver-side twin of P.l2sq's left-fold IEEE sequence."""
    s = 0.0
    for x, y in zip(a, b):
        d = x - y
        s += d * d
    return s


def _kmeans_exact_core(
    X: list[list[float]], k: int, iterations: int, metric: str
) -> list[list[float]]:
    """The pinned-IEEE Lloyd's loop over pre-collected rows — the
    shared core of ``kmeans_train_exact`` (whole vectors, cosine) and
    ``pq_codebook_exact`` (subvector slices, l2). First-best scan with
    strict improvement keeps the LOWEST index on ties — exactly the
    SQL twin's ``row_number ORDER BY score, cid``."""
    if len(X) < k:
        raise ValueError(f"sample of {len(X)} rows cannot seed k={k}")
    cents = [list(X[i]) for i in range(k)]
    for _ in range(iterations):
        assign: list[int] = []
        for x in X:
            best = None
            bi = 0
            for ci, c in enumerate(cents):
                if metric == "cosine":
                    s = _py_cosine(x, c)
                    better = best is None or s > best
                else:
                    s = _py_l2sq(x, c)
                    better = best is None or s < best
                if better:
                    best, bi = s, ci
            assign.append(bi)
        new = []
        for ci in range(k):
            members = [X[i] for i in range(len(X)) if assign[i] == ci]
            if not members:
                new.append(cents[ci])
                continue
            dim = len(members[0])
            c = []
            for j in range(dim):
                s = 0.0
                for m in members:
                    s += m[j]
                c.append(s / len(members))
            new.append(c)
        if metric == "cosine":
            # a centroid that degenerates to the zero vector makes
            # cosine NaN, and NaN ordering diverges between Python's
            # strict-improvement scan and DuckDB's NaN-sorts-highest
            # DESC — raise rather than silently losing bitwise parity
            # (mirrors the zero-norm sample guard in the callers)
            for ci, c in enumerate(new):
                n2 = 0.0
                for v in c:
                    n2 += v * v
                if n2 == 0.0:
                    raise ValueError(
                        f"centroid {ci} degenerated to zero norm "
                        "during k-means update; cosine parity with "
                        "the SQL twin is undefined"
                    )
        cents = new
    return cents


def _assert_contiguous_ids(ids: list[int], what: str) -> None:
    """The exact trainers' bitwise parity with kmeans_exact_cent_ctes
    depends on the id-ordered sample's FIRST k rows being exactly the
    rows ``WHERE id < k`` (the CTE's seed) — i.e. ids 0-based and
    contiguous within the sample. Enforce it instead of silently
    training different centroids on sparse/offset ids."""
    for pos, i in enumerate(ids):
        if i != pos:
            raise ValueError(
                f"{what} requires 0-based contiguous {len(ids)} ids "
                f"(SQL twin seeds WHERE id < k); got id {i} at "
                f"position {pos}"
            )


def kmeans_train_exact(
    emb: DataFrame,
    k: int = 8,
    iterations: int = 3,
    sample_n: int = 128,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    head_rows: list | None = None,
) -> list[list[float]]:
    """Lloyd's k-means on the id-ordered first-``sample_n`` sample,
    every step a pinned IEEE sequence (module comment above). Returns
    centroids as plain double lists — splice via ``P.vec_literal``
    into the same serving plans the sampled/trained quantizers feed.

    Requires nonzero-norm vectors in the sample (cosine is undefined
    on zero vectors and NaN ordering would diverge between engines)
    AND 0-based contiguous ids in [0, len(sample)) — the SQL twin
    seeds its centroids ``WHERE id < k``, so the first k rows of the
    id-ordered sample must be exactly those rows; raises rather than
    silently diverging.

    ``head_rows``: a pre-collected id-ordered (id, vec) prefix
    covering at least ``id < sample_n`` (catalog.load_head_rows) —
    value-sliced here, so one shared collect serves every trainer."""
    rows = (
        [r for r in head_rows if int(r[0]) < sample_n]
        if head_rows is not None
        else emb.filter(F.col(id_col) < sample_n)
        .orderBy(id_col)
        .select(id_col, vec_col)
        .collect()
    )
    _assert_contiguous_ids([int(r[0]) for r in rows], "kmeans_train_exact")
    X = [[float(x) for x in r[1]] for r in rows]
    for x in X:
        n2 = 0.0
        for v in x:
            n2 += v * v
        if n2 == 0.0:
            raise ValueError("zero-norm vector in k-means sample")
    return _kmeans_exact_core(X, k, iterations, "cosine")


def pq_codebook_exact(
    emb: DataFrame,
    m: int = 8,
    num_codes: int = 4,
    iterations: int = 3,
    sample_n: int = 128,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    head_rows: list | None = None,
) -> list[list[list[float]]]:
    """Per-subspace L2 k-means with the exact-reproducible core — the
    TRAINED product-quantization codebook a DuckDB twin
    (``kmeans_exact_cent_ctes(metric='l2', slice_at=…)`` per subspace)
    re-derives bitwise. Same return layout as ``pq_codebook`` /
    ``pq_codebook_local``, so every encoder/scorer takes it
    unchanged. ONE collect of the id-ordered sample; each subspace
    trains on its slice. Same contiguous-id contract as
    ``kmeans_train_exact`` (SQL twin seeds ``WHERE id < num_codes``).
    ``head_rows``: pre-collected id-ordered (id, vec) prefix, as in
    ``kmeans_train_exact``."""
    rows = (
        [r for r in head_rows if int(r[0]) < sample_n]
        if head_rows is not None
        else emb.filter(F.col(id_col) < sample_n)
        .orderBy(id_col)
        .select(id_col, vec_col)
        .collect()
    )
    _assert_contiguous_ids([int(r[0]) for r in rows], "pq_codebook_exact")
    X = [[float(x) for x in r[1]] for r in rows]
    if not X:
        raise ValueError("empty k-means sample")
    dim = len(X[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return [
        _kmeans_exact_core(
            [x[j * dsub:(j + 1) * dsub] for x in X],
            num_codes,
            iterations,
            "l2",
        )
        for j in range(m)
    ]


def kmeans_exact_cent_ctes(
    k: int,
    iterations: int,
    dim: int,
    sample_n: int,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
    slice_at: tuple[int, int] | None = None,
    prefix: str = "km",
) -> str:
    """DuckDB CTE chain re-deriving ``kmeans_train_exact`` /
    ``pq_codebook_exact`` bitwise — iterations UNROLLED as successive
    CTEs (no recursive correlation needed; the count is a compile-time
    constant, the BPE-oracle discipline). Ends with
    ``{prefix}cent(cid, cv)``: one row per trained centroid, ready to
    replace a sample-quantizer ``cent``/``cb`` CTE in any serve
    derivation. Seeds ``WHERE {id_col} < k`` — the Python trainers
    enforce the matching 0-based contiguous-id sample contract
    (``_assert_contiguous_ids``).

    Op-sequence pins, one per trainer step:
    * assignment: ``row_number() OVER (ORDER BY score [DESC], cid)``
      — ``P.cosine`` (argmax) / ``P.l2sq`` (argmin) are the same
      left-fold IEEE trees as ``_py_cosine`` / ``_py_l2sq``, ties to
      the lowest cid = the trainer's strict-improvement first scan;
    * update: ``list(vec ORDER BY id)`` then a per-dimension
      left-fold ``+`` chain = the trainer's id-ordered ``s += m[j]``,
      divided by the member count (one IEEE division);
    * empty cells: COALESCE back to the previous centroid.

    ``metric``: "cosine" (coarse quantizers) or "l2" (PQ codebooks).
    ``slice_at``: (start_1based, n) trains on a subvector slice — the
    per-subspace PQ form; ``dim`` is then the SLICE width.
    ``prefix``: CTE name prefix so several chains (one per subspace)
    coexist in one WITH clause."""
    D = P.DUCK
    vexpr = (
        f"list_transform({vec_col}, x -> CAST(x AS DOUBLE))"
        if slice_at is None
        else "list_transform("
        + P.slice_(vec_col, str(slice_at[0]), slice_at[1], D)
        + ", x -> CAST(x AS DOUBLE))"
    )
    order = (
        f"{P.cosine('v', 'cv', D)} DESC"
        if metric == "cosine"
        else f"{P.l2sq('v', 'cv', D)} ASC"
    )
    px = prefix
    out = [
        f"""{px}samp AS (
      SELECT {id_col} AS vid, {vexpr} AS v
      FROM {table} WHERE {id_col} < {sample_n}
    ),
    {px}c0 AS (
      SELECT vid AS cid, v AS cv FROM {px}samp WHERE vid < {k}
    )"""
    ]
    mean_expr = (
        f"list_transform(range(1, {dim + 1}), j -> "
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(vecs, m -> m[j])), (acc, x) -> acc + x) / n)"
    )
    for i in range(1, iterations + 1):
        p = f"{px}c{i - 1}"
        out.append(f"""{px}asg{i} AS (
      SELECT vid, v, cid,
             row_number() OVER (
               PARTITION BY vid
               ORDER BY {order}, cid
             ) AS rnk
      FROM {px}samp CROSS JOIN {p}
    ),
    {px}mem{i} AS (
      SELECT cid, count(*) AS n, list(v ORDER BY vid) AS vecs
      FROM {px}asg{i} WHERE rnk = 1 GROUP BY cid
    ),
    {px}c{i} AS (
      SELECT prev.cid,
             COALESCE(u.c, prev.cv) AS cv
      FROM {p} prev
      LEFT JOIN (SELECT cid, {mean_expr} AS c FROM {px}mem{i}) u
        ON u.cid = prev.cid
    )""")
    out.append(
        f"{px}cent AS (SELECT cid, cv FROM {px}c{iterations})"
    )
    return ",\n    ".join(out)
