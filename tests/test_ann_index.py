"""Persistent ANN index: a query against the stored artifact must be
BIT-IDENTICAL to the fresh in-session build (floats round-trip JSON
exactly; the encode and scoring dispatches are literally shared
code)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from example_kafkastreams_spark.catalog import load_table
from example_kafkastreams_spark.operators.ann_index import (
    ann_build,
    ann_index_query,
    ann_index_read,
)
from example_kafkastreams_spark.operators.knn import (
    ann_serve,
    ivf_pq_ann,
    ivf_pq_index,
    pq_ann,
    pq_codebook,
)

SMOKE = "/root/testdata/sf0.001"
_IVFPQ = {"kind": "ivfpq", "num_centroids": 4, "m": 8, "num_codes": 16}


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _sample_pq(emb, m=8, num_codes=16):
    """pq_ann's deterministic first-``num_codes`` codebook."""
    return {"kind": "pq", "codebook": pq_codebook(emb, m, num_codes)}


def _sample_ivfpq(emb, num_centroids=8, m=8, num_codes=16):
    """ivf_pq_ann's deterministic-sample centroids and codebook."""
    _, cents, cb = ivf_pq_index(
        emb, num_centroids, m, num_codes, persist=False
    )
    return {"kind": "ivfpq", "centroids": cents, "codebook": cb}


def test_pq_index_roundtrip_matches_fresh_build(spark, tmp_path):
    emb = load_table(spark, SMOKE, "embeddings")
    path = str(tmp_path / "pq_idx")
    ann_build(emb, _sample_pq(emb), path)

    enc, meta = ann_index_read(spark, path)
    assert meta["kind"] == "pq" and len(meta["codebook"]) == 8
    assert enc.columns == ["vec_id", "codes"]

    queries = emb.filter(F.col("vec_id") < 8)
    got = ann_index_query(spark, path, queries, k=3)
    want = pq_ann(emb, num_queries=8, k=3, m=8, num_codes=16)
    assert _rows(got) == _rows(want)


def test_ivfpq_index_roundtrip_matches_fresh_build(spark, tmp_path):
    emb = load_table(spark, SMOKE, "embeddings")
    path = str(tmp_path / "ivfpq_idx")
    ann_build(emb, _sample_ivfpq(emb), path)

    enc, meta = ann_index_read(spark, path)
    assert meta["kind"] == "ivfpq" and len(meta["centroids"]) == 8
    assert enc.columns == ["vec_id", "cell", "codes"]

    queries = emb.filter(F.col("vec_id") < 8)
    got = ann_index_query(spark, path, queries, k=3, nprobe=2)
    want = ivf_pq_ann(emb, num_queries=8, k=3, nprobe=2)
    assert _rows(got) == _rows(want)


def test_ivfpq_index_query_prunes_cells(spark, tmp_path):
    """The probed-cell predicate must reach the codes parquet scan as
    a pushed filter — the IVF promise survives storage."""
    from example_kafkastreams_spark.plans import pushed_filters

    emb = load_table(spark, SMOKE, "embeddings")
    path = str(tmp_path / "ivfpq_idx2")
    ann_build(emb, _sample_ivfpq(emb), path)
    queries = emb.filter(F.col("vec_id") < 2)
    out = ann_index_query(spark, path, queries, k=3, nprobe=1)
    pushed = " ".join(pushed_filters(out))
    # single probed cell compiles to EqualTo, several to In — either
    # way the cell predicate must reach the scan
    assert "EqualTo(cell" in pushed or "In(cell" in pushed, pushed


def test_trained_ivfpq_index_serve_matches_fresh_build(spark, tmp_path):
    """The deployable split: train + encode + persist ONCE
    (``ann_build`` to a path), then serve with ADC-shortlist + exact
    refine from the artifact — bit-identical to the in-session build
    (same deterministic sample, literally shared scoring/refine code,
    floats round-trip JSON exactly)."""
    emb = load_table(spark, SMOKE, "embeddings")
    train = dict(sample_n=256, iterations=4)
    live, enc = ann_build(emb, _IVFPQ, **train)
    cents, cb = live["centroids"], live["codebook"]
    path = str(tmp_path / "ivfpq_trained")
    ann_build(emb, _IVFPQ, path, **train)

    _, meta = ann_index_read(spark, path)
    assert meta["num_centroids"] == 4 and meta["m"] == 8
    assert meta["centroids"] == cents and meta["codebook"] == cb

    queries = emb.filter(F.col("vec_id") < 6)
    got = ann_index_query(
        spark, path, queries, k=3, nprobe=2, refine=20,
        rerank_against=emb,
    )
    assert got.columns == ["query_id", "neighbor_id", "cosine", "knn_rank"]
    want = ann_serve(live, enc, queries, 3, nprobe=2, refine=20)
    assert _rows(got) == _rows(want)


def test_trained_pq_index_uses_arrow_encoder_above_threshold(spark, tmp_path):
    """A >32-code trained codebook must persist through the Arrow
    encoder (the expression path would splice m*num_codes literal
    folds past JIT limits at serving scale) and still round-trip:
    loaded refine+rerank == the in-session build's fused serve."""
    from example_kafkastreams_spark.operators.knn import (
        pq_codebook_local,
        sample_vectors,
    )

    emb = load_table(spark, SMOKE, "embeddings")
    X = sample_vectors(emb, 256)
    cb = pq_codebook_local(X, m=8, num_codes=48, iterations=4)
    path = str(tmp_path / "pq_trained")
    ann_build(emb, {"kind": "pq", "codebook": cb}, path)

    _, meta = ann_index_read(spark, path)
    assert meta["m"] == 8 and meta["num_codes"] == 48

    queries = emb.filter(F.col("vec_id") < 6)
    got = ann_index_query(
        spark, path, queries, k=3, refine=20, rerank_against=emb
    )
    want = ann_serve(
        *ann_build(
            emb, {"kind": "pq", "m": 8, "num_codes": 48}, sample_n=256,
            iterations=4,
        ),
        queries, 3, refine=20,
    )
    assert _rows(got) == _rows(want)


def test_ivfflat_index_roundtrip_matches_fresh_build(spark, tmp_path):
    """IVF-Flat (raw vectors, exact cosine within probed cells): the
    loaded artifact serves bit-identically to the in-session build —
    raw vectors round-trip parquet exactly, centroids round-trip JSON
    exactly, probed cells are the same driver-side ``_py_cosine``
    picks."""
    from example_kafkastreams_spark.operators.knn import (
        kmeans_train_local,
        sample_vectors,
    )

    emb = load_table(spark, SMOKE, "embeddings")
    X = sample_vectors(emb, 256)
    cents = kmeans_train_local(X, 4, 4, "cosine")
    path = str(tmp_path / "ivfflat_idx")
    ann_build(emb, {"kind": "ivfflat", "centroids": cents}, path)

    enc, meta = ann_index_read(spark, path)
    assert meta["kind"] == "ivfflat" and meta["num_centroids"] == 4
    assert enc.columns == ["vec_id", "cell", "embedding"]

    queries = emb.filter(F.col("vec_id") < 6)
    got = ann_index_query(spark, path, queries, k=3, nprobe=2)
    assert got.columns == ["query_id", "neighbor_id", "cosine", "knn_rank"]
    want = ann_serve(
        *ann_build(
            emb, {"kind": "ivfflat", "num_centroids": 4}, sample_n=256,
            iterations=4,
        ),
        queries, 3, nprobe=2,
    )
    assert _rows(got) == _rows(want)


def test_ivfflat_full_probe_is_brute_force(spark, tmp_path):
    """With nprobe = num_centroids the probe set covers every cell and
    exact in-cell scoring makes the result THE brute-force answer —
    the correctness anchor: recall loss in IVF-Flat comes only from
    the probe budget."""
    from example_kafkastreams_spark.operators.knn import brute_force_knn

    emb = load_table(spark, SMOKE, "embeddings")
    got = ann_serve(
        *ann_build(
            emb, {"kind": "ivfflat", "num_centroids": 4}, sample_n=256,
            iterations=4,
        ),
        emb.filter(F.col("vec_id") < 6), 3, nprobe=4,
    )
    want = brute_force_knn(emb, num_queries=6, k=3)
    assert _rows(got) == _rows(want)


def test_ivfflat_index_query_prunes_cells(spark, tmp_path):
    from example_kafkastreams_spark.operators.knn import (
        kmeans_train_local,
        sample_vectors,
    )
    from example_kafkastreams_spark.plans import pushed_filters

    emb = load_table(spark, SMOKE, "embeddings")
    X = sample_vectors(emb, 256)
    cents = kmeans_train_local(X, 4, 4, "cosine")
    path = str(tmp_path / "ivfflat_idx2")
    ann_build(emb, {"kind": "ivfflat", "centroids": cents}, path)
    out = ann_index_query(
        spark, path, emb.filter(F.col("vec_id") < 2), k=3, nprobe=1
    )
    pushed = " ".join(pushed_filters(out))
    assert "EqualTo(cell" in pushed or "In(cell" in pushed, pushed


def test_ivfflat_refine_raises(spark, tmp_path):
    import pytest

    from example_kafkastreams_spark.operators.knn import (
        kmeans_train_local,
        sample_vectors,
    )

    emb = load_table(spark, SMOKE, "embeddings")
    cents = kmeans_train_local(sample_vectors(emb, 256), 4, 2, "cosine")
    path = str(tmp_path / "ivfflat_idx3")
    ann_build(emb, {"kind": "ivfflat", "centroids": cents}, path)
    with pytest.raises(ValueError, match="refine"):
        ann_index_query(
            spark, path, emb.filter(F.col("vec_id") < 2), k=3,
            refine=10, rerank_against=emb,
        )


def test_refine_requires_rerank_frame(spark, tmp_path):
    import pytest

    emb = load_table(spark, SMOKE, "embeddings")
    path = str(tmp_path / "pq_idx4")
    ann_build(emb, _sample_pq(emb), path)
    with pytest.raises(ValueError, match="rerank_against"):
        ann_index_query(
            spark, path, emb.filter(F.col("vec_id") < 2), k=3, refine=10
        )


def test_empty_query_frame_returns_typed_empty(spark, tmp_path):
    emb = load_table(spark, SMOKE, "embeddings")
    path = str(tmp_path / "pq_idx3")
    ann_build(emb, _sample_pq(emb), path)
    out = ann_index_query(
        spark, path, emb.filter(F.col("vec_id") < 0), k=3
    )
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "approx_d2", "knn_rank"]


def test_empty_query_frame_keeps_the_serve_contract(spark, tmp_path):
    """An empty query frame returns the columns and types the same call
    returns with rows (a refined or ivfflat serve is the cosine
    contract), and an argument error is raised whether or not there are
    query rows."""
    from example_kafkastreams_spark.operators.knn import (
        kmeans_train_local,
        sample_vectors,
    )

    emb = load_table(spark, SMOKE, "embeddings")
    pq_path = str(tmp_path / "pq_idx5")
    ann_build(emb, _sample_pq(emb), pq_path)
    flat_path = str(tmp_path / "ivfflat_idx5")
    cents = kmeans_train_local(sample_vectors(emb, 256), 4, 2, "cosine")
    ann_build(emb, {"kind": "ivfflat", "centroids": cents}, flat_path)

    some, none = emb.filter(F.col("vec_id") < 2), emb.filter(F.col("vec_id") < 0)
    for path, kw in (
        (pq_path, {"refine": 10, "rerank_against": emb}),
        (flat_path, {}),
    ):
        full = ann_index_query(spark, path, some, k=3, **kw)
        empty = ann_index_query(spark, path, none, k=3, **kw)
        assert "cosine" in full.columns
        assert [(f.name, f.dataType) for f in empty.schema] == [
            (f.name, f.dataType) for f in full.schema
        ], path
        assert empty.count() == 0
    for queries in (some, none):
        with pytest.raises(ValueError, match="refine"):
            ann_index_query(
                spark, flat_path, queries, k=3, refine=10, rerank_against=emb
            )
        with pytest.raises(ValueError, match="rerank_against"):
            ann_index_query(spark, pq_path, queries, k=3, refine=10)


def test_ann_index_append_sink_matches_full_encode(spark, tmp_path):
    """Streaming index maintenance: day-1 trained build + two appended
    micro-batches must serve BIT-IDENTICALLY to a one-shot encode of
    the full corpus with the same frozen parameters (encode is
    row-wise in them — the FAISS add() contract), a replayed batch
    must leave the store unchanged, and the probed-cell pushdown must
    survive the base∪delta union."""
    from example_kafkastreams_spark.operators.ann_index import (
        ann_index_append_sink,
    )
    from example_kafkastreams_spark.operators.knn import (
        ann_encode,
        exact_rerank,
        ivfpq_adc_score,
    )
    from example_kafkastreams_spark.plans import pushed_filters

    emb = load_table(spark, SMOKE, "embeddings")
    day1 = emb.filter(F.col("vec_id") % 3 != 0)
    path = str(tmp_path / "ivfpq_live")
    meta, _ = ann_build(day1, _IVFPQ, path, sample_n=256, iterations=4)

    sink = ann_index_append_sink(spark, path, run_id="run-1")
    batch0 = emb.filter(F.col("vec_id") % 6 == 0)
    sink(batch0, 0)
    sink(emb.filter(F.col("vec_id") % 6 == 3), 1)

    queries = emb.filter(F.col("vec_id") < 6)
    got = ann_index_query(
        spark, path, queries, k=3, nprobe=2, refine=20,
        rerank_against=emb,
    )
    qrows = (
        emb.filter(F.col("vec_id") < 6)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    cents, cb = meta["centroids"], meta["codebook"]
    want = exact_rerank(
        ivfpq_adc_score(ann_encode(emb, meta), cents, cb, qrows, 20, 2),
        emb,
        qrows,
        3,
    )
    assert _rows(got) == _rows(want)

    # crash replay of batch 0: dynamic overwrite rewrites its own
    # leaf; the served result is unchanged
    sink(batch0, 0)
    again = ann_index_query(
        spark, path, queries, k=3, nprobe=2, refine=20,
        rerank_against=emb,
    )
    assert _rows(again) == _rows(got)

    # the In(cell) prefilter still reaches BOTH scans of the union
    shortlist = ann_index_query(spark, path, queries, k=3, nprobe=1)
    pushed = " ".join(pushed_filters(shortlist))
    assert "EqualTo(cell" in pushed or "In(cell" in pushed, pushed


def test_ann_index_append_sink_ivfflat(spark, tmp_path):
    """Same contract for the raw-vector kind: appended IVF-Flat rows
    serve identically to the full-corpus encode under frozen
    centroids."""
    from example_kafkastreams_spark.operators.ann_index import (
        ann_index_append_sink,
    )
    from example_kafkastreams_spark.operators.knn import (
        ivf_flat_encode,
        ivfflat_score,
        kmeans_train_local,
        sample_vectors,
    )

    emb = load_table(spark, SMOKE, "embeddings")
    day1 = emb.filter(F.col("vec_id") % 3 != 0)
    cents = kmeans_train_local(sample_vectors(day1, 256), 4, 4, "cosine")
    path = str(tmp_path / "ivfflat_live")
    ann_build(day1, {"kind": "ivfflat", "centroids": cents}, path)
    sink = ann_index_append_sink(spark, path, run_id="run-1")
    sink(emb.filter(F.col("vec_id") % 3 == 0), 0)

    queries = emb.filter(F.col("vec_id") < 6)
    got = ann_index_query(spark, path, queries, k=3, nprobe=2)
    qrows = (
        emb.filter(F.col("vec_id") < 6)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    want = ivfflat_score(
        ivf_flat_encode(emb, cents), cents, qrows, k=3, nprobe=2
    )
    assert _rows(got) == _rows(want)


def test_untrained_ivfpq_append_matches_one_shot(spark, tmp_path):
    """Base ∪ appended codes must equal a one-shot encode for an index
    with deterministic-sample parameters too, not only a trained one:
    the sink encodes each batch through the build's dispatch. Every
    row here is an exact cell tie — centroid 1 (id 1) is centroid 0
    (id 0) reversed and every other vector is a palindrome — so only
    the rounding of the cell fold decides its cell, and two encoders
    that fold differently put some rows in different cells. Ids
    1100–1199 duplicate the appended ids 100–199, so a single-probe
    top-1 of each duplicate must find its twin."""
    import numpy as np

    from example_kafkastreams_spark.operators.ann_index import (
        ann_index_append_sink,
    )

    rng = np.random.default_rng(12)
    c0 = rng.normal(size=64)
    vecs = {0: c0, 1: c0[::-1]}
    for i in range(2, 1100):
        half = rng.normal(size=32)
        vecs[i] = np.concatenate([half, half[::-1]])
    for i in range(100, 200):
        vecs[1000 + i] = vecs[i]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in sorted(vecs.items())],
        "vec_id long, embedding array<float>",
    )
    appended = (F.col("vec_id") >= 100) & (F.col("vec_id") < 200)
    day1 = emb.filter(~appended)
    spec = _sample_ivfpq(day1, num_centroids=2)
    live = str(tmp_path / "live")
    ann_build(day1, spec, live)
    ann_index_append_sink(spark, live, run_id="run-1")(
        emb.filter(appended), 0
    )
    oneshot = str(tmp_path / "oneshot")
    ann_build(emb, spec, oneshot)

    def encoded(path):
        enc, _ = ann_index_read(spark, path)
        return {r.vec_id: (r.cell, list(r.codes)) for r in enc.collect()}

    got = encoded(live)
    want = encoded(oneshot)
    assert len(got) == len(want) == 1200
    assert sorted(i for i in want if got[i] != want[i]) == []
    dups = emb.filter(F.col("vec_id") >= 1100)
    top1 = ann_index_query(spark, live, dups, k=1, nprobe=1).collect()
    assert {r.query_id: r.neighbor_id for r in top1} == {
        1000 + i: i for i in range(100, 200)
    }


def test_ann_index_compact_serves_identically(spark, tmp_path):
    """Folding the append sink's delta leaves into the base tree must
    not move a single bit of the served results; only the run's
    frontier leaf stays in the delta tree afterwards, a second
    compaction is a no-op, and the sink can keep appending to the
    compacted index."""
    import glob
    import hashlib
    import os

    from example_kafkastreams_spark.operators.ann_index import (
        ann_index_append_sink,
        ann_index_compact,
    )

    emb = load_table(spark, SMOKE, "embeddings")
    day1 = emb.filter(F.col("vec_id") % 3 != 0)
    path = str(tmp_path / "ivfpq_cmp")
    ann_build(day1, _IVFPQ, path, sample_n=256, iterations=4)
    sink = ann_index_append_sink(spark, path, run_id="run-1")
    sink(emb.filter(F.col("vec_id") % 6 == 0), 0)
    sink(emb.filter(F.col("vec_id") % 6 == 3), 1)

    queries = emb.filter(F.col("vec_id") < 6)
    args = dict(k=3, nprobe=2, refine=20, rerank_against=emb)
    before = _rows(ann_index_query(spark, path, queries, **args))
    ann_index_compact(spark, path)
    delta = os.path.join(path, "codes_delta")
    tok = hashlib.md5(b"run-1").hexdigest()[:16]
    assert [
        os.path.relpath(p, delta)
        for p in glob.glob(delta + "/ingest_run=*/ingest_batch=*")
    ] == [f"ingest_run={tok}/ingest_batch=1"]
    assert _rows(ann_index_query(spark, path, queries, **args)) == before
    ann_index_compact(spark, path)  # idempotent no-op
    assert _rows(ann_index_query(spark, path, queries, **args)) == before
    # the compacted index keeps ingesting: re-append a batch (same
    # rows — encode is deterministic, so results stay 'before' only
    # if the union dedups... it does NOT, so append a disjoint set)
    sink2 = ann_index_append_sink(spark, path, run_id="run-2")
    sink2(
        emb.filter(F.col("vec_id") % 3 == 0).limit(0), 99
    )  # empty batch: plumbing works, store unchanged
    assert _rows(ann_index_query(spark, path, queries, **args)) == before


def test_ann_index_compact_recovers_parked_dirs(spark, tmp_path):
    """Entry recovery: a crash between the park/promote renames
    leaves the index root parked at a .__pre_compact__ twin; the next
    compaction (or a no-op call) restores it before reading, and
    serves are unchanged."""
    import os

    from example_kafkastreams_spark.operators.ann_index import (
        ann_index_append_sink,
        ann_index_compact,
    )

    emb = load_table(spark, SMOKE, "embeddings")
    day1 = emb.filter(F.col("vec_id") % 3 != 0)
    path = str(tmp_path / "ivfpq_crash")
    ann_build(day1, _IVFPQ, path, sample_n=256, iterations=4)
    sink = ann_index_append_sink(spark, path, run_id="run-1")
    sink(emb.filter(F.col("vec_id") % 3 == 0), 0)
    queries = emb.filter(F.col("vec_id") < 6)
    args = dict(k=3, nprobe=2, refine=20, rerank_against=emb)
    before = _rows(ann_index_query(spark, path, queries, **args))

    # simulate the worst crash window: the root parked, the new one
    # not yet promoted
    os.rename(path, path + ".__pre_compact__")
    ann_index_compact(spark, path)  # recovers, then compacts
    assert _rows(ann_index_query(spark, path, queries, **args)) == before
    assert not os.path.isdir(path + ".__pre_compact__")


def _append_two_batches(spark, tmp_path, name):
    """An IVF-PQ index over two thirds of the corpus plus run-1's two
    appended batches; returns (path, sink, last batch, corpus size)."""
    from example_kafkastreams_spark.operators.ann_index import (
        ann_index_append_sink,
    )

    emb = load_table(spark, SMOKE, "embeddings")
    day1 = emb.filter(F.col("vec_id") % 3 != 0)
    path = str(tmp_path / name)
    ann_build(day1, _IVFPQ, path, sample_n=256, iterations=4)
    sink = ann_index_append_sink(spark, path, run_id="run-1")
    b1 = emb.filter(F.col("vec_id") % 6 == 3)
    sink(emb.filter(F.col("vec_id") % 6 == 0), 0)
    sink(b1, 1)
    return path, sink, b1, emb.count()


def _served(spark, path):
    enc, _ = ann_index_read(spark, path)
    return enc.count(), enc.select("vec_id").distinct().count()


def test_ann_index_compact_then_replay_serves_each_row_once(spark, tmp_path):
    """A restart from run-1's checkpoint replays its last batch. After
    a compaction that replay must overwrite its own held-back leaf,
    not add a second copy of rows already in the base codes: a row
    served twice corrupts top-k ranks."""
    from example_kafkastreams_spark.operators.ann_index import (
        ann_index_compact,
    )

    path, sink, b1, n = _append_two_batches(spark, tmp_path, "ivfpq_replay")
    assert _served(spark, path) == (n, n)
    ann_index_compact(spark, path)
    sink(b1, 1)  # the replay
    assert _served(spark, path) == (n, n)


def test_ann_index_compact_recovers_a_crash_after_the_promote(
    spark, tmp_path, monkeypatch
):
    """A compaction that crashes after promoting the new tree, while
    pruning the parked one, must not wedge the index: the next call
    serves each row once, compacts, and leaves no sibling behind."""
    import glob
    import shutil

    from example_kafkastreams_spark.operators.ann_index import (
        ann_index_compact,
    )

    path, _, _, n = _append_two_batches(spark, tmp_path, "ivfpq_wedge")
    rmtree = shutil.rmtree

    def crash_on_parked(p, *args, **kwargs):
        if str(p).endswith(".__pre_compact__"):
            raise OSError("injected crash while pruning " + str(p))
        return rmtree(p, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(shutil, "rmtree", crash_on_parked)
        with pytest.raises(OSError, match="injected"):
            ann_index_compact(spark, path)
    ann_index_compact(spark, path)
    assert _served(spark, path) == (n, n)
    ann_index_compact(spark, path)
    assert _served(spark, path) == (n, n)
    assert glob.glob(path + ".__*") + glob.glob(path + "/*.__*") == []
