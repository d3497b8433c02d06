"""Persistent ANN index: a query against the stored artifact must be
BIT-IDENTICAL to the fresh in-session build (floats round-trip JSON
exactly; the scoring path is literally shared code)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from example_kafkastreams_spark.catalog import load_table
from example_kafkastreams_spark.operators.ann_index import (
    ann_index_query,
    ann_index_read,
    ivfpq_index_write,
    pq_index_write,
)
from example_kafkastreams_spark.operators.knn import ivf_pq_ann, pq_ann

SMOKE = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_pq_index_roundtrip_matches_fresh_build(spark, tmp_path):
    emb = load_table(spark, SMOKE, "embeddings")
    path = str(tmp_path / "pq_idx")
    pq_index_write(emb, path, m=8, num_codes=16)

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
    ivfpq_index_write(emb, path, num_centroids=8, m=8, num_codes=16)

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
    ivfpq_index_write(emb, path, num_centroids=8, m=8, num_codes=16)
    queries = emb.filter(F.col("vec_id") < 2)
    out = ann_index_query(spark, path, queries, k=3, nprobe=1)
    pushed = " ".join(pushed_filters(out))
    # single probed cell compiles to EqualTo, several to In — either
    # way the cell predicate must reach the scan
    assert "EqualTo(cell" in pushed or "In(cell" in pushed, pushed


def test_trained_ivfpq_index_serve_matches_fresh_build(spark, tmp_path):
    """The deployable split: train + encode + persist ONCE
    (``ivfpq_index_write(cents=…, codebook=…)``), then serve with
    ADC-shortlist + exact refine from the artifact — bit-identical to
    the in-session ``ivf_pq_ann_trained`` (same deterministic sample,
    literally shared scoring/refine code, floats round-trip JSON
    exactly)."""
    from example_kafkastreams_spark.operators.knn import (
        ivf_pq_ann_trained,
        train_ivfpq_local,
    )

    emb = load_table(spark, SMOKE, "embeddings")
    cfg = dict(num_centroids=4, m=8, num_codes=16, sample_n=256,
               iterations=4)
    cents, cb = train_ivfpq_local(emb, **cfg)
    path = str(tmp_path / "ivfpq_trained")
    ivfpq_index_write(emb, path, cents=cents, codebook=cb)

    _, meta = ann_index_read(spark, path)
    assert meta["num_centroids"] == 4 and meta["m"] == 8
    assert meta["centroids"] == cents and meta["codebook"] == cb

    queries = emb.filter(F.col("vec_id") < 6)
    got = ann_index_query(
        spark, path, queries, k=3, nprobe=2, refine=20,
        rerank_against=emb,
    )
    assert got.columns == ["query_id", "neighbor_id", "cosine", "knn_rank"]
    want = ivf_pq_ann_trained(
        emb, num_queries=6, k=3, nprobe=2, refine=20, **cfg
    )
    assert _rows(got) == _rows(want)


def test_trained_pq_index_uses_arrow_encoder_above_threshold(spark, tmp_path):
    """A >32-code trained codebook must persist through the Arrow
    encoder (the expression path would splice m*num_codes literal
    folds past JIT limits at serving scale) and still round-trip:
    loaded refine+rerank == in-session ``pq_ann_trained``."""
    from example_kafkastreams_spark.operators.knn import (
        pq_ann_trained,
        pq_codebook_local,
        sample_vectors,
    )

    emb = load_table(spark, SMOKE, "embeddings")
    X = sample_vectors(emb, 256)
    cb = pq_codebook_local(X, m=8, num_codes=48, iterations=4)
    path = str(tmp_path / "pq_trained")
    pq_index_write(emb, path, codebook=cb)

    _, meta = ann_index_read(spark, path)
    assert meta["m"] == 8 and meta["num_codes"] == 48

    queries = emb.filter(F.col("vec_id") < 6)
    got = ann_index_query(
        spark, path, queries, k=3, refine=20, rerank_against=emb
    )
    want = pq_ann_trained(
        emb, num_queries=6, k=3, m=8, num_codes=48, refine=20,
        sample_n=256, iterations=4,
    )
    assert _rows(got) == _rows(want)


def test_ivfflat_index_roundtrip_matches_fresh_build(spark, tmp_path):
    """IVF-Flat (raw vectors, exact cosine within probed cells): the
    loaded artifact serves bit-identically to the in-session
    ``ivf_flat_ann_trained`` — raw vectors round-trip parquet exactly,
    centroids round-trip JSON exactly, probed cells are the same
    driver-side ``_py_cosine`` picks."""
    from example_kafkastreams_spark.operators.ann_index import (
        ivfflat_index_write,
    )
    from example_kafkastreams_spark.operators.knn import (
        ivf_flat_ann_trained,
        kmeans_train_local,
        sample_vectors,
    )

    emb = load_table(spark, SMOKE, "embeddings")
    X = sample_vectors(emb, 256)
    cents = kmeans_train_local(X, 4, 4, "cosine")
    path = str(tmp_path / "ivfflat_idx")
    ivfflat_index_write(emb, path, cents)

    enc, meta = ann_index_read(spark, path)
    assert meta["kind"] == "ivfflat" and meta["num_centroids"] == 4
    assert enc.columns == ["vec_id", "cell", "embedding"]

    queries = emb.filter(F.col("vec_id") < 6)
    got = ann_index_query(spark, path, queries, k=3, nprobe=2)
    assert got.columns == ["query_id", "neighbor_id", "cosine", "knn_rank"]
    want = ivf_flat_ann_trained(
        emb, num_queries=6, k=3, num_centroids=4, nprobe=2,
        sample_n=256, iterations=4,
    )
    assert _rows(got) == _rows(want)


def test_ivfflat_full_probe_is_brute_force(spark, tmp_path):
    """With nprobe = num_centroids the probe set covers every cell and
    exact in-cell scoring makes the result THE brute-force answer —
    the correctness anchor: recall loss in IVF-Flat comes only from
    the probe budget."""
    from example_kafkastreams_spark.operators.knn import (
        brute_force_knn,
        ivf_flat_ann_trained,
    )

    emb = load_table(spark, SMOKE, "embeddings")
    got = ivf_flat_ann_trained(
        emb, num_queries=6, k=3, num_centroids=4, nprobe=4,
        sample_n=256, iterations=4,
    )
    want = brute_force_knn(emb, num_queries=6, k=3)
    assert _rows(got) == _rows(want)


def test_ivfflat_index_query_prunes_cells(spark, tmp_path):
    from example_kafkastreams_spark.operators.ann_index import (
        ivfflat_index_write,
    )
    from example_kafkastreams_spark.operators.knn import (
        kmeans_train_local,
        sample_vectors,
    )
    from example_kafkastreams_spark.plans import pushed_filters

    emb = load_table(spark, SMOKE, "embeddings")
    X = sample_vectors(emb, 256)
    cents = kmeans_train_local(X, 4, 4, "cosine")
    path = str(tmp_path / "ivfflat_idx2")
    ivfflat_index_write(emb, path, cents)
    out = ann_index_query(
        spark, path, emb.filter(F.col("vec_id") < 2), k=3, nprobe=1
    )
    pushed = " ".join(pushed_filters(out))
    assert "EqualTo(cell" in pushed or "In(cell" in pushed, pushed


def test_ivfflat_refine_raises(spark, tmp_path):
    import pytest

    from example_kafkastreams_spark.operators.ann_index import (
        ivfflat_index_write,
    )
    from example_kafkastreams_spark.operators.knn import (
        kmeans_train_local,
        sample_vectors,
    )

    emb = load_table(spark, SMOKE, "embeddings")
    cents = kmeans_train_local(sample_vectors(emb, 256), 4, 2, "cosine")
    path = str(tmp_path / "ivfflat_idx3")
    ivfflat_index_write(emb, path, cents)
    with pytest.raises(ValueError, match="refine"):
        ann_index_query(
            spark, path, emb.filter(F.col("vec_id") < 2), k=3,
            refine=10, rerank_against=emb,
        )


def test_refine_requires_rerank_frame(spark, tmp_path):
    import pytest

    emb = load_table(spark, SMOKE, "embeddings")
    path = str(tmp_path / "pq_idx4")
    pq_index_write(emb, path)
    with pytest.raises(ValueError, match="rerank_against"):
        ann_index_query(
            spark, path, emb.filter(F.col("vec_id") < 2), k=3, refine=10
        )


def test_empty_query_frame_returns_typed_empty(spark, tmp_path):
    emb = load_table(spark, SMOKE, "embeddings")
    path = str(tmp_path / "pq_idx3")
    pq_index_write(emb, path)
    out = ann_index_query(
        spark, path, emb.filter(F.col("vec_id") < 0), k=3
    )
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "approx_d2", "knn_rank"]


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
        exact_rerank,
        ivf_pq_encode_local,
        ivfpq_adc_score,
        train_ivfpq_local,
    )
    from example_kafkastreams_spark.plans import pushed_filters

    emb = load_table(spark, SMOKE, "embeddings")
    day1 = emb.filter(F.col("vec_id") % 3 != 0)
    cents, cb = train_ivfpq_local(
        day1, num_centroids=4, m=8, num_codes=16, sample_n=256,
        iterations=4,
    )
    path = str(tmp_path / "ivfpq_live")
    ivfpq_index_write(day1, path, cents=cents, codebook=cb)

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
    want = exact_rerank(
        ivfpq_adc_score(
            ivf_pq_encode_local(emb, cents, cb), cents, cb, qrows, 20, 2
        ),
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
        ivfflat_index_write,
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
    ivfflat_index_write(day1, path, cents)
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
    from example_kafkastreams_spark.operators.knn import train_ivfpq_local

    emb = load_table(spark, SMOKE, "embeddings")
    day1 = emb.filter(F.col("vec_id") % 3 != 0)
    cents, cb = train_ivfpq_local(
        day1, num_centroids=4, m=8, num_codes=16, sample_n=256,
        iterations=4,
    )
    path = str(tmp_path / "ivfpq_cmp")
    ivfpq_index_write(day1, path, cents=cents, codebook=cb)
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
    from example_kafkastreams_spark.operators.knn import train_ivfpq_local

    emb = load_table(spark, SMOKE, "embeddings")
    day1 = emb.filter(F.col("vec_id") % 3 != 0)
    cents, cb = train_ivfpq_local(
        day1, num_centroids=4, m=8, num_codes=16, sample_n=256,
        iterations=4,
    )
    path = str(tmp_path / "ivfpq_crash")
    ivfpq_index_write(day1, path, cents=cents, codebook=cb)
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
    from example_kafkastreams_spark.operators.knn import train_ivfpq_local

    emb = load_table(spark, SMOKE, "embeddings")
    day1 = emb.filter(F.col("vec_id") % 3 != 0)
    cents, cb = train_ivfpq_local(
        day1, num_centroids=4, m=8, num_codes=16, sample_n=256,
        iterations=4,
    )
    path = str(tmp_path / name)
    ivfpq_index_write(day1, path, cents=cents, codebook=cb)
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
