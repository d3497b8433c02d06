"""Drift monitoring for persistent ANN indexes: stats conserve mass,
in-distribution appends don't trigger a rebuild, shifted appends do,
crash replays never double-count, and a rebuild prunes every tree the
old parameters produced."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from example_kafkastreams_spark.catalog import load_table
from example_kafkastreams_spark.operators.ann_drift import (
    ann_index_drift,
    quantization_stats,
    record_train_stats,
    should_rebuild,
)
from example_kafkastreams_spark.operators.ann_index import (
    ann_build,
    ann_index_append_sink,
    ann_index_read,
)
from example_kafkastreams_spark.operators.knn import (
    sample_vectors,
    kmeans_train_local,
    pq_codebook,
)

SMOKE = "/root/testdata/sf0.001"
_IVFPQ = {"kind": "ivfpq", "num_centroids": 4, "m": 8, "num_codes": 16}


def _emb(spark):
    return load_table(spark, SMOKE, "embeddings")


def _scaled(emb):
    """The drifted stream: 10x-norm vectors, ids offset past the
    corpus. Cosine cell picks are scale-invariant, but the residuals
    dwarf the trained PQ codebook — exactly the silent ADC-rank
    degradation the monitor exists to catch (a direction flip would
    NOT drift this corpus: near-uniform-on-the-sphere data is
    symmetric)."""
    return emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 10.0).alias("embedding"),
    )


def test_quantization_stats_conserve_mass_all_kinds(spark, tmp_path):
    emb = _emb(spark)
    n = emb.count()
    X = sample_vectors(emb, 256)
    cents = kmeans_train_local(X, 4, iterations=4, metric="cosine")

    pq_path = str(tmp_path / "pq")
    pq = {"kind": "pq", "codebook": pq_codebook(emb, 8, 16)}
    ann_build(emb, pq, pq_path)
    ivfflat_path = str(tmp_path / "flat")
    ann_build(emb, {"kind": "ivfflat", "centroids": cents}, ivfflat_path)
    ivfpq_path = str(tmp_path / "ivfpq")
    ann_build(emb, _IVFPQ, ivfpq_path, sample_n=256, iterations=4)

    import json

    for path, kind in (
        (pq_path, "pq"),
        (ivfflat_path, "ivfflat"),
        (ivfpq_path, "ivfpq"),
    ):
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        rows = quantization_stats(emb, meta).collect()
        assert sum(r["n"] for r in rows) == n, kind
        assert all(r["err_sum"] >= 0.0 for r in rows), kind
        if kind == "pq":
            assert [r["cell"] for r in rows] == [0]
        else:
            assert {r["cell"] for r in rows} <= set(range(4)), kind


def test_quantization_stats_zero_vector_finite(spark, tmp_path):
    """A zero vector must yield finite stats, not a NaN that poisons
    err_sum and makes every should_rebuild comparison silently false
    (NaN > threshold is False)."""
    import math

    emb = _emb(spark)
    X = sample_vectors(emb, 256)
    cents = kmeans_train_local(X, 4, iterations=4, metric="cosine")
    path = str(tmp_path / "flat")
    ann_build(emb, {"kind": "ivfflat", "centroids": cents}, path)
    import json

    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    dim = len(meta["centroids"][0])
    with_zero = emb.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(
            [(999999, [0.0] * dim)],
            "vec_id long, embedding array<float>",
        )
    )
    rows = quantization_stats(with_zero, meta).collect()
    assert sum(r["n"] for r in rows) == emb.count() + 1
    assert all(math.isfinite(r["err_sum"]) for r in rows)


def test_drift_flags_shifted_appends_not_indistribution(spark, tmp_path):
    emb = _emb(spark)
    day1 = emb.filter(F.col("vec_id") % 3 != 0)
    path = str(tmp_path / "live")
    ann_build(day1, _IVFPQ, path, sample_n=256, iterations=4)
    ts = record_train_stats(spark, path, day1)
    assert ts["n"] == day1.count() and ts["mean_err"] > 0

    sink = ann_index_append_sink(spark, path, run_id="r1", track_drift=True)
    sink(emb.filter(F.col("vec_id") % 3 == 0), 0)
    rep = ann_index_drift(spark, path)
    assert rep["n_delta"] == emb.filter(F.col("vec_id") % 3 == 0).count()
    # in-distribution: error comparable to the baseline, no rebuild
    assert rep["err_ratio"] < 1.25, rep
    decision, reasons = should_rebuild(rep)
    assert not decision, reasons

    # the drifted day: 10x-norm vectors
    sink2 = ann_index_append_sink(spark, path, run_id="r2", track_drift=True)
    sink2(_scaled(emb), 0)
    rep2 = ann_index_drift(spark, path)
    assert rep2["err_ratio"] > 1.25, rep2
    # per-run attribution: one run clean, one drifted (keys are the
    # sink's run tokens, md5 of run_id)
    ratios = sorted(
        v["err_ratio"] for v in rep2["per_run"].values()
    )
    assert len(ratios) == 2 and ratios[0] < 1.25 < ratios[1], rep2
    decision2, reasons2 = should_rebuild(rep2)
    assert decision2 and any("quantization error" in r for r in reasons2)


def test_drift_replay_never_double_counts(spark, tmp_path):
    emb = _emb(spark)
    X = sample_vectors(emb, 256)
    cents = kmeans_train_local(X, 4, iterations=4, metric="cosine")
    path = str(tmp_path / "flat")
    ann_build(
        emb.filter(F.col("vec_id") % 2 == 0),
        {"kind": "ivfflat", "centroids": cents},
        path,
    )
    record_train_stats(spark, path, emb.filter(F.col("vec_id") % 2 == 0))

    sink = ann_index_append_sink(spark, path, run_id="r1", track_drift=True)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    sink(batch, 0)
    first = ann_index_drift(spark, path)
    sink(batch, 0)  # crash replay: dynamic overwrite rewrites the leaf
    again = ann_index_drift(spark, path)
    assert again["n_delta"] == first["n_delta"] == batch.count()
    assert again["delta_mean_err"] == first["delta_mean_err"]


def test_rebuild_prunes_superseded_trees(spark, tmp_path):
    """codes_delta + drift encoded under the OLD parameters must not
    survive an in-place retrain — ann_index_read would otherwise union
    mixed-generation codes into the new base."""
    emb = _emb(spark)
    day1 = emb.filter(F.col("vec_id") % 2 == 0)
    path = str(tmp_path / "live")
    ann_build(day1, _IVFPQ, path, sample_n=256, iterations=4)
    record_train_stats(spark, path, day1)
    sink = ann_index_append_sink(spark, path, run_id="r1", track_drift=True)
    sink(emb.filter(F.col("vec_id") % 2 == 1), 0)
    assert os.path.isdir(os.path.join(path, "codes_delta"))
    assert os.path.isdir(os.path.join(path, "drift"))

    # scheduled rebuild over the full corpus with fresh parameters
    ann_build(emb, _IVFPQ, path, sample_n=256, iterations=4)
    assert not os.path.isdir(os.path.join(path, "codes_delta"))
    assert not os.path.isdir(os.path.join(path, "drift"))
    enc, meta = ann_index_read(spark, path)
    assert enc.count() == emb.count()
    # the baseline reset with the parameters: drift demands a new one
    import pytest

    with pytest.raises(ValueError, match="train_stats"):
        ann_index_drift(spark, path)


def test_drift_rebuild_loop_resets_baseline(spark, tmp_path):
    """The full maintenance loop: drifted appends trip should_rebuild
    → scheduled rebuild over everything ingested → record a fresh
    baseline → the monitor reports quiet again (no delta, no
    trigger), and the rebuilt index serves the new distribution."""
    emb = _emb(spark)
    day1 = emb.filter(F.col("vec_id") % 2 == 0)
    path = str(tmp_path / "live")
    ann_build(day1, _IVFPQ, path, sample_n=256, iterations=4)
    record_train_stats(spark, path, day1)
    sink = ann_index_append_sink(spark, path, run_id="r1", track_drift=True)
    drifted = _scaled(emb.filter(F.col("vec_id") % 2 == 1))
    sink(drifted, 0)
    decision, _ = should_rebuild(ann_index_drift(spark, path))
    assert decision

    # the rebuild: retrain on everything ingested, re-encode, rebase
    full = day1.select("vec_id", "embedding").unionByName(drifted)
    ann_build(full, _IVFPQ, path, sample_n=256, iterations=4)
    record_train_stats(spark, path, full)

    rep = ann_index_drift(spark, path)
    assert rep["n_delta"] == 0 and rep["err_ratio"] is None
    assert rep["n_train"] == full.count()
    decision2, reasons2 = should_rebuild(rep)
    assert not decision2, reasons2

    from example_kafkastreams_spark.operators.ann_index import (
        ann_index_query,
    )

    got = ann_index_query(
        spark, path, drifted.limit(4), k=3, nprobe=4
    )
    assert got.count() == 12  # 4 queries x top-3 from the new corpus
