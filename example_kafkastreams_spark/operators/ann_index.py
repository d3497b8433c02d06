"""ANN indexes: build ONCE, serve many query batches.

An index is its PARAMETERS plus an ENCODED corpus. The parameters are
one dict — ``kind`` (``pq``, ``ivfpq`` or ``ivfflat``), ``centroids``
and/or ``codebook``, their sizes, ``id_col`` and ``vec_col`` — and a
persistent index stores exactly that dict as ``meta.json``. Kilobytes:
the artifact a query session loads driver-side to splice LUT literals.
The encoded corpus is (id, codes) for PQ, (id, cell, codes) for
IVF-PQ and (id, cell, vector) for IVF-Flat: m bytes per vector instead
of 4·dim floats for the PQ kinds (FAISS convention).

``ann_build`` trains whatever parameters the dict leaves out (sampled
k-means, ``knn.kmeans_train_local`` / ``knn.pq_codebook_local``) and
encodes through ``knn.ann_encode``, the one encoder dispatch. Without
a ``path`` the encoded frame is an in-session index: persisted, raw
vectors kept, so ``knn.ann_serve`` refines in place. With a ``path``
it is written as parquet next to ``meta.json``; ``ann_index_query`` is
``ann_index_read`` plus the same ``ann_serve``, and
``ann_index_append_sink`` encodes each micro-batch through the same
``ann_encode``. Base ∪ appended codes therefore equal a one-shot encode,
and a loaded index serves bit-identically to an in-session one.

Floats survive the JSON round trip exactly (``json`` serializes via
``float.__repr__``, the shortest exact representation) — pinned by
unit test.

Reference parity: the reference has no vector surface at all; this is
part of the §2.9 similarity-search extension
(``operators/knn.py`` docstrings carry the citations).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..streaming.sinks import (
    INGEST_PARTS,
    leaf_sink,
    read_leaves,
    split_frontier,
    swap_tree,
    write_json,
    write_leaf,
)
from .cache import persist_tracked
from .knn import (
    _cosine_cells,
    ann_encode,
    ann_serve,
    kmeans_train_local,
    pq_codebook_local,
    sample_vectors,
)

_META = "meta.json"
_CODES = "codes"
_DELTA = "codes_delta"


def _prune_superseded_trees(path: str) -> None:
    """A (re)build supersedes every appended leaf: the trained
    parameters change, so ``codes_delta`` rows (encoded under the OLD
    parameters) must never union into the new base, and drift stats
    measured against the old baseline no longer apply. Pruned BEFORE
    the new encode lands — a crash mid-rebuild then leaves the old
    base delta-less (stale, never mixed-generation wrong)."""
    for d in (_DELTA, "drift"):
        shutil.rmtree(os.path.join(path, d), ignore_errors=True)


def ann_build(
    emb: DataFrame,
    meta: dict,
    path: str | None = None,
    sample_n: int = 16384,
    iterations: int = 10,
) -> tuple[dict, DataFrame]:
    """(parameters, encoded frame) of an index over ``emb``.

    ``meta`` names the kind and either the sizes to train or frozen
    parameters: ``{"kind": "ivfpq", "num_centroids": 64, "m": 16,
    "num_codes": 256}`` trains on a deterministic ``sample_n``-row
    sample (``iterations`` Lloyd's rounds): cosine centroids, then
    per-subspace L2 codebooks over the sample — over its RESIDUALS
    when the index has centroids. ``{"kind": "pq", "codebook": cb}``
    trains nothing. ``id_col``/``vec_col`` default to
    ``vec_id``/``embedding``.

    No ``path``: an in-session index — the frame is persisted with the
    raw vectors kept, so a refine serve needs no second corpus pass.
    With ``path``: a persistent index — appended leaves and drift stats
    of an earlier build are pruned and the codes-only frame lands as
    parquet beside ``meta.json`` (``ann_index_read`` loads both)."""
    meta = {"id_col": "vec_id", "vec_col": "embedding", **meta}
    need_cents = "centroids" not in meta and "num_centroids" in meta
    need_cb = "codebook" not in meta and "num_codes" in meta
    if need_cents or need_cb:
        X = sample_vectors(emb, sample_n, meta["id_col"], meta["vec_col"])
        if need_cents:
            meta["centroids"] = kmeans_train_local(
                X, meta["num_centroids"], iterations, "cosine"
            )
        if need_cb:
            if "centroids" in meta:
                C = np.asarray(meta["centroids"], dtype=np.float64)
                X = X - C[_cosine_cells(X, C)]
            meta["codebook"] = pq_codebook_local(
                X, meta["m"], meta["num_codes"], iterations
            )
    if "centroids" in meta:
        meta["num_centroids"] = len(meta["centroids"])
    if "codebook" in meta:
        meta["m"] = len(meta["codebook"])
        meta["num_codes"] = len(meta["codebook"][0])
    if path is None:
        return meta, persist_tracked(ann_encode(emb, meta, keep_vec=True))
    _prune_superseded_trees(path)
    enc = ann_encode(emb, meta)
    enc.write.mode("overwrite").parquet(os.path.join(path, _CODES))
    write_json(os.path.join(path, _META), meta)
    return meta, enc


def ann_index_read(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """(encoded corpus, meta dict). The codes frame is a plain parquet
    scan — filters (e.g. the probed-cell predicate) push down to it.
    When a ``codes_delta`` tree exists (``ann_index_append_sink``
    ingests), its rows union in — same columns, same pushdown — so a
    loaded index always serves base ∪ everything appended."""
    with open(os.path.join(path, _META)) as f:
        meta = json.load(f)
    enc = spark.read.parquet(os.path.join(path, _CODES))
    delta = read_leaves(spark, os.path.join(path, _DELTA))
    if delta is not None:
        enc = enc.unionByName(delta.select(*enc.columns))
    return enc, meta


def ann_index_append_sink(
    spark: SparkSession,
    path: str,
    run_id: str | None = None,
    track_drift: bool = False,
):
    """Streaming ANN index maintenance — the embedding-index member of
    the ingest-sink family (digest / band / window-hash / SRP indexes
    all have one): a ``foreachBatch`` function that encodes each
    micro-batch of newly-arrived (id, vector) rows with the stored
    index's FROZEN trained parameters and appends the codes, so the
    artifact a query session loads always covers everything ingested.

    Parameters are frozen by design: encode is row-wise in them, so
    base ∪ appended codes are BIT-IDENTICAL to a one-shot encode of
    the full corpus with the same parameters (golden-pinned) — the
    FAISS ``add()`` contract. Re-TRAINING on drifted data is a
    scheduled batch rebuild (``ann_build`` with a path), not a delta
    decision — the same append-only/rebuild split every dedup index
    here uses.

    Each batch encodes through ``knn.ann_encode``, the dispatch the
    build used — map-side, the parquet write is the only data
    movement. Codes land as ``codes_delta`` leaves of
    ``streaming.sinks``'s replay protocol.

    ``track_drift=True`` additionally records each batch's
    quantization stats (``ann_drift.quantization_stats`` — the raw
    vectors are in hand exactly here, never again) as ``drift``
    leaves, feeding ``ann_drift.ann_index_drift``'s rebuild
    decision."""
    with open(os.path.join(path, _META)) as f:
        meta = json.load(f)

    def write(batch_df: DataFrame, token: str, batch_id: int) -> None:
        write_leaf(
            ann_encode(batch_df, meta), os.path.join(path, _DELTA), token,
            batch_id,
        )
        if track_drift:
            from .ann_drift import quantization_stats

            write_leaf(
                quantization_stats(batch_df, meta),
                os.path.join(path, "drift"),
                token,
                batch_id,
            )

    return leaf_sink(path, write, run_id)


def ann_index_compact(spark: SparkSession, path: str) -> None:
    """Fold ``codes_delta`` (the append sink's per-batch leaves) back
    into the base ``codes`` tree — the between-runs maintenance an
    always-on ingest needs so the served scan stays a few large files
    instead of thousands of micro-batch leaves. Codes are already
    canonical (frozen-parameter encode), so compaction is a pure
    rewrite: serve results are bit-identical before and after
    (golden-pinned). Run only while no append query is writing.

    A row served twice would corrupt top-k ranks, so the whole index
    root is swapped (``streaming.sinks.swap_tree``): the new root holds
    base ∪ the folded leaves as ``codes``, each run's held-back
    frontier leaf under ``codes_delta`` (a replay still overwrites
    it), and ``meta.json`` and ``drift`` as they were."""
    with swap_tree(path) as (live, tmp):
        delta = os.path.join(live, _DELTA)
        leaves = read_leaves(spark, delta)
        if leaves is None:
            return
        fold, held = split_frontier(
            leaves.select(*INGEST_PARTS).distinct().collect()
        )
        if not fold:
            return
        shutil.copytree(  # meta.json, drift, ...
            live,
            tmp,
            ignore=lambda d, _: (_CODES, _DELTA) if d == live else (),
        )
        base = spark.read.parquet(os.path.join(live, _CODES))
        base.unionByName(
            read_leaves(spark, delta, held).select(*base.columns)
        ).write.parquet(os.path.join(tmp, _CODES))
        for run, batch in held:
            leaf = os.path.join(
                _DELTA, f"ingest_run={run}", f"ingest_batch={batch}"
            )
            shutil.copytree(os.path.join(live, leaf), os.path.join(tmp, leaf))


def ann_index_query(
    spark: SparkSession,
    path: str,
    queries,
    k: int = 3,
    nprobe: int = 2,
    refine: int | None = None,
    rerank_against: DataFrame | None = None,
) -> DataFrame:
    """Top-k neighbors for each row of ``queries`` against the stored
    index: ``ann_index_read`` plus ``knn.ann_serve``, the scoring an
    in-session index runs, so a loaded index returns bit-identical
    results — only the encode cost disappears: queries against 100 TB
    touch the m-bytes/vector codes parquet (nprobe/num_centroids of it
    for IVF-PQ), never the raw vectors.

    ``refine`` + ``rerank_against`` (the raw-vector frame the index was
    built from) is the FAISS IndexRefineFlat serving shape: an ADC
    shortlist of ``refine`` candidates per query, then exact cosine
    re-rank down to ``k`` via a broadcast point-lookup of just those
    NQ*refine raw vectors — output switches to the ``brute_force_knn``
    contract (query_id, neighbor_id, cosine, knn_rank)."""
    enc, meta = ann_index_read(spark, path)
    return ann_serve(meta, enc, queries, k, nprobe, refine, rerank_against)
