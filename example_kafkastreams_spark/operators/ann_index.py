"""Persistent ANN index artifacts: build ONCE, query many times.

``pq_ann`` / ``ivf_pq_ann`` rebuild their index per call — right for
the oracle-checked driver rows, wrong for the production workflow
where a 100 TB corpus is encoded once and then served thousands of
queries. This module stores the two halves of an index the way
billion-vector deployments do (FAISS convention):

* the ENCODED CORPUS — parquet, (id, codes) for PQ or
  (id, cell, codes) for IVF-PQ: m bytes per vector instead of 4·dim
  floats, written by the same zero-shuffle map-side encode;
* the TRAINED PARAMETERS — ``meta.json`` beside it: kind, m,
  codebook (and centroids for IVF-PQ). Kilobytes; the artifact a
  query session loads driver-side to splice LUT literals.

Floats survive the JSON round trip exactly (``json`` serializes via
``float.__repr__``, the shortest exact representation), so a query
against the loaded index is bit-identical to one against the fresh
build — pinned by unit test.

Reference parity: the reference has no vector surface at all; this is
part of the §2.9 similarity-search extension
(``operators/knn.py`` docstrings carry the file:line citations).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..streaming.sinks import (
    INGEST_PARTS,
    leaf_sink,
    read_leaves,
    split_frontier,
    swap_tree,
    write_json,
    write_leaf,
)
from .knn import (
    _empty_ann_result,
    exact_rerank,
    ivf_flat_encode,
    ivf_pq_encode_local,
    ivf_pq_index,
    ivfflat_score,
    ivfpq_adc_score,
    pq_adc_score,
    pq_codebook,
    pq_encode,
    pq_encode_vectorized,
)

_META = "meta.json"
_CODES = "codes"
_DELTA = "codes_delta"

# Above this many codes per subspace the expression encoder's spliced
# literal folds (m * num_codes of them) blow past JIT method limits —
# switch to the Arrow argmin encoder (same codes, pinned by
# tests/test_ann_trained.py::test_vectorized_encode_matches_expression).
_VECTORIZE_ABOVE = 32


def _prune_superseded_trees(path: str) -> None:
    """A (re)build supersedes every appended leaf: the trained
    parameters change, so ``codes_delta`` rows (encoded under the OLD
    parameters) must never union into the new base, and drift stats
    measured against the old baseline no longer apply. Pruned BEFORE
    the new encode lands — a crash mid-rebuild then leaves the old
    base delta-less (stale, never mixed-generation wrong)."""
    for d in (_DELTA, "drift"):
        shutil.rmtree(os.path.join(path, d), ignore_errors=True)


def pq_index_write(
    emb: DataFrame,
    path: str,
    m: int = 8,
    num_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: list | None = None,
) -> None:
    """Encode ``emb`` with a PQ codebook and persist both halves under
    ``path``. The encode is the scan-shaped zero-shuffle pass of
    ``pq_encode``; the write is the only data movement.

    Pass ``codebook`` (e.g. ``pq_codebook_local`` over a
    ``sample_vectors`` draw) to persist a TRAINED index — the
    serving-grade build ``pq_ann_trained`` runs in-session. Large
    codebooks encode through the Arrow path automatically."""
    _prune_superseded_trees(path)
    if codebook is None:
        codebook = pq_codebook(emb, m, num_codes, id_col, vec_col)
    else:
        m, num_codes = len(codebook), len(codebook[0])
    encode = (
        pq_encode_vectorized if num_codes > _VECTORIZE_ABOVE else pq_encode
    )
    encode(emb, codebook, id_col, vec_col).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, _CODES))
    write_json(
        os.path.join(path, _META),
        {
            "kind": "pq",
            "m": m,
            "num_codes": num_codes,
            "id_col": id_col,
            "codebook": codebook,
        },
    )


def ivfpq_index_write(
    emb: DataFrame,
    path: str,
    num_centroids: int = 8,
    m: int = 8,
    num_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: list | None = None,
    codebook: list | None = None,
) -> None:
    """IVF-PQ variant: (id, cell, codes) parquet + centroids and the
    residual codebook in the meta artifact.

    Pass BOTH ``cents`` (``kmeans_train_local``) and ``codebook``
    (``pq_codebook_local`` over the sample's residuals) to persist the
    serving-grade trained index ``ivf_pq_ann_trained`` builds
    in-session; the encode then runs as the one-pass Arrow build."""
    _prune_superseded_trees(path)
    if cents is not None and codebook is not None:
        enc = ivf_pq_encode_local(emb, cents, codebook, id_col, vec_col)
    else:
        enc, cents, codebook = ivf_pq_index(
            emb,
            num_centroids,
            m,
            num_codes,
            id_col,
            vec_col,
            persist=False,
            cents=cents,
            codebook=codebook,
        )
    enc.write.mode("overwrite").parquet(os.path.join(path, _CODES))
    write_json(
        os.path.join(path, _META),
        {
            "kind": "ivfpq",
            "m": len(codebook),
            "num_codes": len(codebook[0]),
            "num_centroids": len(cents),
            "id_col": id_col,
            "centroids": cents,
            "codebook": codebook,
        },
    )


def ivfflat_index_write(
    emb: DataFrame,
    path: str,
    cents: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """IVF-Flat variant (FAISS IndexIVFFlat): (id, cell, raw vector)
    parquet + trained centroids in the meta artifact. The high-recall
    serving option — exact cosine inside probed cells, no refine
    stage — trading 4·dim bytes/vector of index storage for zero
    quantization loss. ``cents`` comes from ``kmeans_train_local``
    (cosine metric), the same coarse quantizer an IVF-PQ index
    trains."""
    _prune_superseded_trees(path)
    ivf_flat_encode(emb, cents, id_col, vec_col).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, _CODES))
    write_json(
        os.path.join(path, _META),
        {
            "kind": "ivfflat",
            "num_centroids": len(cents),
            "id_col": id_col,
            "vec_col": vec_col,
            "centroids": cents,
        },
    )


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
    scheduled batch rebuild (``*_index_write``), not a delta decision
    — the same append-only/rebuild split every dedup index here uses.

    Encode dispatch matches the writers: ivfflat → spliced-literal
    cell tag; ivfpq → one-pass Arrow build; pq → Arrow above 32 codes,
    expression below. All map-side; the parquet write is the only data
    movement. Codes land as ``codes_delta`` leaves of
    ``streaming.sinks``'s replay protocol.

    ``track_drift=True`` additionally records each batch's
    quantization stats (``ann_drift.quantization_stats`` — the raw
    vectors are in hand exactly here, never again) as ``drift``
    leaves, feeding ``ann_drift.ann_index_drift``'s rebuild
    decision."""
    with open(os.path.join(path, _META)) as f:
        meta = json.load(f)
    idc = meta["id_col"]
    vec_col = meta.get("vec_col", "embedding")

    def write(batch_df: DataFrame, token: str, batch_id: int) -> None:
        if meta["kind"] == "ivfflat":
            enc = ivf_flat_encode(batch_df, meta["centroids"], idc, vec_col)
        elif meta["kind"] == "ivfpq":
            enc = ivf_pq_encode_local(
                batch_df, meta["centroids"], meta["codebook"], idc, vec_col
            )
        elif meta["kind"] == "pq":
            encode = (
                pq_encode_vectorized
                if meta["num_codes"] > _VECTORIZE_ABOVE
                else pq_encode
            )
            enc = encode(batch_df, meta["codebook"], idc, vec_col)
        else:
            raise ValueError(f"unknown index kind {meta['kind']!r}")
        write_leaf(enc, os.path.join(path, _DELTA), token, batch_id)
        if track_drift:
            from .ann_drift import quantization_stats

            write_leaf(
                quantization_stats(batch_df, meta, vec_col),
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
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    id_col: str | None = None,
    vec_col: str = "embedding",
    refine: int | None = None,
    rerank_against: DataFrame | None = None,
) -> DataFrame:
    """Top-k neighbors for each row of ``queries`` (an (id, vector)
    frame, collected driver-side — the bounded small side, same
    convention as ``brute_force_knn``'s query broadcast) against the
    stored index, dispatching on the artifact's ``kind``.

    Scoring is the SAME code path as the fresh-build operators
    (``pq_adc_score`` / ``ivfpq_adc_score``), so a loaded index
    returns bit-identical results to an in-session build — only the
    encode cost disappears: queries against 100 TB touch the m-bytes/
    vector codes parquet (nprobe/num_centroids of it for IVF-PQ),
    never the raw vectors.

    Pass ``refine`` + ``rerank_against`` (the raw-vector frame the
    index was built from) for the FAISS IndexRefineFlat serving shape
    ``*_ann_trained`` runs in-session: an ADC shortlist of ``refine``
    candidates per query, then exact cosine re-rank down to ``k`` via
    a broadcast point-lookup of just those NQ*refine raw vectors —
    output switches to the ``brute_force_knn`` contract
    (query_id, neighbor_id, cosine, knn_rank)."""
    enc, meta = ann_index_read(spark, path)
    idc = id_col or meta["id_col"]
    # ``queries`` may be a pre-collected id-ordered list of (id, vec)
    # rows (catalog.load_head_rows) — the collect job disappears
    qrows = (
        list(queries)
        if isinstance(queries, list)
        else queries.orderBy(idc).select(idc, vec_col).collect()
    )
    if not qrows:
        return _empty_ann_result(enc.select(F.col(idc)), idc)
    if meta["kind"] == "ivfflat":
        if refine is not None:
            raise ValueError(
                "ivfflat scores exact cosine inside probed cells; "
                "refine/rerank does not apply"
            )
        return ivfflat_score(
            enc,
            meta["centroids"],
            qrows,
            k,
            nprobe,
            idc,
            meta.get("vec_col", vec_col),
        )
    shortlist_k = refine if refine is not None else k
    if meta["kind"] == "pq":
        out = pq_adc_score(enc, meta["codebook"], qrows, shortlist_k, idc)
    elif meta["kind"] == "ivfpq":
        out = ivfpq_adc_score(
            enc,
            meta["centroids"],
            meta["codebook"],
            qrows,
            shortlist_k,
            nprobe,
            idc,
        )
    else:
        raise ValueError(f"unknown index kind {meta['kind']!r}")
    if refine is not None:
        if rerank_against is None:
            raise ValueError("refine requires rerank_against")
        out = exact_rerank(out, rerank_against, qrows, k, idc, vec_col)
    return out
