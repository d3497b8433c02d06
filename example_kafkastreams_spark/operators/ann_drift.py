"""Drift monitoring for persistent ANN index artifacts — the measured
half of the append-only/rebuild split.

``ann_index_append_sink`` freezes the trained parameters by design:
encode is row-wise in them, so base ∪ appended codes equal a one-shot
full-corpus encode bit-for-bit (the FAISS ``add()`` contract) and the
index never serves WRONG results. What frozen parameters cannot
guarantee is that they stay GOOD: when the ingested distribution
shifts, the coarse quantizer mis-sizes cells (probe recall drops,
the scan fraction skews onto hot cells) and the PQ codebook's
quantization error grows (ADC ranks degrade before any test fails).
This module turns "re-training on drift is a scheduled rebuild" from
a docstring claim into a measured decision:

* ``quantization_stats`` — ONE Arrow pass over raw vectors: per
  assigned cell, row count + summed quantization error under the
  artifact's frozen parameters (pq: per-subspace argmin L2² summed —
  exactly the error the encoder minimizes; ivfpq: the same on the
  residual after the cosine cell pick; ivfflat: 1 − cosine to the
  picked centroid, the spherical k-means inertia grain). The pass is
  map-side; the shuffle carries ≤ num_cells (cell, n, err_sum) rows
  per task, never vectors — at 100 TB the stats cost is the scan, and
  for appended batches the vectors are already in hand.
* ``record_train_stats`` — folds the BUILD corpus's stats into
  ``meta.json`` after an ``ann_index.ann_build`` to a path: the
  baseline every later comparison is against.
* ``ann_index_append_sink(track_drift=True)`` (in ``ann_index``) —
  the streaming member: each micro-batch's stats land under
  ``drift/ingest_run/ingest_batch`` with the same dynamic-overwrite
  replay discipline as the codes, so monitoring is continuous and
  crash-replays never double-count.
* ``ann_index_drift`` — the report: appended-mass mean error vs the
  train baseline (``err_ratio``) and worst-cell occupancy vs uniform
  (``imbalance``), overall and per ingest run.
* ``should_rebuild`` — thresholds the report into the scheduled-
  rebuild decision (rebuild = retrain parameters + re-encode via
  ``ann_build`` to the index path).

Stats are operational telemetry, not oracle rows: float sums ride
numpy/Spark partial aggregation (no cross-engine bit contract).

Reference parity: the reference has no vector surface; this is the
operational half of the §2.9 similarity-search extension (the FAISS
add()/rebuild split, made measurable).
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..streaming.sinks import read_leaves, write_json

_DRIFT = "drift"
_STATS_SCHEMA = "cell int, n long, err_sum double"


def quantization_stats(
    emb: DataFrame,
    meta: dict,
    vec_col: str | None = None,
) -> DataFrame:
    """(cell, n, err_sum) under ``meta``'s frozen parameters — one
    map-side Arrow pass, per-batch pre-aggregation, then a cell-grain
    hash agg whose exchange carries ≤ num_cells rows per task."""
    import pandas as pd

    from .knn import _pq_argmin, _py_cosine_matrix

    kind = meta["kind"]
    vc = vec_col or meta.get("vec_col", "embedding")
    C = (
        np.asarray(meta["centroids"], dtype=np.float64)
        if kind in ("ivfflat", "ivfpq")
        else None
    )
    cb = (
        [np.asarray(sub, dtype=np.float64) for sub in meta["codebook"]]
        if kind in ("pq", "ivfpq")
        else None
    )
    if kind not in ("pq", "ivfpq", "ivfflat"):
        raise ValueError(f"unknown index kind {kind!r}")

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vc]]
            )
            if kind == "pq":
                cell = np.zeros(len(X), dtype=np.int64)
                err = _pq_argmin(X, cb)[1]
            else:
                # the encoders' cell pick; a zero-norm vector or
                # centroid scores cosine 0, not a NaN that would
                # poison err_sum and make every should_rebuild
                # comparison silently false
                cos = np.nan_to_num(_py_cosine_matrix(X, C), nan=0.0)
                cell = cos.argmax(1)
                if kind == "ivfflat":
                    err = 1.0 - cos.max(1)
                else:
                    err = _pq_argmin(X - C[cell], cb)[1]
            n_cells = 1 if C is None else len(C)
            yield pd.DataFrame(
                {
                    "cell": np.arange(n_cells, dtype=np.int32),
                    "n": np.bincount(cell, minlength=n_cells).astype(
                        np.int64
                    ),
                    "err_sum": np.bincount(
                        cell, weights=err, minlength=n_cells
                    ),
                }
            )

    return (
        emb.select(vc)
        .mapInPandas(gen, _STATS_SCHEMA)
        .filter(F.col("n") > 0)
        .groupBy("cell")
        .agg(
            F.sum("n").alias("n"), F.sum("err_sum").alias("err_sum")
        )
    )


def record_train_stats(
    spark: SparkSession,
    path: str,
    emb: DataFrame,
    vec_col: str | None = None,
) -> dict:
    """Compute the build corpus's quantization stats and fold them
    into the artifact's ``meta.json`` as ``train_stats`` — run once
    right after ``ann_build`` writes the index (the corpus frame is
    still in hand). Returns the recorded dict."""
    meta_path = os.path.join(path, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    rows = quantization_stats(emb, meta, vec_col).collect()
    n = int(sum(r["n"] for r in rows))
    if n == 0:
        raise ValueError("cannot record train stats on an empty corpus")
    stats = {
        "n": n,
        "mean_err": float(sum(r["err_sum"] for r in rows)) / n,
        "cell_counts": {
            str(r["cell"]): int(r["n"]) for r in sorted(rows)
        },
    }
    meta["train_stats"] = stats
    write_json(meta_path, meta)
    return stats


def ann_index_drift(spark: SparkSession, path: str) -> dict:
    """Compare everything the append sink ingested against the train
    baseline. Returns::

        {"n_train", "n_delta", "train_mean_err", "delta_mean_err",
         "err_ratio",        # delta_mean_err / train_mean_err
         "imbalance",        # max combined cell share / uniform share
         "per_run": {run: {"n", "mean_err", "err_ratio"}}}

    ``err_ratio`` is None when nothing was appended. Requires
    ``record_train_stats`` to have run (no baseline → no drift
    measure — raise rather than guess)."""
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    ts = meta.get("train_stats")
    if ts is None:
        raise ValueError(
            "no train_stats in meta.json — run record_train_stats "
            "after the index build to establish the drift baseline"
        )
    n_cells = int(meta.get("num_centroids", 1))
    counts = {int(c): int(n) for c, n in ts["cell_counts"].items()}
    report = {
        "n_train": ts["n"],
        "n_delta": 0,
        "train_mean_err": ts["mean_err"],
        "delta_mean_err": None,
        "err_ratio": None,
        "imbalance": None,
        "per_run": {},
    }
    drift = read_leaves(spark, os.path.join(path, _DRIFT))
    if drift is not None:
        rows = (
            drift.groupBy("ingest_run", "cell")
            .agg(F.sum("n").alias("n"), F.sum("err_sum").alias("e"))
            .collect()
        )
        by_run: dict[str, list] = {}
        for r in rows:
            by_run.setdefault(r["ingest_run"], []).append(r)
            counts[int(r["cell"])] = counts.get(int(r["cell"]), 0) + int(
                r["n"]
            )
        d_n = int(sum(r["n"] for r in rows))
        if d_n:
            d_err = float(sum(r["e"] for r in rows)) / d_n
            report.update(
                n_delta=d_n,
                delta_mean_err=d_err,
                err_ratio=(
                    d_err / ts["mean_err"] if ts["mean_err"] > 0 else None
                ),
            )
        for run, rs in sorted(by_run.items()):
            rn = int(sum(r["n"] for r in rs))
            rerr = float(sum(r["e"] for r in rs)) / rn if rn else None
            report["per_run"][run] = {
                "n": rn,
                "mean_err": rerr,
                "err_ratio": (
                    rerr / ts["mean_err"]
                    if rerr is not None and ts["mean_err"] > 0
                    else None
                ),
            }
    total = sum(counts.values())
    if total and n_cells:
        report["imbalance"] = (
            max(counts.values()) / total
        ) / (1.0 / n_cells)
    return report


def should_rebuild(
    report: dict,
    err_ratio: float = 1.25,
    imbalance: float = 4.0,
    min_delta_fraction: float = 0.05,
) -> tuple[bool, list[str]]:
    """Threshold a drift report into the scheduled-rebuild decision.
    Conservative by construction: a tiny appended mass can't trigger a
    full retrain however weird it looks (``min_delta_fraction``), and
    each trigger names itself so the decision is auditable."""
    reasons: list[str] = []
    frac = (
        report["n_delta"] / (report["n_train"] + report["n_delta"])
        if report["n_train"] + report["n_delta"]
        else 0.0
    )
    if frac >= min_delta_fraction:
        if (
            report["err_ratio"] is not None
            and report["err_ratio"] > err_ratio
        ):
            reasons.append(
                f"appended quantization error {report['err_ratio']:.2f}x "
                f"the train baseline (> {err_ratio}x)"
            )
        if (
            report["imbalance"] is not None
            and report["imbalance"] > imbalance
        ):
            reasons.append(
                f"worst cell holds {report['imbalance']:.1f}x the "
                f"uniform share (> {imbalance}x)"
            )
    return (bool(reasons), reasons)
