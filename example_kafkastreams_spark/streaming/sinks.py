"""One replay protocol for every ``foreachBatch`` sink.

Structured Streaming gets end-to-end exactly-once from one rule: a
replayable source plus a sink that is idempotent per batch id
(Armbrust et al., SIGMOD 2018). ``foreachBatch`` is at-least-once:
after a crash or restart the last uncommitted batch id runs again. Every
sink in the package keeps the rule through the helpers here:

* **Replay token.** Output is named by ``(token, batch_id)``. The token
  is 16 hex digits of the md5 of the caller's ``run_id`` if given, else
  of the streaming query id (the same across restarts from one
  checkpoint, new for a fresh checkpoint), else of the output path
  (a direct call outside a stream).
* **One pass per batch.** The batch is persisted once, because
  ``foreachBatch`` re-runs the batch plan, source scan included, once
  per action. An empty batch writes nothing.
* **Leaf outputs** (append-only trees: shards, dedup indexes, ANN codes,
  postings). Each batch lands in ``ingest_run=<token>/ingest_batch=<id>``
  by dynamic partition overwrite, so a replay rewrites its own leaf
  instead of appending twice. A tree is read only once it holds a
  committed leaf (a crash in the first batch can leave staging debris
  with no inferable schema), and a sink reading back a tree it writes
  excludes its own leaf.
* **Snapshot stores** (state a batch rewrites: counter sums, top-k,
  SCD2 history). ``fold(batch_df, current_or_None)`` is written as the
  snapshot ``v_<token>_<batch>``; then ``meta.json``, the pointer plus
  a per-token high-water mark, flips by tmp + ``os.replace``; then the
  superseded snapshot is pruned. A batch at or below its token's
  high-water mark is skipped. A crash before the flip leaves the old
  snapshot serving, and the replay overwrites the orphan.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F

INGEST_PARTS = ("ingest_run", "ingest_batch")
_POINTER = "meta.json"


def _token(batch_df: DataFrame, run_id: str | None, path: str) -> str:
    key = (
        run_id
        or batch_df.sparkSession.sparkContext.getLocalProperty(
            "sql.streaming.queryId"
        )
        or path
    )
    return hashlib.md5(key.encode()).hexdigest()[:16]


def _once(batch_df: DataFrame, apply: Callable[[DataFrame], None]) -> None:
    batch_df = batch_df.persist()
    try:
        if not batch_df.isEmpty():
            apply(batch_df)
    finally:
        batch_df.unpersist()


def leaf_sink(
    path: str,
    write: Callable[[DataFrame, str, int], None],
    run_id: str | None,
):
    """foreachBatch function calling ``write(batch_df, token,
    batch_id)`` once per non-empty batch, on the persisted batch;
    ``path`` is the token's last fallback."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        token = _token(batch_df, run_id, path)
        _once(batch_df, lambda b: write(b, token, int(batch_id)))

    return sink


def write_leaf(
    df: DataFrame,
    root: str,
    token: str,
    batch_id: int,
    parts: tuple[str, ...] = INGEST_PARTS,
) -> None:
    """Write ``df`` as the ``(token, batch_id)`` leaf of the tree at
    ``root``, partitioned by ``parts`` (which must include both ingest
    columns), replacing only that leaf."""
    (
        df.withColumns(
            {"ingest_run": F.lit(token), "ingest_batch": F.lit(int(batch_id))}
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*parts)
        .parquet(root)
    )


def _has_leaves(root: str) -> bool:
    return os.path.isdir(root) and any(
        rd.startswith("ingest_run=")
        and any(
            bd.startswith("ingest_batch=")
            for bd in os.listdir(os.path.join(root, rd))
        )
        for rd in os.listdir(root)
    )


def read_leaves(
    spark, root: str, exclude: tuple[str, int] | None = None
) -> DataFrame | None:
    """The leaf tree at ``root``, or None before its first committed
    leaf. ``exclude=(token, batch_id)`` drops one leaf, a sink's own
    on replay (a partition filter, so it prunes rather than scans)."""
    if not _has_leaves(root):
        return None
    df = spark.read.parquet(root)
    if exclude is None:
        return df
    token, batch_id = exclude
    return df.filter(
        ~((F.col("ingest_run") == token) & (F.col("ingest_batch") == batch_id))
    )


def _read_pointer(path: str) -> dict | None:
    p = os.path.join(path, _POINTER)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _flip(path: str, meta: dict) -> None:
    tmp = os.path.join(path, _POINTER + ".__tmp__")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(path, _POINTER))


def snapshot_read(spark, path: str) -> DataFrame | None:
    """The current snapshot of the store at ``path``, or None for an
    empty store."""
    meta = _read_pointer(path)
    if meta is None:
        return None
    return spark.read.parquet(os.path.join(path, meta["current"]))


def snapshot_sink(
    spark,
    path: str,
    fold: Callable[[DataFrame, DataFrame | None], DataFrame],
    run_id: str | None = None,
):
    """foreachBatch function maintaining the snapshot store at ``path``:
    each applied batch stores ``fold(batch_df, current_or_None)``."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        token = _token(batch_df, run_id, path)
        batch_id = int(batch_id)
        meta = _read_pointer(path) or {"current": None, "applied": {}}
        if batch_id <= meta["applied"].get(token, -1):
            return

        def apply(batch: DataFrame) -> None:
            prev = meta["current"]
            cur = (
                None
                if prev is None
                else spark.read.parquet(os.path.join(path, prev))
            )
            vdir = f"v_{token}_{batch_id}"
            fold(batch, cur).write.mode("overwrite").parquet(
                os.path.join(path, vdir)
            )
            meta["current"] = vdir
            meta["applied"][token] = batch_id
            _flip(path, meta)
            if prev is not None and prev != vdir:
                shutil.rmtree(os.path.join(path, prev), ignore_errors=True)

        _once(batch_df, apply)

    return sink
