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

Compaction keeps the same rule. A compactor folds a leaf tree's
per-batch leaves into a few large files between runs (no ingest query
may be writing); compactors move directories with os/shutil, so the
tree must be on a local filesystem.

* **Frontier hold-back** (``split_frontier``). Only a run's last batch
  can be replayed (earlier ones have committed offsets), and its
  replay must find its own leaf: to overwrite it, and, where the sink
  reads the tree back, to exclude it (folded away, it would make the
  replay collide with its own rows). Each run's maximum
  ``ingest_batch`` leaf is therefore held back and folds on a later
  compaction, once the run has moved past it; a dead run costs
  one small leaf for good. Folded rows land under ``ingest_run=``
  ``COMPACTED_RUN`` (``__compacted__``), which always folds again: its
  underscores are not hex digits, so no token can equal it and no
  own-leaf exclusion can ever drop it.
* **Park-then-promote swap** (``swap_tree``). Where a row served twice
  is wrong (ANN codes, training shards, BM25 postings, a static index
  rewritten whole), the new tree is written to a ``.__compacting__``
  sibling while the live tree still serves; then the live tree is
  parked at ``.__pre_compact__``, the new one promoted and the parked
  twin pruned. The next swap first undoes a crash: a parked twin whose
  live tree is missing is restored (the promote never happened), one
  whose live tree exists is pruned (it did), and stale staging output
  is cleared. So the tree is always the old one or the new one, and a
  crash costs at most a re-run of the compaction.
* **Atomic JSON** (``write_json``). Pointers, watermarks and index
  metadata are replaced by tmp + ``os.replace``, never rewritten in
  place.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, functions as F

INGEST_PARTS = ("ingest_run", "ingest_batch")
COMPACTED_RUN = "__compacted__"
_POINTER = "meta.json"
_PARKED, _STAGED = ".__pre_compact__", ".__compacting__"


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
    spark, root: str, exclude: Iterable[tuple[str, int]] = ()
) -> DataFrame | None:
    """The leaf tree at ``root``, or None before its first committed
    leaf. ``exclude`` lists ``(token, batch_id)`` leaves to drop: a
    sink's own on replay, a compactor's held-back frontier (a partition
    filter, so it prunes rather than scans)."""
    if not _has_leaves(root):
        return None
    df = spark.read.parquet(root)
    for token, batch_id in exclude:
        df = df.filter(
            ~(
                (F.col("ingest_run") == token)
                & (F.col("ingest_batch") == batch_id)
            )
        )
    return df


def _read_pointer(path: str) -> dict | None:
    p = os.path.join(path, _POINTER)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def write_json(path: str, obj) -> None:
    """Replace the JSON file at ``path`` atomically (tmp +
    ``os.replace``): a reader or a crash sees the old document or the
    new one, never a torn one."""
    tmp = path + ".__tmp__"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _flip(path: str, meta: dict) -> None:
    write_json(os.path.join(path, _POINTER), meta)


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


def split_frontier(
    pairs: Iterable[tuple[str, int]],
) -> tuple[list[tuple[str, int]], list[tuple[str, int]]]:
    """Split leaf ids ``(ingest_run, ingest_batch)`` into sorted
    ``(fold, held)`` lists: each run's maximum batch is held back,
    every other leaf folds, and ``COMPACTED_RUN`` always folds."""
    pairs = sorted({(run, int(batch)) for run, batch in pairs})
    top = {run: batch for run, batch in pairs if run != COMPACTED_RUN}
    fold = [(run, batch) for run, batch in pairs if top.get(run) != batch]
    return fold, sorted(top.items())


def _require_local(path: str) -> str:
    """The local path behind ``path`` (a plain path or a ``file:``
    URI); anything else is refused before a directory moves."""
    parsed = urlparse(path)
    if parsed.scheme not in ("", "file"):
        raise ValueError(
            f"compaction requires a local path, got {path!r}; run it on "
            "the filesystem that holds the tree (object-store layouts "
            "need a committer-based rewrite)"
        )
    if parsed.scheme == "file":
        if parsed.netloc not in ("", "localhost"):
            raise ValueError(f"non-local file URI: {path!r}")
        return unquote(parsed.path)
    return path


@contextmanager
def swap_tree(path: str) -> Iterator[tuple[str, str]]:
    """Publish a new version of the local tree at ``path`` by the
    park-then-promote swap. Yields ``(live, tmp)`` once a crashed swap
    is undone: the body reads ``live`` and writes the new tree to
    ``tmp``, or writes nothing to keep ``live``. After a body that wrote
    ``tmp``, ``live`` is parked, ``tmp`` promoted and the twin pruned;
    a body that raises leaves ``live`` serving."""
    live = _require_local(path).rstrip("/")
    parked, tmp = live + _PARKED, live + _STAGED
    if os.path.isdir(parked):
        if os.path.isdir(live):
            shutil.rmtree(parked)
        else:
            os.rename(parked, live)
    shutil.rmtree(tmp, ignore_errors=True)
    yield live, tmp
    if os.path.isdir(tmp):
        os.rename(live, parked)
        os.rename(tmp, live)
        shutil.rmtree(parked)
