"""Index maintenance: compaction for the persistent dedup indexes.

The idempotent ingest sinks (pipelines.corpus_ingest_with_index /
corpus_ingest_with_neardup_index) write one
``ingest_run=…/ingest_batch=…`` parquet partition per micro-batch —
exactly-once under replay, but after thousands of batches every
per-batch index re-read pays a many-small-files listing, and the
zero-exchange bucketed-index join (plan-proved in
tests/test_incremental_neardup.py) is only reachable via a bucketed
rewrite no sink performs. ``compact_index`` is that rewrite, callable
BETWEEN runs: dedup the accumulated rows to their canonical
representatives, publish a hash-bucketed catalog table for
exchange-free delta joins, and fold the path artifact's per-batch
partitions into one ``ingest_run=__compacted__`` partition so
streaming sinks (which read the PATH, where bucket metadata cannot
live) keep working unchanged.

Two safety properties (ADVICE r7), both structural:

* **Crash-safe by construction.** The path rewrite is ADDITIVE THEN
  PRUNE: the ``__compacted__`` partition (a dynamic partition
  overwrite — no other partition is touched) lands first, and only
  then are the folded per-batch directories removed. A crash at any
  instant leaves the index a SUPERSET of its true content — duplicate
  rows across the compacted and not-yet-pruned partitions — and every
  consumer (anti-joins, band-edge joins, admission) is insensitive to
  duplicate index rows, so admission decisions are identical at every
  intermediate state and the next compaction finishes the prune.
  There is no rename window in which the path is missing.
* **Replay-safe.** foreachBatch can replay at most each run's LAST
  batch (earlier batches have committed offsets). Folding that batch
  into ``__compacted__`` would put its admitted signatures where the
  sink's own-(run,batch) replay-exclusion filter
  (``streaming.sinks.read_leaves``) cannot remove them — the replayed
  batch would self-collide and drop its own admitted docs. Compaction
  therefore HOLDS BACK each run's frontier (max ``ingest_batch``)
  partition, leaving it precisely excludable; it folds in on a later
  compaction once the run has moved past it (a dead run permanently
  costs one small partition). The synthetic ``__compacted__`` token
  itself contains non-hex characters, so no real run token (16 hex
  digits, ``streaming.sinks``) can ever equal it and no replay filter
  can ever exclude the compacted partition.

Applies to every index grain this engine persists:
* digest index   — (doc_id, content_hash); key = content_hash
* MinHash bands  — (doc_id, sig, band_idx, band_key); key = the rest
* SimHash bands  — (doc_id, simhash, band_idx, band_val); key = rest
* window hashes  — (whash); key = whash (no id column)
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.bucketed import read_bucketed, write_bucketed
from ..streaming.sinks import INGEST_PARTS, write_leaf

# Synthetic partition token for the compacted path artifact. A real
# sink token is 16 hex digits, so no batch's
# own-partition replay-exclusion filter can ever match this value.
COMPACTED_RUN = "__compacted__"


def _require_local(path: str, what: str) -> str:
    """Directory-level compaction moves files with os/shutil — that is
    only correct on a local filesystem. Raise a clear error for URI
    paths instead of corrupting nothing and failing mid-way."""
    parsed = urlparse(path)
    if parsed.scheme not in ("", "file"):
        raise ValueError(
            f"compact_index requires a local {what}, got {path!r}; "
            "run compaction on the filesystem that holds the index "
            "(object-store layouts need a committer-based rewrite)"
        )
    if parsed.scheme == "file":
        if parsed.netloc not in ("", "localhost"):
            raise ValueError(
                f"non-local file URI for {what}: {path!r}"
            )
        return unquote(parsed.path)
    return path


def _canonical_reps(
    body: DataFrame, key_cols: list[str] | None, id_col: str | None
) -> DataFrame:
    """Dedup index rows to canonical representatives: min-``id_col``
    per key group (the band-index builders' rep convention — ids are
    never read by admission, only distinct keys, but the canonical
    form keeps re-compaction idempotent); key-only indexes (the whash
    grain) compact to ``distinct()``."""
    if id_col is not None and id_col in body.columns:
        keys = key_cols or [c for c in body.columns if c != id_col]
        return (
            body.groupBy(*keys)
            .agg(F.min(id_col).alias(id_col))
            # restore the original column order — readers (and the
            # bucketed twin) see the exact pre-compaction schema
            .select(*body.columns)
        )
    return body.select(*(key_cols or body.columns)).distinct()


def compact_index(
    spark: SparkSession,
    index_path: str,
    bucket_cols: list[str],
    key_cols: list[str] | None = None,
    id_col: str | None = "doc_id",
    num_buckets: int = 32,
    table_name: str | None = None,
) -> DataFrame:
    """Compact the index at ``index_path``; returns the bucketed
    catalog frame (join it exchange-free on ``bucket_cols``).

    1. **Bucketed catalog table** (``table_name``, default derived
       from the path): the canonical representatives of the ENTIRE
       index (held-back frontier partitions included), hash-bucketed
       on ``bucket_cols`` so the index side of every future delta
       join needs no exchange.
    2. **Path fold.** Every non-frontier ``(ingest_run,
       ingest_batch)`` partition's rows are deduped and rewritten as
       ONE ``ingest_run=__compacted__/ingest_batch=0`` partition
       (additive dynamic-partition overwrite), then the folded
       per-batch directories are pruned — see the module docstring
       for why this is crash- and replay-safe. Streaming sinks keep
       reading the path with no code change; their
       dynamic-partition-overwrite appends land beside the compacted
       partition and the next compaction folds them in.

    A source with no ingest partitions (a static, batch-built index)
    is rewritten in place via temp-dir + rename — no sink writes such
    a layout, so the rename window has no concurrent reader by
    definition.

    Run compaction only while no ingest query is writing (the
    "between runs" contract).
    """
    local_index = _require_local(index_path, "index_path").rstrip("/")
    # recover a static-branch crash between its two renames: the
    # original is parked at .__pre_compact__ and the live path is
    # missing — restore it before reading
    _old = local_index + ".__pre_compact__"
    if not os.path.isdir(local_index) and os.path.isdir(_old):
        os.rename(_old, local_index)
    df = spark.read.parquet(local_index)
    had_parts = all(c in df.columns for c in INGEST_PARTS)

    if table_name is None:
        base = os.path.basename(os.path.normpath(local_index))
        table_name = "idx_" + "".join(
            ch if ch.isalnum() else "_" for ch in base
        )

    # catalog twin: canonical reps of EVERYTHING (frontier included —
    # delta joins must see every admitted key)
    body = df.drop(*INGEST_PARTS) if had_parts else df
    catalog = _canonical_reps(body, key_cols, id_col)
    if not had_parts:
        # the static branch materializes the catalog twice (table +
        # path rewrite) — compute the dedup once
        catalog = catalog.persist()
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    wparsed = urlparse(warehouse)
    if wparsed.scheme in ("", "file"):
        # managed-table dir can survive a DROP after a previous crash;
        # only a local warehouse is cleanable this way
        wdir = unquote(wparsed.path) if wparsed.scheme else warehouse
        shutil.rmtree(os.path.join(wdir, table_name), ignore_errors=True)
    write_bucketed(catalog, table_name, bucket_cols, num_buckets)

    if not had_parts:
        # static layout: rewrite via temp + rename (no concurrent
        # readers by contract; a leftover temp dir is re-created)
        clustered = catalog.repartition(
            num_buckets, *[F.col(c) for c in bucket_cols]
        )
        tmp = local_index + ".__compact_tmp__"
        old = local_index + ".__pre_compact__"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        clustered.write.parquet(tmp)
        os.rename(local_index, old)
        os.rename(tmp, local_index)
        shutil.rmtree(old, ignore_errors=True)
        catalog.unpersist()
        return read_bucketed(spark, table_name)

    # partitioned layout: fold everything EXCEPT each run's frontier
    # (max ingest_batch) partition — the only partition a foreachBatch
    # replay can rewrite. __compacted__ itself always folds (it is the
    # overwrite target, and no replay can name it).
    pairs = [
        (r[0], r[1])
        for r in df.select(*INGEST_PARTS).distinct().collect()
    ]
    frontier: dict = {}
    for run, batch in pairs:
        if run == COMPACTED_RUN:
            continue
        if run not in frontier or batch > frontier[run]:
            frontier[run] = batch
    held = {(run, b) for run, b in frontier.items()}
    folded_pairs = [p for p in pairs if p not in held]
    if not [p for p in folded_pairs if p[0] != COMPACTED_RUN]:
        # nothing new to fold — re-folding __compacted__ into itself
        # would be a no-op rewrite
        return read_bucketed(spark, table_name)

    fold_cond = None
    for run, batch in held:
        c = (F.col("ingest_run") == run) & (F.col("ingest_batch") == batch)
        fold_cond = c if fold_cond is None else (fold_cond | c)
    folded = df if fold_cond is None else df.filter(~fold_cond)
    compacted = _canonical_reps(
        folded.drop(*INGEST_PARTS), key_cols, id_col
    )
    # num_buckets output files, clustered on the join keys (NOT one
    # file: a 100 TB corpus's digest index is itself large) — same
    # clustering as the catalog twin, just without bucket metadata.
    # Staged through a temp dir: Spark refuses to overwrite a path it
    # is reading from, and the fold reads the old __compacted__
    # partition. A crash before the overwrite leaves the index
    # untouched plus a temp dir the next compaction clears.
    tmp = local_index + ".__compact_tmp__"
    shutil.rmtree(tmp, ignore_errors=True)
    compacted.repartition(
        num_buckets, *[F.col(c) for c in bucket_cols]
    ).write.parquet(tmp)
    write_leaf(spark.read.parquet(tmp), local_index, COMPACTED_RUN, 0)
    shutil.rmtree(tmp, ignore_errors=True)
    # prune AFTER the additive write: every folded row is now in
    # __compacted__, so losing a crash race here only leaves
    # admission-neutral duplicates for the next compaction
    for run, batch in folded_pairs:
        if run == COMPACTED_RUN:
            continue  # just overwritten in place, never pruned
        shutil.rmtree(
            os.path.join(
                local_index,
                f"ingest_run={run}",
                f"ingest_batch={batch}",
            ),
            ignore_errors=True,
        )
    for run in {run for run, _ in folded_pairs if run != COMPACTED_RUN}:
        run_dir = os.path.join(local_index, f"ingest_run={run}")
        try:
            if not any(
                e.startswith("ingest_batch=") for e in os.listdir(run_dir)
            ):
                shutil.rmtree(run_dir, ignore_errors=True)
        except OSError:
            pass

    return read_bucketed(spark, table_name)
