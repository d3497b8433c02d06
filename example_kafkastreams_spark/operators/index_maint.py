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

The path rewrite is ADDITIVE THEN PRUNE: the ``__compacted__``
partition (a dynamic partition overwrite, touching no other partition)
lands first, and only then are the folded per-batch directories
removed. A crash at any instant leaves the index a SUPERSET of its
true content, and every consumer (anti-joins, band-edge joins,
admission) is insensitive to duplicate index rows, so admission
decisions are identical at every intermediate state and the next
compaction finishes the prune. The frontier hold-back, the
``__compacted__`` token and the swap of a static index follow the
compaction rules in ``streaming.sinks``.

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
from ..streaming.sinks import (
    COMPACTED_RUN,
    INGEST_PARTS,
    read_leaves,
    split_frontier,
    swap_tree,
    write_leaf,
)


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
    is rewritten whole by ``streaming.sinks.swap_tree``.

    Run compaction only while no ingest query is writing (the
    "between runs" contract).
    """
    with swap_tree(index_path) as (local_index, tmp):
        df = spark.read.parquet(local_index)
        had_parts = all(c in df.columns for c in INGEST_PARTS)

        if table_name is None:
            base = os.path.basename(os.path.normpath(local_index))
            table_name = "idx_" + "".join(
                ch if ch.isalnum() else "_" for ch in base
            )

        # catalog twin: canonical reps of EVERYTHING (frontier
        # included — delta joins must see every admitted key)
        body = df.drop(*INGEST_PARTS) if had_parts else df
        catalog = _canonical_reps(body, key_cols, id_col)
        if not had_parts:
            # the static branch materializes the catalog twice (table
            # + path rewrite) — compute the dedup once
            catalog = catalog.persist()
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        wparsed = urlparse(warehouse)
        if wparsed.scheme in ("", "file"):
            # managed-table dir can survive a DROP after a previous
            # crash; only a local warehouse is cleanable this way
            wdir = unquote(wparsed.path) if wparsed.scheme else warehouse
            shutil.rmtree(os.path.join(wdir, table_name), ignore_errors=True)
        write_bucketed(catalog, table_name, bucket_cols, num_buckets)
        if not had_parts:
            catalog.repartition(
                num_buckets, *[F.col(c) for c in bucket_cols]
            ).write.parquet(tmp)
    if not had_parts:
        catalog.unpersist()
        return read_bucketed(spark, table_name)

    fold, held = split_frontier(
        df.select(*INGEST_PARTS).distinct().collect()
    )
    if all(run == COMPACTED_RUN for run, _ in fold):
        # nothing new to fold — re-folding __compacted__ into itself
        # would be a no-op rewrite
        return read_bucketed(spark, table_name)
    compacted = _canonical_reps(
        read_leaves(spark, local_index, held).drop(*INGEST_PARTS),
        key_cols,
        id_col,
    )
    # num_buckets output files, clustered on the join keys (NOT one
    # file: a 100 TB corpus's digest index is itself large) — same
    # clustering as the catalog twin, just without bucket metadata.
    # Staged through a temp dir: Spark refuses to overwrite a path it
    # is reading from, and the fold reads the old __compacted__
    # partition. A crash before the overwrite leaves the index
    # untouched plus a temp dir the next compaction clears.
    staged = local_index + ".__compact_tmp__"
    shutil.rmtree(staged, ignore_errors=True)
    compacted.repartition(
        num_buckets, *[F.col(c) for c in bucket_cols]
    ).write.parquet(staged)
    write_leaf(spark.read.parquet(staged), local_index, COMPACTED_RUN, 0)
    shutil.rmtree(staged, ignore_errors=True)
    # prune AFTER the additive write: every folded row is now in
    # __compacted__, so losing a crash race here only leaves
    # admission-neutral duplicates for the next compaction
    for run, batch in fold:
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
    for run in {run for run, _ in fold if run != COMPACTED_RUN}:
        run_dir = os.path.join(local_index, f"ingest_run={run}")
        try:
            if not any(
                e.startswith("ingest_batch=") for e in os.listdir(run_dir)
            ):
                shutil.rmtree(run_dir, ignore_errors=True)
        except OSError:
            pass

    return read_bucketed(spark, table_name)
