"""Two-phase top-k per group — the combiner shape, made explicit.

Top-k is a mergeable aggregate: any row in the global top-k of its
group is in the local top-k of every subset containing it. So:

1. **Local prune** (via ``mapInPandas``): each Arrow batch keeps at
   most k rows per group it contains — pure partition-local work,
   ZERO shuffle, vectorized sort + group-head in pandas. Output is ≤
   k · (groups present in the batch) rows: a superset of the answer.
2. **Global rank**: the ordinary window over the pruned survivors —
   the one exchange carries the pruned rows only.

**Measured finding (round 10, recorded in ``bench.py``'s
``plan_compare.topk_vs_window``): Catalyst already does this.** Spark
≥ 3.5 plans a native ``WindowGroupLimit`` (SPARK-37099) under any
``row_number()/rank()/dense_rank() <= k`` filter: a JVM-side map-side
group-limit BEFORE the exchange. On the bench events table both plans
shuffle the identical 4,500 survivor rows (k·groups·partitions) out
of 100k input — and the native plan is faster (no Arrow round-trip).
q19's ``window`` branch is therefore the SERVING plan; this module is
(a) the explicit, plan-pattern-independent form — ``topk_fold``
uses the local prune inside ``foreachBatch`` where no rank-filter
pattern exists for Catalyst to recognize, and pre-join/pre-sink
prunes generally don't match SPARK-37099's filter shape — and (b)
the measured proof that the declarative plan needs no hand-rolled
replacement (the MapReduce-combiner / Flink partial-final shape,
verified subsumed). Correctness does not depend on batch boundaries:
per-batch pruning only ever REMOVES rows that k strictly better rows
of the same group accompany.

Null ordering caveat: the local prune sorts nulls to the losing end
(matching Spark's default NULLS LAST for DESC / NULLS FIRST for ASC
only when all order columns share one direction) — order columns must
be non-null when directions are mixed; q19's (value DESC, event_id
ASC) tie-break column is a unique non-null id, which is exactly the
registry's determinism rule anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

__all__ = ["topk_fold", "topk_per_group"]


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[tuple[str, bool]],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-``k`` rows per group with their 1-based rank, ordered by
    ``order_cols`` — (column, descending?) pairs whose last entry
    should be a unique tie-break. Same result as the window-rank
    plan; the exchange carries only locally-pruned survivors."""
    if k < 1:
        raise ValueError("k must be >= 1")
    by = [c for c, _ in order_cols]
    asc = [not d for _, d in order_cols]
    groups = list(group_cols)
    schema = df.schema

    def prune(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # dropna=False: a NULL group key is a legitimate group to
            # the window plan — pandas' default would silently drop it
            yield (
                pdf.sort_values(by=by, ascending=asc, kind="mergesort")
                .groupby(groups, sort=False, dropna=False)
                .head(k)
            )

    pruned = df.mapInPandas(prune, schema=schema)
    order = [
        F.col(c).desc() if d else F.col(c).asc() for c, d in order_cols
    ]
    w = W.partitionBy(*groups).orderBy(*order)
    return (
        pruned.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def topk_fold(
    group_cols: list[str],
    order_cols: list[tuple[str, bool]],
    k: int,
    rank_col: str = "rn",
):
    """Snapshot-store fold (``streaming.sinks.snapshot_sink``) keeping
    PERSISTENT per-group top-k rows (rank included) — the leaderboard
    member of the ingest-store family (next to Bloom / count-min /
    SCD2 / rollup). Top-k is mergeable over insert-only streams:
    topk(state ∪ topk(batch)) == topk(all rows so far), so each
    micro-batch costs a batch-sized two-phase prune plus a merge over
    ≤ k·groups state rows — never a re-rank of history. A replayed
    batch is not idempotent (its rows would enter the ranking twice
    and evict legitimate rows); the store's replay skip covers it.
    """

    def fold(batch_df: DataFrame, cur: DataFrame | None) -> DataFrame:
        local = topk_per_group(
            batch_df, group_cols, order_cols, k, rank_col
        ).drop(rank_col)
        pool = local if cur is None else cur.drop(rank_col).unionByName(local)
        return topk_per_group(
            pool, group_cols, order_cols, k, rank_col
        ).coalesce(1)

    return fold
