"""Incremental aggregate maintenance — materialized rollups kept
fresh from delta batches instead of full re-scans.

The 100 TB problem: a daily report over an append-only fact table
(TPC-H Q1, per-source corpus stats, billing rollups) re-scans the
entire history every run, but yesterday's aggregate already contains
everything except today's rows. The classic fix (self-maintainable
views over insert-only deltas, Gupta & Mumick's incremental view
maintenance) is to persist PARTIAL aggregates per group key — sums,
counts, min/max — and fold each delta batch in with an associative,
commutative MERGE. Maintenance then costs one delta-sized aggregation
plus a state-sized merge (state has one row per group — tiny next to
the fact table), never a re-scan.

Spark shape:
- ``rollup_build`` is an ordinary partial-combinable hash aggregate:
  map-side combine reduces each task to ≤|groups| rows before the one
  exchange, which carries group keys + fixed-width longs, never fact
  rows.
- ``rollup_merge`` unions two states and re-aggregates: the exchange
  is 2·|groups| rows. At 100 TB the fact scan is billions of rows but
  |groups| is thousands — the merge is free by comparison.
- Sum partials are SCALED LONGS (the registry's ``dsum`` convention):
  long addition is exact and associative, so ANY merge order — one
  shot, day-by-day, or micro-batch by micro-batch — finalizes to the
  IDENTICAL double bits as a full rebuild. That bit-equality is the
  correctness contract the q11 ``mv`` branch driver-checks against a
  plain GROUP BY oracle, and what ``rollup_fold``'s golden test
  pins across micro-batch schedules.

Contract: deltas are INSERT-ONLY. min/max (and counts/sums without a
retraction log) are not self-maintainable under deletes — the standard
IVM restriction. For update/delete streams, derive an insert-only
changelog first (``diffs.snapshot_changelog`` emits one from snapshot
pairs) and recompute the affected groups, or keep the dimension-shaped
history in an SCD2 store (``operators/scd.py``) instead.

State column layout (schema-driven so merge needs no spec):
  group keys        — every column not below
  ``n_rows``        — COUNT(*)
  ``__s_{name}``    — scaled-long exact sum partial
  ``__c_{name}``    — non-null count partial (the davg denominator)
  ``__min_{name}`` / ``__max_{name}``

Reference parity: the reference's KTable materialization
(``groupByKey().reduce(..., Materialized.as("deduplication_store"))``,
ClickstreamJoinExample.scala:254-256) maintains exactly this running
per-key aggregate state inside RocksDB; here the state is an explicit
DataFrame the batch AND streaming (``rollup_fold``) paths share.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = [
    "rollup_build",
    "rollup_merge",
    "rollup_apply_delta",
    "rollup_finalize",
    "rollup_fold",
]

_COUNT_COL = "n_rows"


def rollup_build(
    df: DataFrame,
    keys: list[str],
    sums: dict[str, tuple[Column, int]] | None = None,
    mins: dict[str, Column] | None = None,
    maxs: dict[str, Column] | None = None,
) -> DataFrame:
    """Per-key partial-aggregate state for ``df``.

    ``sums`` maps metric name -> (column expression, decimal scale);
    the partial is the exact scaled-long sum (``registry.dsum``'s
    accumulator) plus the non-null count, so ``rollup_finalize`` can
    produce both the sum and the average deterministically. ``mins`` /
    ``maxs`` map name -> column.
    """
    aggs: list[Column] = [F.count(F.lit(1)).alias(_COUNT_COL)]
    for name, (col, scale) in (sums or {}).items():
        factor = 10 ** scale
        aggs.append(
            F.sum(F.round(col * factor).cast("long")).alias(f"__s_{name}")
        )
        aggs.append(F.count(col).alias(f"__c_{name}"))
    for name, col in (mins or {}).items():
        aggs.append(F.min(col).alias(f"__min_{name}"))
    for name, col in (maxs or {}).items():
        aggs.append(F.max(col).alias(f"__max_{name}"))
    return df.groupBy(*keys).agg(*aggs)


def _merge_exprs(state: DataFrame) -> tuple[list[str], list[Column]]:
    """Group keys + merge aggregates, derived from the state schema:
    ``__min_``/``__max_`` prefixes merge by min/max, ``__s_``/``__c_``
    and ``n_rows`` by sum; everything else is a key."""
    keys: list[str] = []
    aggs: list[Column] = []
    for c in state.columns:
        if c.startswith("__min_"):
            aggs.append(F.min(c).alias(c))
        elif c.startswith("__max_"):
            aggs.append(F.max(c).alias(c))
        elif c.startswith(("__s_", "__c_")) or c == _COUNT_COL:
            aggs.append(F.sum(c).alias(c))
        else:
            keys.append(c)
    return keys, aggs


def rollup_merge(state_a: DataFrame, state_b: DataFrame) -> DataFrame:
    """Merge two partial states (associative + commutative: long sums
    add, min/max fold). New-in-delta keys appear, absent-in-delta keys
    pass through — the union+re-aggregate handles both for free."""
    merged = state_a.unionByName(state_b)
    keys, aggs = _merge_exprs(merged)
    return merged.groupBy(*keys).agg(*aggs)


def rollup_apply_delta(
    state: DataFrame,
    delta: DataFrame,
    keys: list[str],
    sums: dict[str, tuple[Column, int]] | None = None,
    mins: dict[str, Column] | None = None,
    maxs: dict[str, Column] | None = None,
) -> DataFrame:
    """One maintenance step: aggregate the insert-only ``delta`` batch
    to partials (delta-sized) and merge into ``state`` (state-sized)."""
    return rollup_merge(state, rollup_build(delta, keys, sums, mins, maxs))


def rollup_finalize(
    state: DataFrame,
    sums: dict[str, int] | None = None,
    avgs: dict[str, tuple[str, int]] | None = None,
    count_alias: str | None = None,
) -> DataFrame:
    """Serve-side view of a state: each ``sums`` name (-> its scale)
    becomes the double ``dsum`` value; each ``avgs`` out-name (-> the
    (sum metric name, scale) it divides) becomes sum/count — the
    identical single IEEE ops a one-shot ``dsum``/``davg`` aggregation
    ends with, so a maintained rollup finalizes bit-for-bit equal to a
    full rebuild. min/max partials surface under their bare names;
    ``count_alias`` renames ``n_rows`` (kept as-is when None)."""
    cols: list[Column] = []
    for c in state.columns:
        if c.startswith(("__s_", "__c_")):
            continue
        if c.startswith("__min_"):
            cols.append(F.col(c).alias(c.removeprefix("__min_")))
        elif c.startswith("__max_"):
            cols.append(F.col(c).alias(c.removeprefix("__max_")))
        elif c == _COUNT_COL and count_alias:
            cols.append(F.col(c).alias(count_alias))
        else:
            cols.append(F.col(c))
    for name, scale in (sums or {}).items():
        factor = float(10 ** scale)
        cols.append(
            (F.col(f"__s_{name}").cast("double") / F.lit(factor)).alias(name)
        )
    for out, (name, scale) in (avgs or {}).items():
        factor = float(10 ** scale)
        cols.append(
            (
                (F.col(f"__s_{name}").cast("double") / F.lit(factor))
                / F.col(f"__c_{name}")
            ).alias(out)
        )
    return state.select(*cols)


def rollup_fold(
    keys: list[str],
    sums: dict[str, tuple[Column, int]] | None = None,
    mins: dict[str, Column] | None = None,
    maxs: dict[str, Column] | None = None,
):
    """Snapshot-store fold (``streaming.sinks.snapshot_sink``) keeping a
    PERSISTENT rollup state — the aggregate member of the ingest-store
    family (Bloom = membership, count-min = frequency, SCD2 =
    dimension history, this = metric rollup). Long-sum partials are
    not idempotent under re-merge; the store's replay skip keeps a
    replayed batch from double-counting. Feed ``snapshot_read``
    through ``rollup_finalize`` to serve.

    Scale: the snapshot is |groups| rows of keys + longs — at 100 TB
    the micro-batch aggregation dominates and is delta-sized; state
    I/O is rollup-sized, independent of history length.
    """

    def fold(batch_df: DataFrame, cur: DataFrame | None) -> DataFrame:
        new = rollup_build(batch_df, keys, sums, mins, maxs)
        return (new if cur is None else rollup_merge(cur, new)).coalesce(1)

    return fold
