"""Interval / as-of joins (reference §2.3 J1/J2).

J1 (DSL, ClickstreamJoinExample.scala:222-234): windowed stream-stream
LEFT join — equi-keys plus symmetric time proximity |l.ts - r.ts| <= w.

J2 (Processor API, ClickstreamJoinExample.scala:314-365): asymmetric
*look-back* variant — for an event at time t, match right-side rows in
[t - w, t]; ONE match wins; unmatched ⇒ NULL right side. SURVEY.md §2.3
canonicalizes this as-of style look-back as the engine's primary
semantics. Deviation from the reference, documented: the processor's
range scan takes the *earliest* match in the window
(ClickstreamJoinExample.scala:360-365 breaks on first fetch hit); we
take the *latest* right row ≤ t (standard as-of semantics — the most
recent page view is the one that caused the event). Earliest-wins is
available via ``pick="earliest"``.

Scale notes: both shapes are an equi-hash join on the keys with the time
predicate evaluated as a post-join filter — one exchange per side, no
theta-join blowup. First-match reduction is a hash aggregation keyed by
the left row id (``max_by``/``min_by`` over the right payload struct):
partial aggregation collapses multi-matches map-side, so the shuffle
after the join carries at most one right payload per left row. A
``row_number`` window would sort; the agg formulation doesn't.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def interval_left_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    lookback_seconds: float = 15.0,
    lookahead_seconds: float = 0.0,
    bucket_seconds: float | None = None,
    how: str = "left",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """All-matches interval join (J1 when lookahead==lookback).

    With ``bucket_seconds`` set (default: window width), the join is
    *time-bucketized*: each left row is exploded into the 2-3 epoch
    buckets its window touches and the bucket id joins as an extra
    equi-key. Without it, a key×key join compares every pair under the
    same join keys — quadratic for a hot key whose history spans far
    more than the window; with it, comparisons are confined to
    adjacent buckets, so cost is window-local density × rows. Each
    matching pair still appears exactly once (the right row lives in
    exactly one bucket).

    Under ``how="left"`` an exploded left row emits one all-NULL right
    row per unmatched bucket — callers collapse per left row (the
    as-of ``groupBy``/``max_by`` does; ``max_by`` ignores NULL-ordering
    rows whenever a real match exists).

    ``bucket_seconds=0`` joins on the keys alone. Streams must pass 0:
    the bucketized left join emits one NULL row per unmatched bucket,
    which the batch as-of join collapses in its ``groupBy``, but an
    append-mode stream would emit every one of them. On streams whose
    inputs carry watermarks on ``left_ts``/``right_ts`` this is the
    stream-stream interval LEFT OUTER join (J1/J2): the time bounds let
    Spark evict join state once the watermark passes them, and an
    unmatched left row emits with NULL right columns when it does
    (Spark holds it exactly as the reference's window store holds
    candidates until retention expires). The stream emits ALL matches
    in the window (J1 multiplicity); the first-match pick of J2 is the
    batch :func:`asof_lookback_left_join`, which the oracle checks.

    Returns (joined, left_aliased, right_aliased); columns are accessed
    via aliases ``l`` / ``r``.
    """
    if bucket_seconds is None:
        bucket_seconds = lookback_seconds + lookahead_seconds
    bucket_us = int(bucket_seconds * 1_000_000)
    lb_us = int(lookback_seconds * 1_000_000)
    la_us = int(lookahead_seconds * 1_000_000)
    if bucket_us > 0:
        lts_us = F.unix_micros(F.col(left_ts))
        left = left.withColumn(
            "__bucket",
            F.explode(
                F.sequence(
                    F.floor((lts_us - lb_us) / bucket_us),
                    F.floor((lts_us + la_us) / bucket_us),
                )
            ),
        )
        right = right.withColumn(
            "__bucket", F.floor(F.unix_micros(F.col(right_ts)) / bucket_us)
        )
        on = [*on, "__bucket"]
    l = left.alias("l")
    r = right.alias("r")
    cond = F.lit(True)
    for k in on:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    lts, rts = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    cond = (
        cond
        & (rts >= lts - F.expr(f"INTERVAL {lookback_seconds} SECONDS"))
        & (rts <= lts + F.expr(f"INTERVAL {lookahead_seconds} SECONDS"))
    )
    return l.join(r, cond, how), l, r


def asof_lookback_left_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_id: str,
    right_payload: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    lookback_seconds: float = 15.0,
    lookahead_seconds: float = 0.0,
    right_order: list[str] | None = None,
    pick: str = "latest",
) -> DataFrame:
    """J2: look-back as-of LEFT join, one right match per left row.
    With ``lookahead_seconds = lookback_seconds`` the window is the
    DSL's symmetric ``JoinWindows.of`` (J1) with a deterministic
    single-match pick layered on top.

    "Row" here means *distinct* left row: the regroup after the
    bucketized join keys on ALL left columns, so fully-duplicate left
    rows are merged into one output row. (``left_id`` — the caller's
    record-id column, e.g. ``ev_id`` — need not be globally unique and
    is NOT sufficient as a regroup key on its own; duplicates are
    indistinguishable records and the reference pipeline's dedup stage
    collapses them anyway.) Output = all left columns +
    ``right_payload`` columns (NULL when unmatched within the look-back
    window).
    """
    joined, l, r = interval_left_join(
        left, right, on, left_ts, right_ts, lookback_seconds,
        lookahead_seconds,
    )
    right_order = right_order or [right_ts]
    # NULL-guard the ordering: the bucketized left join emits an all-NULL
    # right row per UNMATCHED bucket, and struct comparison would rank
    # that NULL-field struct as the minimum — min_by (pick="earliest")
    # would then return NULL payload even when a real match exists in a
    # neighboring bucket. A NULL ordering makes min_by/max_by skip the
    # row entirely; when no bucket matched, the agg returns NULL = the
    # unmatched left-outer result.
    ordering = F.when(
        F.col(f"r.{right_ts}").isNotNull(),
        F.struct(*[F.col(f"r.{c}") for c in right_order]),
    )
    payload = F.struct(*[F.col(f"r.{c}").alias(c) for c in right_payload])
    best = F.max_by(payload, ordering) if pick == "latest" else F.min_by(payload, ordering)
    left_cols = [F.col(f"l.{c}") for c in left.columns]
    out = (
        joined.groupBy(*left_cols)
        .agg(best.alias("m"))
        .select(*[c for c in left.columns], *[F.col(f"m.{c}").alias(c) for c in right_payload])
    )
    return out


def asof_nearest_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    right_payload: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    window_seconds: float = 15.0,
    right_order: list[str] | None = None,
) -> DataFrame:
    """Symmetric NEAREST-event join — the third pick of the as-of
    family: J2's look-back takes the latest match ≤ t and its
    ``pick="earliest"`` twin the first ≥ t − w; this takes the match
    with the SMALLEST |Δt| inside ±w either direction (the "closest
    sensor reading / closest page view" semantics time-series engines
    ship as ``ASOF NEAREST``). Ties break to the earlier right
    timestamp, then ``right_order`` (default: the right id columns the
    caller names) — a total, engine-independent order.

    Same scale shape as the rest of the family: the bucketized
    interval join confines comparisons to adjacent epoch buckets (one
    equi-exchange per side, no theta blowup), and the single-match
    pick is a ``min_by`` hash aggregation over (|Δt| µs, right ts,
    right_order) — partial-aggregated map-side, never a sort. "Row"
    means distinct left row (the ``asof_lookback_left_join``
    contract). Unmatched left rows keep NULL payload.
    """
    joined, l, r = interval_left_join(
        left, right, on, left_ts, right_ts,
        window_seconds, window_seconds,
    )
    right_order = right_order or [right_ts]
    absd = F.abs(
        F.unix_micros(F.col(f"r.{right_ts}"))
        - F.unix_micros(F.col(f"l.{left_ts}"))
    )
    ordering = F.when(
        F.col(f"r.{right_ts}").isNotNull(),
        F.struct(
            absd.alias("__absus"),
            F.col(f"r.{right_ts}"),
            *[F.col(f"r.{c}") for c in right_order],
        ),
    )
    payload = F.struct(*[F.col(f"r.{c}").alias(c) for c in right_payload])
    left_cols = [F.col(f"l.{c}") for c in left.columns]
    return (
        joined.groupBy(*left_cols)
        .agg(F.min_by(payload, ordering).alias("m"))
        .select(
            *[c for c in left.columns],
            *[F.col(f"m.{c}").alias(c) for c in right_payload],
        )
    )
