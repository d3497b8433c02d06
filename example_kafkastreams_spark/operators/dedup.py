"""Deduplication operators.

Reference semantics (SURVEY.md §2.4):

- A1 — windowed dedup via first-wins reduce:
  ``groupByKey().windowedBy(TimeWindows.of(w)).reduce((a, _) => a)``
  (ClickstreamJoinExample.scala:243-257): per (key, tumbling window) keep
  the FIRST record. Batch analog: :func:`dedup_tumbling_window`, which
  is also the streaming operator on a watermarked stream.

- A2 — emission-anchored dedup (Processor API,
  DeduplicationExample.scala:126-142): suppress a record iff a record
  with the same key was *emitted* within the trailing window; windows are
  anchored at the last emission, not bucket-aligned. Not expressible in
  single-pass SQL (state depends on prior emissions); batch analog via
  per-key ordered scan in :func:`dedup_emission_anchored`; its fold,
  :func:`emission_anchored_keep`, is the streaming operator's too.

Scale notes: A1 is a hash aggregation with ``min_by`` over a struct —
Catalyst plans partial (map-side) aggregation before the single shuffle
on (key, window), so duplicate-heavy data collapses before the exchange.
That is the property that keeps it viable at 100 TB; a
``row_number()``-based formulation would instead sort every partition.
A2 shuffles once on the key and streams each group through Arrow in
timestamp order; state per key is O(1) (last emission time).
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
from pyspark.sql import DataFrame, functions as F


def _ordering_struct(order_cols: Iterable[str]) -> F.Column:
    # struct comparison is lexicographic — a deterministic total order as
    # long as the caller includes a unique tie-break column (e.g. event_id).
    return F.struct(*[F.col(c) for c in order_cols])


def dedup_tumbling_window(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    window_duration: str = "1 day",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """A1: keep the first record per (keys..., tumbling window).

    "First" = smallest (ts, *order_cols) — the reference's ``reduce((a,_)
    => a)`` keeps the first *arrival*; in batch we canonicalize arrival
    order to event-time order with a unique tie-break for determinism.

    Output: keys + ``window_start`` + all original columns of the
    surviving row.

    Streaming: the same operator on a stream that carries a watermark
    on ``ts_col`` (``df.withWatermark(ts_col, delay)``; the reference's
    2×window retention). An append-mode sink emits each window once
    the watermark passes its end, and batch and stream agree
    record-for-record PROVIDED ``order_cols`` includes a unique
    tie-break column (e.g. ``event_id``): the keys are constant within
    a group, so they cannot break ``ts`` ties.
    """
    order_cols = order_cols or []
    ordering = _ordering_struct([ts_col, *order_cols])
    payload = F.struct(*[F.col(c) for c in df.columns])
    win = F.window(F.col(ts_col), window_duration)
    out = (
        df.groupBy(*keys, win.alias("window"))
        .agg(F.min_by(payload, ordering).alias("first_rec"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("first_rec.*"),
        )
    )
    return out


def dedup_exact(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Exact dedup on ``keys``: one deterministic survivor per key group.

    ``dropDuplicates`` keeps an *arbitrary* row — fine for streaming, but
    nondeterministic for oracle comparison — so the batch canonical form
    picks the row with the smallest ``order_cols`` tuple via ``min_by``
    (again: partial-agg before the shuffle, no sort). Default ordering =
    ALL non-key columns, making the ordering struct a total order over
    distinct rows — a single non-key column need not be unique within a
    key group, which would leave the survivor's remaining columns
    nondeterministic.
    """
    order_cols = order_cols or [c for c in df.columns if c not in keys]
    payload = F.struct(*[F.col(c) for c in df.columns])
    return (
        df.groupBy(*keys)
        .agg(F.min_by(payload, _ordering_struct(order_cols)).alias("first_rec"))
        .select("first_rec.*")
    )


def emission_anchored_keep(
    ts_us: np.ndarray, last: int | None, win_us: int
) -> tuple[list[int], int | None]:
    """The A2 fold over ONE key's event-time-sorted µs stamps: a stamp
    is kept iff it lies STRICTLY more than ``win_us`` after the last
    kept one (a stamp exactly ``win_us`` after the anchor is
    suppressed), and each kept stamp re-anchors. ``last`` is the anchor
    carried in from earlier records of the key (``None``: no emission
    yet). Returns (kept indices into ``ts_us``, the new anchor).

    Emissions are found by binary-search jumps, not a per-row walk.
    The batch scan (:func:`dedup_emission_anchored`) calls it once per
    key segment of each Arrow chunk, the streaming operator
    (``streaming.ops.dedup_emission_anchored_stream``) once per key and
    micro-batch chunk; both carry ``last`` between calls.
    """
    n = len(ts_us)
    i = 0 if last is None else int(np.searchsorted(ts_us, last + win_us, side="right"))
    keep: list[int] = []
    while i < n:
        keep.append(i)
        last = int(ts_us[i])
        i = int(np.searchsorted(ts_us, last + win_us, side="right"))
    return keep, last


def dedup_emission_anchored(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    window_seconds: float = 15.0,
) -> DataFrame:
    """A2: exact Processor-API semantics (DeduplicationExample.scala:133-141).

    Per key, scanning records in event-time order: emit a record iff no
    record with the same key was emitted in the last ``window_seconds``;
    emitting re-anchors the window. The golden sequence (FIXTURES.md §2.2)
    0/1/3/7/17 s ⇒ emit at 0 and 17.

    Implemented as repartition(keys) → sortWithinPartitions(keys, ts)
    → ``mapInPandas``: one shuffle, then each executor core scans its
    whole partition in a handful of Arrow batches instead of one tiny
    pandas DataFrame per group (per-group apply overhead dominates when
    groups are small — ~4× faster here). Group state (last emission)
    carries across Arrow chunk boundaries; each key segment runs
    through :func:`emission_anchored_keep`. Oracle-checked against a
    recursive-CTE left fold (queries.q03) that walks the same
    (ts, payload) order with the same strict window boundary.
    """
    schema = df.schema
    key_cols = list(keys)
    ts = ts_col
    win_us = int(window_seconds * 1_000_000)
    sort_cols = key_cols + [ts] + [
        c for c in df.columns if c not in key_cols and c != ts
    ]

    def scan_partition(pdfs):
        carry_key: tuple | None = None
        carry_last: int | None = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            t = pdf[ts].astype("datetime64[us]").astype("int64").to_numpy()
            n = len(pdf)
            karr = [pdf[c].to_numpy() for c in key_cols]
            # vectorized group boundaries within this sorted chunk
            if n > 1:
                diff = np.zeros(n - 1, dtype=bool)
                for a in karr:
                    diff |= a[1:] != a[:-1]
                starts = [0, *(np.nonzero(diff)[0] + 1), n]
            else:
                starts = [0, n]
            keep: list[int] = []
            for s, e in zip(starts[:-1], starts[1:]):
                gks = tuple(a[s] for a in karr)
                last = carry_last if gks == carry_key else None
                kept, last = emission_anchored_keep(t[s:e], last, win_us)
                keep.extend(s + i for i in kept)
                carry_key, carry_last = gks, last
            if keep:
                yield pdf.iloc[keep]

    return (
        df.repartition(*key_cols)
        .sortWithinPartitions(*sort_cols)
        .mapInPandas(scan_partition, schema=schema)
    )
