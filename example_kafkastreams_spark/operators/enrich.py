"""Clickstream enrichment — the reference's flagship query
(ClickstreamJoinExample.scala:163-270), re-expressed Spark-first.

Reference pipeline (Processor API path, E2 in SURVEY.md §3):
  events + page_views
    → re-key to (client, pv)                 [P1/P2 selectKey]
    → look-back windowed LEFT join, 1 match  [J2]
    → value shaping EvPv, NULL unmatched     [P6 ValueJoiner]
    → re-key to (client, pv, ev)             [P3]
    → windowed dedup, first wins             [A1]
    → re-key to client                       [P4/P5]

Batch analog over the driver ``events`` table (FIXTURES.md §3): rows
with ``event_type = 'view'`` play page_views; all other rows play the
ev stream; ``user_id`` plays client_id. The testdata has no pv_id, so
the join key is ``user_id`` alone and the time window does the scoping —
same operator shapes, J3's key-compatibility point included (join on the
original partition key, no re-key shuffle: ClickstreamJoinExample.scala:
184-189).

Scale: one exchange per side for the join (equi on user_id), one
exchange for the dedup agg — both on the same key, so Catalyst reuses
the partitioning where possible. No window sorts anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .asof_join import asof_lookback_left_join
from .dedup import dedup_tumbling_window


def split_clickstream(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P1/P2 analog: project the raw events table into the pv-like and
    ev-like streams (filter + column shaping; pushed to the parquet scan).
    """
    pv = events.filter(F.col("event_type") == "view").select(
        F.col("user_id"),
        F.col("event_id").alias("pv_event_id"),
        F.col("value").alias("pv_value"),
        F.col("ts").alias("pv_ts"),
    )
    ev = events.filter(F.col("event_type") != "view").select(
        "user_id", "event_id", "event_type", "value", "ts", "props"
    )
    return pv, ev


def _enrich(
    events: DataFrame,
    lookback_seconds: float,
    lookahead_seconds: float,
    dedup_window: str,
    pick: str,
    rekey: bool,
) -> DataFrame:
    """The one body of the three enrichment topologies: split → as-of
    join (``pick`` one pv within [ts − lookback, ts + lookahead]) → A1
    dedup per (user, event_type, matched pv, tumbling window) → P4
    projection. ``rekey`` adds the DSL path's explicit repartition
    "topics" before each stateful stage."""
    pv, ev = split_clickstream(events)
    if rekey:
        # P1/P2 "selectKey" repartition topics
        pv = pv.repartition("user_id", "pv_event_id")
        ev = ev.repartition("user_id", "event_id")
    joined = asof_lookback_left_join(
        ev.withColumnRenamed("ts", "ev_ts"),
        pv,
        on=["user_id"],
        left_id="event_id",
        right_payload=["pv_event_id", "pv_value", "pv_ts"],
        left_ts="ev_ts",
        right_ts="pv_ts",
        lookback_seconds=lookback_seconds,
        lookahead_seconds=lookahead_seconds,
        right_order=["pv_ts", "pv_event_id"],
        pick=pick,
    )
    if rekey:
        # P3 "selectKey" repartition topic before the dedup store
        joined = joined.repartition("user_id", "event_type", "pv_event_id")
    deduped = dedup_tumbling_window(
        joined.withColumnRenamed("ev_ts", "ts"),
        keys=["user_id", "event_type", "pv_event_id"],
        ts_col="ts",
        window_duration=dedup_window,
        order_cols=["event_id"],
    )
    # P4: final key projection back to the client key, window wrapper dropped
    return deduped.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("value").alias("ev_value"),
        "ts",
        "pv_event_id",
        "pv_value",
        "pv_ts",
    )


def enrich_clickstream(
    events: DataFrame,
    lookback_seconds: float = 24 * 3600.0,
    dedup_window: str = "1 day",
) -> DataFrame:
    """Flagship: enriched, deduplicated event stream.

    Each non-view event is joined to the most recent page view by the
    same user within ``lookback_seconds`` (NULL columns when none — the
    left-outer EvPv shaping, ClickstreamJoinExample.scala:60,222-228),
    then deduplicated first-wins per (user, event_type, matched pv,
    tumbling window) — the A1 stage keyed like EvPvKey
    (ClickstreamJoinExample.scala:58,237-257).
    """
    return _enrich(
        events, lookback_seconds, 0.0, dedup_window, pick="latest", rekey=False
    )


def enrich_clickstream_dsl(
    events: DataFrame,
    window_seconds: float = 24 * 3600.0,
    dedup_window: str = "1 day",
) -> DataFrame:
    """The DSL topology's semantics (E3): SYMMETRIC ``JoinWindows.of``
    — a page view within ±window matches, so the reference's
    out-of-order fixture (ev before its pv) joins here and not in the
    Processor path (ClickstreamJoinExample.scala:144-149,230-231).

    The DSL keeps the first joined record per dedup key in processing
    order, which is nondeterministic in the reference; the batch analog
    makes it deterministic: earliest (pv_ts, pv_event_id) wins. Same
    plan shapes as :func:`enrich_clickstream` — symmetric bounds only
    widen the bucket range."""
    return _enrich(
        events, window_seconds, window_seconds, dedup_window,
        pick="earliest", rekey=False,
    )


def enrich_clickstream_naive(
    events: DataFrame,
    lookback_seconds: float = 24 * 3600.0,
    dedup_window: str = "1 day",
) -> DataFrame:
    """The reference's UNOPTIMIZED topology, deliberately reproduced:
    the DSL path materializes a repartition topic after every selectKey
    (ClickstreamJoinExample.scala:208-219,237-241 — three broker
    round-trips, the thing its Processor API rewrite removes for "up to
    10 times" the efficiency, README.md:12).

    Spark analog: explicit ``repartition`` on the derived keys before
    each stateful stage, forcing exchanges Catalyst would otherwise
    elide or merge. Same result as :func:`enrich_clickstream`; strictly
    worse plan. Exists so tests/bench can demonstrate the translated
    claim: the declarative plan carries fewer exchanges and wins.
    """
    return _enrich(
        events, lookback_seconds, 0.0, dedup_window, pick="latest", rekey=True
    )
