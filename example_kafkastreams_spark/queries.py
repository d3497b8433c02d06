"""Declared query registry — the driver-facing surface.

Every implemented operator from SURVEY.md §2 registers here as
  name -> callable(spark, sf_dir) -> DataFrame     (QUERIES)
  name -> DuckDB-equivalent ANSI SQL               (ORACLE_SQL)
  name -> (discriminator, branch values)           (BRANCHES, merged slots)
Non-SQL-expressible ops register without oracle SQL (rows-only check).

Naming: q0x reference parity, q1x relational breadth, q2x analytic/
scalar, q3x streaming-derived batch analogs, q4x LLM-pipeline
extensions. Aliases match between Spark and SQL exactly (driver hashes
by sorted column name).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .catalog import load_table
from .operators import (
    dedup_emission_anchored,
    dedup_tumbling_window,
    enrich_clickstream,
)

from .registry import (
    BRANCHES,
    ORACLE_SQL,
    QUERIES,
    query,
    window_start_sql as _day_window_sql,
)


# --- q01: A1 windowed dedup (ClickstreamJoinExample.scala:243-257) --------

@query(
    "q01_dedup_window",
    oracle=f"""
    SELECT {_day_window_sql('ts')} AS window_start,
           event_id, ts, user_id, event_type, value, props
    FROM (
      SELECT *, row_number() OVER (
                PARTITION BY user_id, event_type, {_day_window_sql('ts')}
                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q01_dedup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: first event per (user_id, event_type, 1-day tumbling window)."""
    events = load_table(spark, sf_dir, "events")
    return dedup_tumbling_window(
        events,
        keys=["user_id", "event_type"],
        ts_col="ts",
        window_duration="1 day",
        order_cols=["event_id"],
    )


# --- q02: flagship clickstream enrichment (J2+P6+A1+P4) -------------------

_ENRICH_LOOKBACK_S = 24 * 3600

@query(
    "q02_clickstream_enrich",
    oracle=f"""
    WITH pv AS (
      SELECT user_id, event_id AS pv_event_id, value AS pv_value, ts AS pv_ts
      FROM events WHERE event_type = 'view'
    ), ev AS (
      SELECT user_id, event_id, event_type, value, ts, props
      FROM events WHERE event_type <> 'view'
    ), matched AS (
      SELECT ev.user_id, ev.event_id, ev.event_type, ev.value, ev.ts,
             pv.pv_event_id, pv.pv_value, pv.pv_ts,
             row_number() OVER (PARTITION BY ev.event_id
                                ORDER BY pv.pv_ts DESC, pv.pv_event_id DESC) AS rn
      FROM ev LEFT JOIN pv
        ON ev.user_id = pv.user_id
       AND pv.pv_ts >= ev.ts - INTERVAL {_ENRICH_LOOKBACK_S} SECOND
       AND pv.pv_ts <= ev.ts
    ), asof_picked AS (
      SELECT user_id, event_id, event_type, value, ts,
             pv_event_id, pv_value, pv_ts
      FROM matched WHERE rn = 1
    ), dedup AS (
      SELECT *, row_number() OVER (
                PARTITION BY user_id, event_type, pv_event_id,
                             {_day_window_sql('ts')}
                ORDER BY ts, event_id) AS rn
      FROM asof_picked
    )
    SELECT user_id, event_id, event_type, value AS ev_value, ts,
           pv_event_id, pv_value, pv_ts
    FROM dedup WHERE rn = 1
    """,
)
def q02_clickstream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: as-of enrichment join + windowed dedup (SURVEY.md §7 ph.2)."""
    events = load_table(spark, sf_dir, "events")
    return enrich_clickstream(
        events, lookback_seconds=_ENRICH_LOOKBACK_S, dedup_window="1 day"
    )


# --- q03: A2 emission-anchored dedup (DeduplicationExample.scala:126-142) -
# Emission-anchored state is not expressible in one SQL pass, but it IS
# an exact per-key left fold — which a recursive CTE walks precisely:
# rank each key's events (ts, then payload columns — mirroring the
# operator's sortWithinPartitions order), then step rn→rn+1 carrying
# (emitted, last_emit). Strict '>' on the window boundary matches the
# operator's fold (operators.dedup.emission_anchored_keep). This upgrades q03 from
# the r1 rows-only check to a full value-hash oracle.

_A2_WIN_US = 24 * 3600 * 1_000_000

@query(
    "q03_dedup_emission_anchored",
    oracle=f"""
    WITH RECURSIVE ev AS (
      SELECT event_id, ts, user_id, event_type, value, props,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id, value, props) AS rn
      FROM events
    ),
    walk AS (
      SELECT event_id, ts, user_id, event_type, value, props, rn,
             true AS emitted, epoch_us(ts) AS last_emit
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props,
             e.rn,
             epoch_us(e.ts) > w.last_emit + {_A2_WIN_US} AS emitted,
             CASE WHEN epoch_us(e.ts) > w.last_emit + {_A2_WIN_US}
                  THEN epoch_us(e.ts) ELSE w.last_emit END AS last_emit
      FROM walk w
      JOIN ev e ON e.user_id = w.user_id AND e.event_type = w.event_type
               AND e.rn = w.rn + 1
    )
    SELECT event_id, ts, user_id, event_type, value, props
    FROM walk WHERE emitted
    """,
)
def q03_dedup_emission_anchored(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return dedup_emission_anchored(
        events,
        keys=["user_id", "event_type"],
        ts_col="ts",
        window_seconds=24 * 3600.0,
    )


# --- q05: the DSL topology (E3) — symmetric window + dedup ----------------
# clickstreamJoinDsl (ClickstreamJoinExample.scala:199-270): symmetric
# JoinWindows.of, so the out-of-order fixture matches here and not in
# q02's look-back path. The DSL's processing-order first-wins is made
# deterministic: earliest (pv_ts, pv_event_id).

@query(
    "q05_clickstream_enrich_dsl",
    oracle=f"""
    WITH pv AS (
      SELECT user_id, event_id AS pv_event_id, value AS pv_value, ts AS pv_ts
      FROM events WHERE event_type = 'view'
    ), ev AS (
      SELECT user_id, event_id, event_type, value, ts, props
      FROM events WHERE event_type <> 'view'
    ), matched AS (
      SELECT ev.user_id, ev.event_id, ev.event_type, ev.value, ev.ts,
             pv.pv_event_id, pv.pv_value, pv.pv_ts,
             row_number() OVER (PARTITION BY ev.event_id
                                ORDER BY pv.pv_ts ASC, pv.pv_event_id ASC) AS rn
      FROM ev LEFT JOIN pv
        ON ev.user_id = pv.user_id
       AND pv.pv_ts >= ev.ts - INTERVAL {_ENRICH_LOOKBACK_S} SECOND
       AND pv.pv_ts <= ev.ts + INTERVAL {_ENRICH_LOOKBACK_S} SECOND
    ), picked AS (
      SELECT user_id, event_id, event_type, value, ts,
             pv_event_id, pv_value, pv_ts
      FROM matched WHERE rn = 1
    ), dedup AS (
      SELECT *, row_number() OVER (
                PARTITION BY user_id, event_type, pv_event_id,
                             {_day_window_sql('ts')}
                ORDER BY ts, event_id) AS rn
      FROM picked
    )
    SELECT user_id, event_id, event_type, value AS ev_value, ts,
           pv_event_id, pv_value, pv_ts
    FROM dedup WHERE rn = 1
    """,
)
def q05_clickstream_enrich_dsl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.enrich import enrich_clickstream_dsl

    events = load_table(spark, sf_dir, "events")
    return enrich_clickstream_dsl(
        events, window_seconds=_ENRICH_LOOKBACK_S, dedup_window="1 day"
    )


# q04_enrich_first_match (J2 literal Processor pick, earliest match) was
# retired from the registry in round 3: the driver verifies at most 50
# queries, and q04's earliest-in-[t-w,t] pick is a one-parameter variant
# of the operator q02 declares (pick="latest") whose earliest path is
# ALSO driver-checked through q05's symmetric-window DSL query and
# pinned by tests/test_asof_join.py::test_asof_earliest_pick_with_
# matchless_bucket. The operator itself (asof_lookback_left_join,
# pick="earliest", ClickstreamJoinExample.scala:360-365) is unchanged.


# Register the rest of the surface (imports populate the registry).
from . import queries_relational  # noqa: E402,F401
from . import queries_relational_ext  # noqa: E402,F401
from . import queries_llm  # noqa: E402,F401
from . import queries_llm_ext  # noqa: E402,F401
from . import queries_pipeline  # noqa: E402,F401
