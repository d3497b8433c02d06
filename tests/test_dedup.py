"""Dedup operator tests: golden sequences from FIXTURES.md §2 plus
oracle parity at sf0.01."""

from __future__ import annotations

import datetime as dt

import numpy as np
from pyspark.sql import Row

from example_kafkastreams_spark.operators import (
    dedup_emission_anchored,
    dedup_exact,
    dedup_tumbling_window,
)
from example_kafkastreams_spark.operators.dedup import emission_anchored_keep
from tests.conftest import ORACLE
from tests.oracle_utils import assert_matches_oracle

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ts(seconds: float) -> dt.datetime:
    return T0 + dt.timedelta(seconds=seconds)


def _dedup_fixture(spark):
    # golden sequence per key (DeduplicationExample.scala:74-93): offsets
    # 0/1/3/7/17 s; reference window 15 s anchored at last emission
    rows = [
        Row(k="001", v=f"v_{i:02d}", ts=_ts(off))
        for i, off in enumerate([0, 1, 3, 7])
    ] + [Row(k="001", v="v_99", ts=_ts(17))]
    return spark.createDataFrame(rows)


def test_emission_anchored_keep_fold():
    """The A2 fold both the batch scan and the stream call, without a
    JVM: the golden 0/1/3/7/17 s sequence, a strict window boundary, an
    anchor carried in from an earlier chunk, and empty input."""
    win = 15_000_000
    us = np.array([0, 1, 3, 7, 17], dtype=np.int64) * 1_000_000
    assert emission_anchored_keep(us, None, win) == ([0, 4], 17_000_000)
    # a stamp exactly win after the anchor is suppressed; 1 µs later emits
    edge = np.array([0, win, win + 1], dtype=np.int64)
    assert emission_anchored_keep(edge, None, win) == ([0, 2], win + 1)
    # the anchor from an earlier chunk suppresses this chunk's head, and
    # the chunk's first emission re-anchors from there
    chunk = np.array([5, 10, 17, 20, 33], dtype=np.int64) * 1_000_000
    assert emission_anchored_keep(chunk, 1_000_000, win) == ([2, 4], 33_000_000)
    # empty input keeps the carried anchor (None stays None)
    empty = np.array([], dtype=np.int64)
    assert emission_anchored_keep(empty, 7, win) == ([], 7)
    assert emission_anchored_keep(empty, None, win) == ([], None)


def test_emission_anchored_golden(spark):
    """FIXTURES.md §2.2: emit at t=0 and t=17 only."""
    out = dedup_emission_anchored(
        _dedup_fixture(spark), keys=["k"], ts_col="ts", window_seconds=15.0
    )
    got = sorted((r.v, r.ts) for r in out.collect())
    assert got == [("v_00", _ts(0)), ("v_99", _ts(17))]


def test_tumbling_dedup_golden(spark):
    """A1 on the same sequence with 15 s bucket-aligned windows:
    buckets [0,15) and [15,30) ⇒ v_00 and v_99 survive."""
    out = dedup_tumbling_window(
        _dedup_fixture(spark), keys=["k"], ts_col="ts",
        window_duration="15 seconds", order_cols=["v"],
    )
    got = sorted((r.v, r.window_start) for r in out.collect())
    assert got == [("v_00", _ts(0)), ("v_99", _ts(15))]


def test_tumbling_dedup_keeps_first_not_arbitrary(spark):
    rows = [
        Row(k="a", v="late", ts=_ts(4)),
        Row(k="a", v="first", ts=_ts(1)),
        Row(k="b", v="only", ts=_ts(2)),
    ]
    out = dedup_tumbling_window(
        spark.createDataFrame(rows), keys=["k"], window_duration="15 seconds",
        order_cols=["v"],
    )
    assert {(r.k, r.v) for r in out.collect()} == {("a", "first"), ("b", "only")}


def test_dedup_exact_deterministic(spark):
    rows = [
        Row(k="a", event_id=5, v="x"),
        Row(k="a", event_id=2, v="y"),
    ]
    out = dedup_exact(spark.createDataFrame(rows), keys=["k"], order_cols=["event_id"])
    assert [(r.k, r.event_id) for r in out.collect()] == [("a", 2)]


def test_q01_oracle_sf001(spark):
    from example_kafkastreams_spark.queries import ORACLE_SQL, QUERIES

    assert_matches_oracle(
        QUERIES["q01_dedup_window"](spark, ORACLE),
        ORACLE_SQL["q01_dedup_window"],
        ORACLE,
    )
