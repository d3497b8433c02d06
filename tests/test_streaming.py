"""Golden-sequence streaming tests (SURVEY.md §5 strategy item 3).

The reference's only test corpus is its scripted generators with
documented expected behavior (ClickstreamJoinExample.scala:126-158,
DeduplicationExample.scala:74-93). Each sequence is re-created as
timestamped micro-batches through a file-backed stream and asserted
against the memory sink, covering: windowed dedup (A1), emission-
anchored dedup exact semantics (A2, applyInPandasWithState), the
look-back stream-stream left outer join (J2), and Kafka record
parsing (S1) without a broker.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from example_kafkastreams_spark.operators.asof_join import interval_left_join
from example_kafkastreams_spark.operators.dedup import dedup_tumbling_window
from example_kafkastreams_spark.streaming.ops import dedup_emission_anchored_stream
from example_kafkastreams_spark.streaming.sources import (
    CLICK_EV_SCHEMA,
    CLICK_PV_SCHEMA,
    DEDUP_SCHEMA,
    file_stream,
    kafka_sink_payload,
    parse_kafka_records,
    scripted_clickstream,
    scripted_duplicates,
    stage_replayable_batches,
    start_memory_sink,
)

EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def at(seconds: float) -> dt.datetime:
    return EPOCH + dt.timedelta(seconds=seconds)


# DeduplicationExample.scala:74-93 — same key at +0/+1/+3/+7/+17 s;
# 15 s emission-anchored window ⇒ emitted at 0 and 17 only.
DEDUP_GOLDEN = scripted_duplicates(EPOCH)

write_batches = stage_replayable_batches


def run_to_memory(spark, df, name: str, tmp, output_mode="append"):
    import time

    q = start_memory_sink(df, name, str(tmp / f"ckpt_{name}"), output_mode)
    q.processAllAvailable()
    # allow the no-data micro-batch that finalizes watermark-bounded
    # state (append-mode windows, outer-join NULL emission) to run
    time.sleep(2)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    return spark.table(name)


def test_parse_kafka_records(spark):
    value_schema = T.StructType(
        [
            T.StructField("pv_id", T.StringType()),
            T.StructField("ev_id", T.StringType()),
        ]
    )
    raw = spark.createDataFrame(
        [
            (b"bob", b'{"pv_id": "pv1", "ev_id": "ev0"}', at(0.1)),
        ],
        T.StructType(
            [
                T.StructField("key", T.BinaryType()),
                T.StructField("value", T.BinaryType()),
                T.StructField("timestamp", T.TimestampType()),
            ]
        ),
    )
    row = parse_kafka_records(raw, value_schema).collect()[0]
    assert (row.key, row.pv_id, row.ev_id, row.ts) == (
        "bob", "pv1", "ev0", at(0.1).replace(tzinfo=None),
    )


def test_kafka_sink_roundtrip_contract(spark):
    """S3/S4 brokerless contract: the sink's wire payload
    (to_json(struct(payload))) re-parsed through parse_kafka_records
    reproduces the original rows — schema and values, including the
    NULL pv fields of an unmatched EvPv record (to_json omits NULLs;
    from_json must restore them)."""
    evpv_schema = T.StructType(
        [
            T.StructField("client_id", T.StringType()),
            T.StructField("ev_id", T.StringType()),
            T.StructField("ev_value", T.StringType()),
            T.StructField("pv_id", T.StringType()),
            T.StructField("pv_value", T.StringType()),
        ]
    )
    rows = [
        ("bob", "ev0", "show header", "pv1", "/"),
        ("bob", "ev9", "orphan", None, None),  # unmatched: NULL pv side
    ]
    df = spark.createDataFrame(rows, evpv_schema)
    payload = kafka_sink_payload(df, key_col="client_id")
    assert payload.columns == ["key", "value"]  # the Kafka wire shape

    # what the broker would hand back to a consumer
    raw = payload.select(
        F.col("key").cast("binary"),
        F.col("value").cast("binary"),
        F.lit(at(5.0)).alias("timestamp"),
    )
    value_schema = T.StructType(
        [f for f in evpv_schema.fields if f.name != "client_id"]
    )
    parsed = parse_kafka_records(raw, value_schema)
    assert parsed.columns == ["key", "ev_id", "ev_value", "pv_id", "pv_value", "ts"]
    got = {
        (r.key, r.ev_id, r.ev_value, r.pv_id, r.pv_value)
        for r in parsed.collect()
    }
    assert got == {("bob",) + r[1:] for r in rows}


def test_emission_anchored_stream_golden(spark, tmp_path):
    # split across micro-batches: state must carry the 0 s anchor so
    # +1/+3/+7 stay suppressed in batch 2 and +17 re-emits.
    src = str(tmp_path / "in_a2")
    write_batches(
        spark, src, DEDUP_SCHEMA, [DEDUP_GOLDEN[:2], DEDUP_GOLDEN[2:]]
    )
    stream = file_stream(spark, src, DEDUP_SCHEMA, max_files_per_trigger=1)
    out = dedup_emission_anchored_stream(
        stream, keys=["k"], ts_col="ts", window_seconds=15.0
    )
    got = run_to_memory(spark, out, "a2_golden", tmp_path)
    assert sorted(r.v for r in got.collect()) == ["v0", "v17"]


def test_dedup_within_watermark_golden(spark, tmp_path):
    """The built-in approximation's guarantee differs from A2: keys are
    suppressed while their state lives, and state is evicted only when
    the WATERMARK passes first_seen + delay (so v17, only 17 s after
    v0 while the watermark still trails, stays suppressed — unlike the
    exact emission-anchored operator). After the watermark moves past
    the horizon the key re-emits."""
    src = str(tmp_path / "in_ddww")
    write_batches(
        spark,
        src,
        DEDUP_SCHEMA,
        [
            DEDUP_GOLDEN,  # v0 emits; v1/v3/v7 within 15 s drop; v17 drops too
            [("zzz", "advance", at(100.0))],  # watermark source event
            # batch N runs with batch N-1's watermark and cleans state
            # post-batch — one more advancing batch makes eviction land
            [("zzz", "advance2", at(101.0))],
            [("001", "v110", at(110.0))],  # state gone ⇒ re-emitted
        ],
    )
    stream = file_stream(spark, src, DEDUP_SCHEMA, max_files_per_trigger=1)
    out = stream.withWatermark("ts", "15 seconds").dropDuplicatesWithinWatermark(
        ["k"]
    )
    got = run_to_memory(spark, out, "ddww_golden", tmp_path)
    assert sorted(r.v for r in got.collect() if r.k == "001") == ["v0", "v110"]


def test_windowed_dedup_stream_golden(spark, tmp_path):
    # A1: 5 s tumbling windows — first record per (key, window).
    # Windows: [0,5)->v0, [5,10)->v7, [15,20)->v17. Sentinel advances
    # the watermark so all windows finalize under append mode.
    sentinel = [("zzz", "sentinel", at(1000.0))]
    src = str(tmp_path / "in_a1")
    write_batches(spark, src, DEDUP_SCHEMA, [DEDUP_GOLDEN, sentinel])
    stream = file_stream(spark, src, DEDUP_SCHEMA, max_files_per_trigger=1)
    # the batch A1 operator on a watermarked stream
    out = dedup_tumbling_window(
        stream.withWatermark("ts", "10 seconds"), keys=["k"], ts_col="ts",
        window_duration="5 seconds",
    )
    got = run_to_memory(spark, out, "a1_golden", tmp_path)
    vals = sorted(r.v for r in got.collect() if r.k == "001")
    assert vals == ["v0", "v17", "v7"]


CLICK_PV_SCHEMA = T.StructType(
    [
        T.StructField("client_id", T.StringType()),
        T.StructField("pv_id", T.StringType()),
        T.StructField("pv_value", T.StringType()),
        T.StructField("pv_ts", T.TimestampType()),
    ]
)
CLICK_EV_SCHEMA = T.StructType(
    [
        T.StructField("client_id", T.StringType()),
        T.StructField("pv_id", T.StringType()),
        T.StructField("ev_id", T.StringType()),
        T.StructField("ev_value", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

# ClickstreamJoinExample.scala:123-160 (FIXTURES.md §1.4).
GOLDEN_PVS = [
    ("bob", "pv1", "/", at(0.0)),
    ("bob", "pv2", "/offer?id=1234", at(10.2)),
]
GOLDEN_EVS = [
    ("bob", "pv1", "ev0", "show header", at(0.1)),
    ("bob", "pv1", "ev1", "show ads", at(0.1)),
    ("bob", "pv1", "ev1", "show ads", at(0.1)),  # duplicate (:135-136)
    ("bob", "pv1", "ev2", "show recommendation", at(0.1)),
    ("bob", "pv1", "ev3", "click recommendation", at(10.1)),
    ("bob", "pv2", "ev0", "show header", at(10.1)),  # out-of-order: before pv2
    ("bob", "pv1", "ev2", "add to cart", at(30.3)),  # 30 s after pv1: outside
]
SENTINEL_PV = [("zzz", "pvx", "x", at(1000.0))]
SENTINEL_EV = [("zzz", "pvx", "evx", "x", at(1000.0))]


def test_interval_join_stream_golden(spark, tmp_path):
    pv_src = str(tmp_path / "in_pv")
    ev_src = str(tmp_path / "in_ev")
    write_batches(spark, pv_src, CLICK_PV_SCHEMA, [GOLDEN_PVS, SENTINEL_PV])
    write_batches(spark, ev_src, CLICK_EV_SCHEMA, [GOLDEN_EVS, SENTINEL_EV])
    pv = file_stream(spark, pv_src, CLICK_PV_SCHEMA, max_files_per_trigger=1)
    ev = file_stream(spark, ev_src, CLICK_EV_SCHEMA, max_files_per_trigger=1)
    # the batch J1/J2 join, unbucketized, on watermarked streams
    joined, _, _ = interval_left_join(
        ev.withWatermark("ts", "30 seconds"),
        pv.withWatermark("pv_ts", "30 seconds"),
        on=["client_id", "pv_id"], left_ts="ts", right_ts="pv_ts",
        lookback_seconds=15, bucket_seconds=0,
    )
    joined = joined.select(
        F.col("l.client_id").alias("client_id"),
        F.col("l.ev_id").alias("ev_id"),
        F.col("l.ev_value").alias("ev_value"),
        F.col("l.ts").alias("ts"),
        F.col("r.pv_id").alias("matched_pv"),
        F.col("r.pv_value").alias("pv_value"),
    )
    got = run_to_memory(spark, joined, "join_golden", tmp_path)
    rows = [r for r in got.collect() if r.client_id == "bob"]

    def matches(ev_value):
        return sorted(
            (r.matched_pv or "NULL") for r in rows if r.ev_value == ev_value
        )

    # impressions right after pv1 ⇒ joined (:129-133)
    assert matches("show header") == ["NULL", "pv1"]  # 2nd is out-of-order pv2 ev
    # the raw join passes BOTH copies of the duplicate ev1 through —
    # dedup is the downstream stage's job (composed test below)
    assert matches("show ads") == ["pv1", "pv1"]
    assert matches("show recommendation") == ["pv1"]
    # click 10 s later still inside the 15 s look-back (:138-140)
    assert matches("click recommendation") == ["pv1"]
    # purchase 20+ s after pv1 ⇒ outside window, unmatched (:155-157)
    assert matches("add to cart") == ["NULL"]


def test_symmetric_vs_lookback_out_of_order(spark, tmp_path):
    """The reference's documented DSL-vs-Processor behavioral split
    (ClickstreamJoinExample.scala:144-149): pv2's first event arrives
    BEFORE pv2. Under look-back (Processor, J2) it stays unmatched;
    under the DSL's symmetric ±15 s window (J1) it matches pv2."""
    pv_src = str(tmp_path / "sym_pv")
    ev_src = str(tmp_path / "sym_ev")
    write_batches(spark, pv_src, CLICK_PV_SCHEMA, [GOLDEN_PVS, SENTINEL_PV])
    write_batches(spark, ev_src, CLICK_EV_SCHEMA, [GOLDEN_EVS, SENTINEL_EV])

    def run(name, lookahead):
        pv = file_stream(spark, pv_src, CLICK_PV_SCHEMA, max_files_per_trigger=1)
        ev = file_stream(spark, ev_src, CLICK_EV_SCHEMA, max_files_per_trigger=1)
        joined, _, _ = interval_left_join(
            ev.withWatermark("ts", "30 seconds"),
            pv.withWatermark("pv_ts", "30 seconds"),
            on=["client_id", "pv_id"], left_ts="ts", right_ts="pv_ts",
            lookback_seconds=15, lookahead_seconds=lookahead,
            bucket_seconds=0,
        )
        joined = joined.select(
            F.col("l.pv_id").alias("ev_pv"),
            F.col("l.ev_id").alias("ev_id"),
            F.col("l.ts").alias("ts"),
            F.col("r.pv_id").alias("matched_pv"),
        )
        return run_to_memory(spark, joined, name, tmp_path)

    # the out-of-order row: ev0 on pv2 at t=10.1, pv2 arrives at t=10.2
    def ooo_matches(df):
        return [
            (r.matched_pv or "NULL")
            for r in df.collect()
            if r.ev_pv == "pv2" and r.ev_id == "ev0"
        ]

    lookback = run("j2_lookback", lookahead=0)
    symmetric = run("j1_symmetric", lookahead=15)
    assert ooo_matches(lookback) == ["NULL"]  # Processor semantics
    assert ooo_matches(symmetric) == ["pv2"]  # DSL semantics


def test_clickstream_enrich_stream_golden(spark, tmp_path):
    """The composed E2 topology: join + EvPv shaping + dedup + re-key.
    The duplicate ev1 survives the join but is suppressed by the dedup
    stage (:135-136); output is keyed by client_id first (P4)."""
    from example_kafkastreams_spark.streaming.ops import (
        clickstream_enrich_stream,
    )

    pv_src = str(tmp_path / "en_pv")
    ev_src = str(tmp_path / "en_ev")
    write_batches(spark, pv_src, CLICK_PV_SCHEMA, [GOLDEN_PVS, SENTINEL_PV])
    write_batches(spark, ev_src, CLICK_EV_SCHEMA, [GOLDEN_EVS, SENTINEL_EV])
    pv = file_stream(spark, pv_src, CLICK_PV_SCHEMA, max_files_per_trigger=1)
    ev = file_stream(spark, ev_src, CLICK_EV_SCHEMA, max_files_per_trigger=1)
    out = clickstream_enrich_stream(
        ev, pv, on=["client_id", "pv_id"],
        left_ts="ts", right_ts="pv_ts",
        lookback_seconds=15,
        dedup_keys=["client_id", "pv_id", "ev_id", "ev_value"],
        watermark_delay="30 seconds",
    )
    assert out.columns[0] == "client_id"  # P4 re-key shape
    got = run_to_memory(spark, out, "enrich_golden", tmp_path)
    rows = [r for r in got.collect() if r.client_id == "bob"]
    ads = [r for r in rows if r.ev_value == "show ads"]
    assert len(ads) == 1  # duplicate suppressed by the dedup stage
    assert ads[0].pv_value == "/"


def test_clickstream_enrich_stream_dsl_symmetric_golden(spark, tmp_path):
    """The composed DSL topology (E3) in ONE stream: symmetric-window
    join → shaping → dedup → re-key (VERDICT r3 item 6 — q05 proves
    these semantics in batch; this is the streaming twin). Replays the
    reference's scripted clickstream and asserts the full fixture
    contract under JoinWindows.of symmetry
    (ClickstreamJoinExample.scala:126-158):
      * the out-of-order ev0-before-pv2 (:144-149) MATCHES pv2 here —
        the exact row the look-back topology leaves NULL;
      * the duplicate ev1 is still suppressed by the dedup stage;
      * the late purchase (:155-157) stays unmatched (outside ±15 s);
      * output is keyed client-first (P4)."""
    from example_kafkastreams_spark.streaming.ops import (
        clickstream_enrich_stream,
    )

    pv_src = str(tmp_path / "dsl_pv")
    ev_src = str(tmp_path / "dsl_ev")
    write_batches(spark, pv_src, CLICK_PV_SCHEMA, [GOLDEN_PVS, SENTINEL_PV])
    write_batches(spark, ev_src, CLICK_EV_SCHEMA, [GOLDEN_EVS, SENTINEL_EV])
    pv = file_stream(spark, pv_src, CLICK_PV_SCHEMA, max_files_per_trigger=1)
    ev = file_stream(spark, ev_src, CLICK_EV_SCHEMA, max_files_per_trigger=1)
    out = clickstream_enrich_stream(
        ev, pv, on=["client_id", "pv_id"],
        left_ts="ts", right_ts="pv_ts",
        lookback_seconds=15, lookahead_seconds=15,  # E3: symmetric
        dedup_keys=["client_id", "pv_id", "ev_id", "ev_value"],
        watermark_delay="30 seconds",
    )
    assert out.columns[0] == "client_id"  # P4 re-key shape
    got = run_to_memory(spark, out, "dsl_enrich_golden", tmp_path)
    rows = [r for r in got.collect() if r.client_id == "bob"]

    def by_value(ev_value):
        return sorted(
            (r.pv_value or "NULL") for r in rows if r.ev_value == ev_value
        )

    # out-of-order ev on pv2 now matches (J1 symmetric window): the
    # "show header" pair is (pv1-match, pv2-match) with no NULL left
    assert by_value("show header") == ["/", "/offer?id=1234"]
    # duplicate ev1 suppressed by the dedup stage even under symmetry
    assert by_value("show ads") == ["/"]
    # click 10 s later still matches pv1
    assert by_value("click recommendation") == ["/"]
    # purchase stays outside ±15 s — unmatched, NULL-filled (P6)
    assert by_value("add to cart") == ["NULL"]


def test_session_window_stream(spark, tmp_path):
    """Events at +0/+2/+4 chain one session (gap 5 s); +30 opens a
    second; the sentinel closes both."""
    from example_kafkastreams_spark.streaming.ops import (
        session_window_agg_stream,
    )

    rows = [
        ("001", "a", at(0.0)),
        ("001", "b", at(2.0)),
        ("001", "c", at(4.0)),
        ("001", "d", at(30.0)),
    ]
    src = str(tmp_path / "in_sess")
    write_batches(
        spark, src, DEDUP_SCHEMA, [rows, [("zzz", "x", at(1000.0))]]
    )
    stream = file_stream(spark, src, DEDUP_SCHEMA, max_files_per_trigger=1)
    out = session_window_agg_stream(
        stream, keys=["k"], ts_col="ts", gap="5 seconds",
        watermark_delay="10 seconds",
    )
    got = run_to_memory(spark, out, "sess_golden", tmp_path)
    sess = sorted(
        ((r.session_start, r.n_events) for r in got.collect() if r.k == "001")
    )
    assert [n for _, n in sess] == [3, 1]
    assert sess[0][0] == at(0.0).replace(tzinfo=None)


def test_windowed_count_update_mode(spark, tmp_path):
    """A5 changelog view: update-mode sink re-emits a (window, key) row
    each trigger its count changes — batch 1 then batch 2 both touch
    the same window, so the memory table holds both versions."""
    from example_kafkastreams_spark.streaming.ops import (
        windowed_count_update_stream,
    )

    src = str(tmp_path / "in_upd")
    write_batches(
        spark,
        src,
        DEDUP_SCHEMA,
        [
            [("001", "a", at(0.0)), ("001", "b", at(1.0))],
            [("001", "c", at(2.0))],
        ],
    )
    stream = file_stream(spark, src, DEDUP_SCHEMA, max_files_per_trigger=1)
    out = windowed_count_update_stream(
        stream, keys=["k"], ts_col="ts", window_duration="5 seconds",
    )
    got = run_to_memory(
        spark, out, "upd_golden", tmp_path, output_mode="update"
    )
    counts = sorted(r.n_events for r in got.collect() if r.k == "001")
    assert counts == [2, 3]  # the changelog: count 2, then updated to 3


def test_heavy_hitters_stream_golden(spark, tmp_path):
    """Misra–Gries heavy hitters, capacity 2, hand-computed golden:
    each micro-batch merges exact batch counts into the tracked
    counters and subtracts the 3rd-largest when 3 survive. The test
    pins every emitted counter row, the O(capacity) state bound (≤ 2
    rows per batch emission), the MG undercount guarantee
    (0 ≤ true − est ≤ err_bound for every tracked value), and group
    isolation."""
    from example_kafkastreams_spark.streaming.ops import (
        heavy_hitters_stream,
    )

    src = str(tmp_path / "in_hh")
    write_batches(
        spark,
        src,
        DEDUP_SCHEMA,
        [
            # batch 1, group g1: a,a,a,b,b,c -> {a3,b2,c1} -> sub 1
            #   -> {a2,b1}, err 1, n 6
            [("g1", v, at(float(i))) for i, v in enumerate("aaabbc")],
            # batch 2: g1 gets c,c,c,b -> {a2,b2,c3} -> sub 2 -> {c1},
            #   err 3, n 10; g2 sees d,d -> {d2}, err 0, n 2
            [("g1", v, at(10.0 + i)) for i, v in enumerate("cccb")]
            + [("g2", "d", at(10.0)), ("g2", "d", at(11.0))],
            # batch 3: g1 gets a -> {c1,a1}, no overflow, err 3, n 11
            [("g1", "a", at(20.0))],
        ],
    )
    stream = file_stream(spark, src, DEDUP_SCHEMA, max_files_per_trigger=1)
    out = heavy_hitters_stream(stream, group_col="k", value_col="v",
                               capacity=2)
    got = run_to_memory(
        spark, out, "hh_golden", tmp_path, output_mode="update"
    )
    rows = {
        (r.group, r.batch_seq, r.value):
            (r.est_count, r.err_bound, r.n_seen)
        for r in got.collect()
    }
    assert rows == {
        ("g1", 1, "a"): (2, 1, 6),
        ("g1", 1, "b"): (1, 1, 6),
        ("g1", 2, "c"): (1, 3, 10),
        ("g1", 3, "a"): (1, 3, 11),
        ("g1", 3, "c"): (1, 3, 11),
        ("g2", 1, "d"): (2, 0, 2),
    }
    # the MG guarantee on the final g1 summary: true counts a=4, b=3,
    # c=4 over n=11; every tracked est obeys 0 <= true - est <= err
    true = {"a": 4, "b": 3, "c": 4}
    final = {k[2]: v for k, v in rows.items() if k[:2] == ("g1", 3)}
    for v, (est, err, _) in final.items():
        assert 0 <= true[v] - est <= err
    # capacity bound: no emission ever exceeds 2 counters per group
    from collections import Counter

    per_batch = Counter((g, s) for g, s, _ in rows)
    assert max(per_batch.values()) <= 2


def test_hll_distinct_stream_matches_batch_bitwise(spark, tmp_path):
    """The streaming HLL's state path must be BIT-IDENTICAL to the
    batch sketch: after each micro-batch, the emitted estimate equals
    hll_registers -> hll_estimate run over the union of all rows so
    far (same md5 hash, same rho ladder, same exact-sum fold) —
    including duplicate values across batches, which must not move
    the registers."""
    from example_kafkastreams_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )
    from example_kafkastreams_spark.streaming.ops import (
        hll_distinct_stream,
    )

    batches = [
        [("g1", f"u{i}", at(float(i))) for i in range(40)],
        # overlap u20-u39 (no register movement) + 30 new + group g2
        [("g1", f"u{i}", at(50.0 + i)) for i in range(20, 70)]
        + [("g2", f"w{i}", at(50.0)) for i in range(5)],
        [("g1", "u0", at(100.0))],  # pure replay: registers static
    ]
    src = str(tmp_path / "in_hll")
    write_batches(spark, src, DEDUP_SCHEMA, batches)
    stream = file_stream(spark, src, DEDUP_SCHEMA, max_files_per_trigger=1)
    out = hll_distinct_stream(stream, group_col="k", value_col="v", p=6)
    got = run_to_memory(
        spark, out, "hll_golden", tmp_path, output_mode="update"
    )
    rows = {
        (r.group, r.batch_seq): (r.est_distinct, r.n_zero_regs, r.n_seen)
        for r in got.collect()
    }

    def batch_twin(vals):
        df = spark.createDataFrame([(v,) for v in vals], "v string")
        return hll_estimate(hll_registers(df, "v", 6), 6).collect()[0]

    # per-group prefixes in stream order
    prefixes = {
        ("g1", 1): [f"u{i}" for i in range(40)],
        ("g1", 2): [f"u{i}" for i in range(70)],
        ("g1", 3): [f"u{i}" for i in range(70)],  # replay adds nothing
        ("g2", 1): [f"w{i}" for i in range(5)],
    }
    n_seen = {("g1", 1): 40, ("g1", 2): 90, ("g1", 3): 91, ("g2", 1): 5}
    assert set(rows) == set(prefixes)
    for key, vals in prefixes.items():
        twin = batch_twin(vals)
        est, nz, seen = rows[key]
        assert est == twin.est_distinct, key  # BITWISE float equality
        assert nz == twin.n_zero_regs and seen == n_seen[key], key


def test_checkpoint_restart_recovers_state(spark, tmp_path):
    """A4 materialization made explicit: stop a stateful query, add
    batches, restart from the SAME checkpoint — the emission anchor
    must survive the restart (v3/v7 stay suppressed by run 1's v0
    anchor; v17 re-emits), and nothing is emitted twice."""
    from example_kafkastreams_spark.streaming.ops import (
        dedup_emission_anchored_stream,
    )

    src = str(tmp_path / "in_restart")
    ckpt = str(tmp_path / "ckpt_restart")  # ONE checkpoint, two runs
    sink = str(tmp_path / "out_restart")  # durable sink: recovery-capable

    def run():
        stream = file_stream(spark, src, DEDUP_SCHEMA, max_files_per_trigger=1)
        out = dedup_emission_anchored_stream(
            stream, keys=["k"], ts_col="ts", window_seconds=15.0
        )
        q = (
            out.writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        return sorted(r.v for r in spark.read.parquet(sink).collect())

    write_batches(spark, src, DEDUP_SCHEMA, [DEDUP_GOLDEN[:2]])
    assert run() == ["v0"]

    # extend the source AFTER the stop, then restart from the same
    # checkpoint into the same sink
    import glob, os

    n0 = len(glob.glob(os.path.join(src, "*.parquet")))
    f = os.path.join(src, f"batch_{n0:03d}.parquet")
    write_batches(spark, src + "_tmp", DEDUP_SCHEMA, [DEDUP_GOLDEN[2:]])
    os.rename(
        glob.glob(os.path.join(src + "_tmp", "*.parquet"))[0], f
    )
    os.utime(f, (1_700_000_000 + n0, 1_700_000_000 + n0))

    # v3/v7 suppressed by the RECOVERED v0 anchor; v0 not re-emitted
    assert run() == ["v0", "v17"]


_RESTART_EV = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ]
)
_RESTART_PV = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("pv_event_id", T.LongType()),
        T.StructField("pv_ts", T.TimestampType()),
    ]
)


def _restart_batches():
    """Four 20 s micro-batches plus a far-ahead sentinel. Users 0-2
    view a page at +u and +10+u s of each batch and send events at
    +2/+7/+12/+17+u s, so a batch's first events join a page view of
    the batch before; user 3 only sends events (unmatched, NULL-filled).
    Each batch re-sends the previous batch's last event."""
    evs, pvs, resent = [], [], []
    for b in range(4):
        t0 = 20 * b
        pvs.append(
            [
                (u, 1000 * b + 10 * u + i, at(t0 + 10 * i + u))
                for u in range(3)
                for i in range(2)
            ]
        )
        ev = [
            (u, 1000 * b + 100 + 10 * u + i, at(t0 + off + u))
            for u in range(3)
            for i, off in enumerate((2, 7, 12, 17))
        ]
        evs.append(ev + [(3, 1000 * b + 900, at(t0 + 5))] + resent)
        resent = ev[-1:]
    evs.append([(9, 9999, at(1000.0))])
    pvs.append([(9, 9998, at(1000.0))])
    return evs, pvs


def _us(ts: dt.datetime) -> int:
    return int(ts.timestamp() * 1_000_000)


def test_enrich_stream_restart_recovers_join_and_dedup_state(spark, tmp_path):
    """Stop the enrich stream after two batches, land two more plus a
    sentinel, restart from the SAME checkpoint into a durable sink: the
    join state (page views of batch 1 matched by events of batch 2) and
    the dedup state (batch 1's last event re-sent in batch 2) must
    survive the restart. Below the final watermark the sink holds the
    rows of an uninterrupted run and of a reference look-back join, and
    no (event, page view) pair twice. The running plan has three
    exchanges: one per join input, and one more for the dedup, since a
    streaming stateful operator needs hash partitioning on exactly its
    own keys."""
    import re
    import time

    from example_kafkastreams_spark.streaming.ops import clickstream_enrich_stream

    evs, pvs = _restart_batches()
    for d, schema, batches in (("ev", _RESTART_EV, evs), ("pv", _RESTART_PV, pvs)):
        write_batches(spark, str(tmp_path / f"staged_{d}"), schema, batches)

    def land(name, batches):
        for d in ("ev", "pv"):
            src = tmp_path / f"{name}_{d}"
            src.mkdir(exist_ok=True)
            for i in batches:
                f = f"batch_{i:03d}.parquet"
                # a hard link keeps the staged mtime, which orders the batches
                os.link(tmp_path / f"staged_{d}" / f, src / f)

    def run(name):
        out = clickstream_enrich_stream(
            file_stream(spark, str(tmp_path / f"{name}_ev"), _RESTART_EV, 1),
            file_stream(spark, str(tmp_path / f"{name}_pv"), _RESTART_PV, 1),
            on=["user_id"],
            lookback_seconds=15,
            dedup_keys=["user_id", "event_id", "pv_event_id"],
            client_key="user_id",
        )
        q = (
            out.writeStream.format("parquet")
            .outputMode("append")
            .option("path", str(tmp_path / f"{name}_out"))
            .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
            .start()
        )
        q.processAllAvailable()
        time.sleep(2)  # let the no-data batch advance the watermark
        q.processAllAvailable()
        plan = q._jsq.explainInternal(False)
        wm = q.lastProgress["eventTime"]["watermark"]
        q.stop()
        q.awaitTermination()
        return plan, _us(dt.datetime.fromisoformat(wm.replace("Z", "+00:00")))

    land("restart", [0, 1])
    run("restart")
    land("restart", [2, 3, 4])
    plan, wm_restart = run("restart")
    land("whole", range(5))
    _, wm_whole = run("whole")

    assert len(re.findall(r"Exchange (?:hash|range|Single)", plan)) == 3, plan
    wm = min(wm_restart, wm_whole)
    assert wm > _us(at(80)), wm  # every event but the sentinel's is final

    def rows(name):
        got = spark.read.parquet(str(tmp_path / f"{name}_out")).selectExpr(
            "user_id", "event_id", "pv_event_id", "unix_micros(ts) AS ts_us"
        ).collect()
        pairs = [(r.event_id, r.pv_event_id) for r in got]
        assert len(pairs) == len(set(pairs)), name  # no pair twice
        return sorted(
            (r.user_id, r.event_id, r.pv_event_id) for r in got if r.ts_us < wm
        )

    all_pvs = [p for batch in pvs for p in batch]
    want = sorted(
        (u, e, p)
        for u, e, ts in {e for batch in evs for e in batch}
        if _us(ts) < wm
        for p in [
            p for pu, p, pts in all_pvs
            if pu == u and ts - dt.timedelta(seconds=15) <= pts <= ts
        ] or [None]
    )
    assert (3, 900, None) in want  # an unmatched event
    assert (0, 2100, 1001) in want  # batch 2's event on batch 1's view
    assert rows("restart") == rows("whole") == want


def test_emission_anchored_stream_state_bound(spark, tmp_path):
    """Many keys in one batch: output stays per-key correct (shuffle on
    key, O(1) state per key)."""
    rows = []
    for k in range(20):
        for off in (0.0, 1.0, 17.0):
            rows.append((f"k{k:03d}", f"v{off}", at(off)))
    src = str(tmp_path / "in_many")
    write_batches(spark, src, DEDUP_SCHEMA, [rows])
    stream = file_stream(spark, src, DEDUP_SCHEMA)
    out = dedup_emission_anchored_stream(
        stream, keys=["k"], ts_col="ts", window_seconds=15.0
    )
    got = run_to_memory(spark, out, "a2_many", tmp_path)
    assert got.count() == 40  # 2 survivors × 20 keys


def test_hopping_window_counts(spark, tmp_path):
    """Hopping windows (window=10 s, slide=5 s): every record lands in
    exactly window/slide = 2 overlapping windows — the Kafka Streams
    TimeWindows.of(w).advanceBy(s) surface the DSL exposes beyond the
    reference's tumbling windows. Events at t=1 and t=6 share the
    [0,10) window but split across [-5,5) and [5,15)."""
    from example_kafkastreams_spark.streaming.ops import (
        windowed_count_update_stream,
    )

    src = str(tmp_path / "in_hop")
    write_batches(
        spark,
        src,
        DEDUP_SCHEMA,
        [
            [("001", "a", at(1.0)), ("001", "b", at(6.0))],
            [("zzz", "x", at(1000.0))],
        ],
    )
    stream = file_stream(spark, src, DEDUP_SCHEMA, max_files_per_trigger=1)
    out = windowed_count_update_stream(
        stream, keys=["k"], ts_col="ts",
        window_duration="10 seconds", slide_duration="5 seconds",
        watermark_delay="10 seconds",
    )
    got = run_to_memory(spark, out, "hop_golden", tmp_path)
    naive_epoch = EPOCH.replace(tzinfo=None)
    wins = {
        (r.window_start - naive_epoch).total_seconds(): r.n_events
        for r in got.collect()
        if r.k == "001"
    }
    # windows starting at t=-5 (holds a), 0 (a+b), 5 (b): counts 1,2,1
    assert wins == {-5.0: 1, 0.0: 2, 5.0: 1}


def test_corpus_filter_stream_matches_batch(spark, tmp_path):
    """The streaming ingestion gate (quality -> lang-ID -> PII scrub)
    must produce EXACTLY the batch funnel front half's survivor set and
    scrubbed text — same dual-dialect expressions, zero state, so
    micro-batching cannot change the outcome."""
    from example_kafkastreams_spark.pipelines import (
        corpus_filter_stream,
        corpus_stages,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs on", "s"),
        (2, "tiny", "s"),  # fails quality (too short)
        (3, "contact me at alice@example.com or +1 (555) 123-4567 now "
            "the a of and to in is the a of and to in is", "s"),
    ]
    schema = "doc_id long, text string, source string"
    batch_docs = spark.createDataFrame(rows, schema)
    want = {
        (r.doc_id, r.text)
        for r in corpus_stages(batch_docs)["language"].select(
            "doc_id", "text"
        ).collect()
    }
    # PII scrub happens later in the batch funnel; apply it for parity
    from example_kafkastreams_spark.functions import portable as P
    from pyspark.sql import functions as F

    want = {
        (r.doc_id, r.text)
        for r in corpus_stages(batch_docs)["language"]
        .withColumn("text", F.expr(P.pii_scrub("text", P.SPARK)))
        .select("doc_id", "text")
        .collect()
    }

    src = str(tmp_path / "in_corpus")
    stage_replayable_batches(
        spark, src,
        T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("source", T.StringType()),
        ]),
        [rows[:2], rows[2:]],  # split across micro-batches
    )
    stream = file_stream(
        spark, src,
        T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("source", T.StringType()),
        ]),
        max_files_per_trigger=1,
    )
    out = corpus_filter_stream(stream)
    got_tbl = run_to_memory(spark, out, "corpus_gate", tmp_path)
    got = {(r.doc_id, r.text) for r in got_tbl.collect()}
    assert got == want and got  # non-empty, batch-identical
    scrubbed = {r.doc_id: r.text for r in got_tbl.collect()}
    if 3 in scrubbed:  # the PII doc, if it survives quality+lang
        assert "<EMAIL>" in scrubbed[3] and "alice@" not in scrubbed[3]


DOC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def test_corpus_ingest_stream_dedup_matches_batch(spark, tmp_path):
    """The composed streaming ingest (gate -> content-hash
    dropDuplicatesWithinWatermark -> PII scrub) must produce EXACTLY
    the batch funnel's quality->lang->exact-dedup prefix survivor set,
    scrubbed (VERDICT r4 item 1) — including duplicates that arrive in
    a LATER micro-batch than their first copy (state must carry the
    digest across batches). Arrival order is doc_id order, the case
    where streaming first-wins == batch min(doc_id)-wins."""
    from example_kafkastreams_spark.functions import portable as P
    from example_kafkastreams_spark.pipelines import (
        corpus_ingest_stream,
        corpus_stages,
    )

    good = (
        "the quick brown fox jumps over the lazy dog and runs on to the"
        " house of the friend"
    )
    pii = (
        "contact me at alice@example.com for the plan of the day and the"
        " rest of the week in the house"
    )
    other = (
        "a small dog and a big cat sat in the sun by the door of the"
        " house for most of the day"
    )
    rows = [
        (1, good, "s", at(0.0)),
        # all-stopword repetition: distinct_ratio 0.2, stopword_ratio 1
        # => composite ~0.10 < 0.25 (a bare short doc like "tiny" scores
        # HIGH — distinct ratio 1 dominates)
        (2, "the the the the the", "s", at(1.0)),
        (3, good, "s", at(2.0)),          # dup of 1, same micro-batch
        (4, pii, "s", at(3.0)),           # survives; scrubbed
        (5, good, "s", at(10.0)),         # dup of 1, LATER micro-batch
        (6, other, "s", at(11.0)),        # survives
        (7, pii, "s", at(12.0)),          # dup of 4, later micro-batch
    ]
    batch_docs = spark.createDataFrame(rows, DOC_STREAM_SCHEMA)
    want = {
        (r.doc_id, r.text)
        for r in corpus_stages(batch_docs)["exact_dedup"]
        .withColumn("text", F.expr(P.pii_scrub("text", P.SPARK)))
        .select("doc_id", "text")
        .collect()
    }
    # the fixture must actually exercise dedup + scrub: 1/4/6 survive
    assert {d for d, _ in want} == {1, 4, 6}

    src = str(tmp_path / "in_ingest")
    stage_replayable_batches(
        spark, src, DOC_STREAM_SCHEMA, [rows[:4], rows[4:]]
    )
    stream = file_stream(
        spark, src, DOC_STREAM_SCHEMA, max_files_per_trigger=1
    )
    out = corpus_ingest_stream(stream, ts_col="ts")
    got_tbl = run_to_memory(spark, out, "corpus_ingest", tmp_path)
    got = {(r.doc_id, r.text) for r in got_tbl.collect()}
    assert got == want
    scrubbed = dict(got)
    assert "<EMAIL>" in scrubbed[4] and "alice@" not in scrubbed[4]


def test_corpus_ingest_chunks_stream_matches_batch(spark, tmp_path):
    """The streamed funnel extended through chunking (its last
    stateless stage) must emit exactly chunk_documents() of the batch
    survivor prefix — layout, indices, and token counts included."""
    from example_kafkastreams_spark.functions import portable as P
    from example_kafkastreams_spark.operators.text_chunks import (
        chunk_documents,
    )
    from example_kafkastreams_spark.pipelines import (
        corpus_ingest_chunks_stream,
        corpus_stages,
    )

    long_doc = " ".join(
        ["the quick brown fox jumps over the lazy dog and runs"] * 4
    )
    rows = [
        (1, long_doc, "s", at(0.0)),
        (2, long_doc, "s", at(5.0)),  # dup, later micro-batch: dropped
        (3, "a small dog and a big cat sat in the sun by the door of"
            " the house for most of the day", "s", at(6.0)),
    ]
    batch_docs = spark.createDataFrame(rows, DOC_STREAM_SCHEMA)
    surv = corpus_stages(batch_docs)["exact_dedup"].withColumn(
        "text", F.expr(P.pii_scrub("text", P.SPARK))
    )
    want = sorted(
        (r.doc_id, r.chunk_idx, r.chunk_text, r.n_tokens)
        for r in chunk_documents(surv, chunk_size=16, stride=12).collect()
    )
    assert want and {d for d, *_ in want} == {1, 3}

    src = str(tmp_path / "in_ingest_chunks")
    stage_replayable_batches(
        spark, src, DOC_STREAM_SCHEMA, [rows[:1], rows[1:]]
    )
    stream = file_stream(
        spark, src, DOC_STREAM_SCHEMA, max_files_per_trigger=1
    )
    out = corpus_ingest_chunks_stream(
        stream, ts_col="ts", chunk_size=16, stride=12
    )
    got_tbl = run_to_memory(spark, out, "corpus_ingest_chunks", tmp_path)
    got = sorted(
        (r.doc_id, r.chunk_idx, r.chunk_text, r.n_tokens)
        for r in got_tbl.collect()
    )
    assert got == want


def test_corpus_ingest_neardup_gate(spark, tmp_path):
    """neardup_gate=True chains a SECOND stateful dedup keyed on the
    32-bit SimHash: a token PERMUTATION of an earlier doc (different
    md5, identical bag-of-tokens sketch) must be suppressed — across
    micro-batches — while without the gate it survives content dedup.
    The surviving set equals the batch analog: exact-dedup prefix
    followed by one-survivor-per-distinct-sketch."""
    from example_kafkastreams_spark.functions import portable as P
    from example_kafkastreams_spark.pipelines import corpus_ingest_stream

    base = (
        "the quick brown fox jumps over the lazy dog and runs on to the"
        " house of the friend"
    )
    # same multiset of tokens, different order => same simhash,
    # different content hash
    permuted = (
        "friend the of house the to on runs and dog lazy the over jumps"
        " fox brown quick the"
    )
    fresh = (
        "a small dog and a big cat sat in the sun by the door of the"
        " house for most of the day"
    )
    rows = [
        (1, base, "s", at(0.0)),
        (2, base, "s", at(1.0)),      # exact dup -> content dedup drops
        (3, fresh, "s", at(2.0)),     # survives
        (4, permuted, "s", at(10.0)), # near-dup, LATER micro-batch
    ]
    src = str(tmp_path / "in_neardup_gate")
    stage_replayable_batches(
        spark, src, DOC_STREAM_SCHEMA, [rows[:3], rows[3:]]
    )

    stream = file_stream(
        spark, src, DOC_STREAM_SCHEMA, max_files_per_trigger=1
    )
    gated = corpus_ingest_stream(
        stream, ts_col="ts", scrub_pii=False, neardup_gate=True
    )
    got = {
        r.doc_id
        for r in run_to_memory(spark, gated, "neardup_gate", tmp_path).collect()
    }
    assert got == {1, 3}

    # sanity of the fixture: the sketches really collide, and WITHOUT
    # the gate the permutation passes content dedup
    import duckdb

    sh = P.simhash_from_hashes(P.token_hash_array("t", P.DUCK), P.DUCK)
    a, b = duckdb.sql(
        f"SELECT {sh} FROM (VALUES ('{base}'), ('{permuted}')) s(t)"
    ).fetchall()
    assert a == b
    stream2 = file_stream(
        spark, src, DOC_STREAM_SCHEMA, max_files_per_trigger=1
    )
    ungated = corpus_ingest_stream(stream2, ts_col="ts", scrub_pii=False)
    got2 = {
        r.doc_id
        for r in run_to_memory(spark, ungated, "neardup_ungated", tmp_path).collect()
    }
    assert got2 == {1, 3, 4}


def test_corpus_ingest_gate_survives_restart(spark, tmp_path):
    """BOTH chained dedup states — the content-hash store AND the
    simhash store of neardup_gate — must survive a checkpoint restart:
    after stop + restart, an exact dup and a token-permuted near-dup
    of a FIRST-run doc stay suppressed, a fresh doc emits, and nothing
    emits twice."""
    from example_kafkastreams_spark.pipelines import corpus_ingest_stream

    base = (
        "the quick brown fox jumps over the lazy dog and runs on to the"
        " house of the friend"
    )
    permuted = (
        "friend the of house the to on runs and dog lazy the over jumps"
        " fox brown quick the"
    )
    fresh = (
        "a small dog and a big cat sat in the sun by the door of the"
        " house for most of the day"
    )
    src = str(tmp_path / "in_gate_restart")
    ckpt = str(tmp_path / "ckpt_gate_restart")
    sink = str(tmp_path / "out_gate_restart")

    def run():
        stream = file_stream(
            spark, src, DOC_STREAM_SCHEMA, max_files_per_trigger=1
        )
        out = corpus_ingest_stream(
            stream, ts_col="ts", scrub_pii=False, neardup_gate=True
        )
        q = (
            out.writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        return sorted(r.doc_id for r in spark.read.parquet(sink).collect())

    write_batches(spark, src, DOC_STREAM_SCHEMA, [[(1, base, "s", at(0.0))]])
    assert run() == [1]

    # extend the source after the stop: the restarted query must
    # recover both stores from the checkpoint
    import glob
    import os

    n0 = len(glob.glob(os.path.join(src, "*.parquet")))
    later = [
        (2, base, "s", at(1.0)),      # exact dup of run-1 doc
        (3, permuted, "s", at(2.0)),  # near-dup of run-1 doc
        (4, fresh, "s", at(3.0)),     # genuinely new
    ]
    write_batches(spark, src + "_tmp", DOC_STREAM_SCHEMA, [later])
    f = os.path.join(src, f"batch_{n0:03d}.parquet")
    os.rename(glob.glob(os.path.join(src + "_tmp", "*.parquet"))[0], f)
    os.utime(f, (1_700_000_000 + n0, 1_700_000_000 + n0))

    assert run() == [1, 4]


def test_corpus_decontaminate_stream_matches_batch(spark, tmp_path):
    """The stream-static decontamination gate drops a benchmark
    near-copy arriving mid-stream and keeps clean docs — survivor set
    equal to the batch decontaminate operator on the same inputs."""
    from example_kafkastreams_spark.operators.decontam import decontaminate
    from example_kafkastreams_spark.pipelines import (
        corpus_decontaminate_stream,
    )

    bench_text = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    )
    leak = "alpha beta gamma delta epsilon zeta prime two three four"
    clean = "one two three four five six seven eight nine ten"
    bench = spark.createDataFrame([(100, bench_text, "s", at(0.0))],
                                  DOC_STREAM_SCHEMA).select("doc_id", "text")
    rows = [
        (1, clean, "s", at(0.0)),
        (2, leak, "s", at(1.0)),   # shares 5-gram prefix run with bench
        (3, clean + " extra", "s", at(10.0)),
    ]
    want = sorted(
        r.doc_id
        for r in decontaminate(
            spark.createDataFrame(rows, DOC_STREAM_SCHEMA).select(
                "doc_id", "text"
            ),
            bench,
            n=5,
        ).collect()
    )
    assert want == [1, 3]

    src = str(tmp_path / "in_decontam_stream")
    stage_replayable_batches(
        spark, src, DOC_STREAM_SCHEMA, [rows[:2], rows[2:]]
    )
    stream = file_stream(
        spark, src, DOC_STREAM_SCHEMA, max_files_per_trigger=1
    )
    out = corpus_decontaminate_stream(stream, bench, n=5)
    got = sorted(
        r.doc_id
        for r in run_to_memory(
            spark, out, "decontam_stream", tmp_path
        ).collect()
    )
    assert got == want


def test_corpus_ingest_stream_with_decontam_gate(spark, tmp_path):
    """The FULL streamed landing zone in one stream — quality -> lang
    -> decontaminate -> content dedup -> scrub: a benchmark near-copy
    arriving mid-stream is dropped BEFORE it can occupy dedup state,
    duplicates still dedup across micro-batches, and the survivor set
    equals the batch composition decontaminate(quality->lang prefix)
    -> exact dedup -> scrub."""
    from example_kafkastreams_spark.functions import portable as P
    from example_kafkastreams_spark.operators.decontam import decontaminate
    from example_kafkastreams_spark.operators.neardup import (
        exact_text_dedup,
    )
    from example_kafkastreams_spark.pipelines import (
        corpus_ingest_stream,
        corpus_stages,
    )

    bench_text = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    )
    leak = (
        "alpha beta gamma delta epsilon zeta prime two three four of the"
        " house and the door by the sun"
    )
    good = (
        "the quick brown fox jumps over the lazy dog and runs on to the"
        " house of the friend"
    )
    other = (
        "a small dog and a big cat sat in the sun by the door of the"
        " house for most of the day"
    )
    bench = spark.createDataFrame(
        [(100, bench_text, "s", at(0.0))], DOC_STREAM_SCHEMA
    ).select("doc_id", "text")
    rows = [
        (1, good, "s", at(0.0)),
        (2, leak, "s", at(1.0)),    # contaminated -> dropped
        (3, good, "s", at(2.0)),    # dup of 1, same batch
        (4, other, "s", at(10.0)),  # survives (later batch)
        (5, good, "s", at(11.0)),   # dup of 1, later batch
    ]
    batch_docs = spark.createDataFrame(rows, DOC_STREAM_SCHEMA)

    # batch twin: quality->lang prefix, decontaminate, dedup, scrub
    prefix = corpus_stages(batch_docs)["language"].select("doc_id", "text")
    decon = decontaminate(prefix, bench, n=5)
    keep = exact_text_dedup(decon).select("doc_id")
    want = {
        (r.doc_id, r.text)
        for r in decon.join(keep, "doc_id", "semi")
        .withColumn("text", F.expr(P.pii_scrub("text", P.SPARK)))
        .collect()
    }
    assert {d for d, _ in want} == {1, 4}

    src = str(tmp_path / "in_ingest_decontam")
    stage_replayable_batches(
        spark, src, DOC_STREAM_SCHEMA, [rows[:3], rows[3:]]
    )
    stream = file_stream(
        spark, src, DOC_STREAM_SCHEMA, max_files_per_trigger=1
    )
    out = corpus_ingest_stream(stream, ts_col="ts", benchmark=bench)
    got = {
        (r.doc_id, r.text)
        for r in run_to_memory(
            spark, out, "ingest_decontam", tmp_path
        ).collect()
    }
    assert got == want


def test_corpus_ingest_with_index_across_jobs(spark, tmp_path):
    """The persistent digest index gives the streaming ingest
    CROSS-JOB memory: run 2 (fresh checkpoint, new query) anti-joins
    its batches against the index run 1 wrote, so replayed content is
    dropped without any shared state store — and after both runs the
    index equals the batch digest set of everything admitted."""
    from example_kafkastreams_spark.pipelines import (
        corpus_ingest_with_index,
    )

    good = (
        "the quick brown fox jumps over the lazy dog and runs on to the"
        " house of the friend"
    )
    other = (
        "a small dog and a big cat sat in the sun by the door of the"
        " house for most of the day"
    )
    third = (
        "the friend of the house walks a long road to the door in the"
        " warm sun of the day"
    )
    idx = str(tmp_path / "digest_index")
    out = str(tmp_path / "admitted")

    def run(tag, batches):
        src = str(tmp_path / f"in_{tag}")
        stage_replayable_batches(spark, src, DOC_STREAM_SCHEMA, batches)
        stream = file_stream(
            spark, src, DOC_STREAM_SCHEMA, max_files_per_trigger=1
        )
        df, mk = corpus_ingest_with_index(stream, spark, idx, ts_col="ts")
        q = (
            df.writeStream.foreachBatch(mk(out))
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    # run 1: good admitted once (in-stream dedup), other admitted
    run("one", [
        [(1, good, "s", at(0.0)), (2, good, "s", at(1.0))],
        [(3, other, "s", at(10.0))],
    ])
    admitted1 = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert admitted1 == {1, 3}
    idx1 = {r.content_hash for r in spark.read.parquet(idx).collect()}
    assert len(idx1) == 2

    # run 2: replays of good/other (new ids) must be dropped by the
    # INDEX (fresh checkpoint — stream state cannot remember run 1);
    # the new doc survives and extends the index
    run("two", [
        [(11, good, "s", at(100.0)), (12, third, "s", at(101.0))],
        [(13, other, "s", at(110.0))],
    ])
    admitted = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert admitted == {1, 3, 12}
    idx2 = {r.content_hash for r in spark.read.parquet(idx).collect()}
    assert len(idx2) == 3 and idx1 < idx2


def test_corpus_ingest_index_sink_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a crash re-runs the last batch
    id. The sink must be exactly-once at the storage layer — invoking
    it TWICE with the same batch id leaves both the survivor sink and
    the digest index byte-identical (dynamic partition overwrite into
    the (run, batch) directory, not an append), and batch ids
    restarting at 0 in a different run never clobber this run's data
    (distinct run tokens)."""
    from example_kafkastreams_spark.pipelines import (
        corpus_ingest_with_index,
    )

    idx = str(tmp_path / "digest_index")
    out = str(tmp_path / "admitted")
    src = str(tmp_path / "in")
    stage_replayable_batches(
        spark,
        src,
        DOC_STREAM_SCHEMA,
        [[(1, "the quick brown fox jumps over the lazy dog and runs on"
            " to the house of the friend", "s", at(0.0))]],
    )
    stream = file_stream(spark, src, DOC_STREAM_SCHEMA)
    _, mk = corpus_ingest_with_index(stream, spark, idx, ts_col="ts")
    sink = mk(out, run_id=str(tmp_path / "ckpt"))

    # StructType.add mutates in place — copy before extending
    batch_schema = T.StructType(
        list(DOC_STREAM_SCHEMA.fields)
        + [T.StructField("content_hash", T.StringType())]
    )
    batch = spark.createDataFrame(
        [(1, "good doc text", "s", at(0.0), "a" * 32)],
        batch_schema,
    )
    sink(batch, 7)
    survivors1 = sorted(
        (r.doc_id, r.text) for r in spark.read.parquet(out).collect()
    )
    index1 = sorted(
        (r.doc_id, r.content_hash)
        for r in spark.read.parquet(idx).collect()
    )
    # replay of the SAME batch id: storage unchanged
    sink(batch, 7)
    assert sorted(
        (r.doc_id, r.text) for r in spark.read.parquet(out).collect()
    ) == survivors1
    assert sorted(
        (r.doc_id, r.content_hash)
        for r in spark.read.parquet(idx).collect()
    ) == index1
    # a DIFFERENT run reusing batch id 7 adds rows instead of
    # overwriting run 1's partition
    batch2 = spark.createDataFrame(
        [(2, "other doc text", "s", at(1.0), "b" * 32)],
        batch_schema,
    )
    mk2 = corpus_ingest_with_index(stream, spark, idx, ts_col="ts")[1]
    mk2(out, run_id=str(tmp_path / "ckpt2"))(batch2, 7)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 2}
    assert {r.doc_id for r in spark.read.parquet(idx).collect()} == {1, 2}


@pytest.mark.parametrize("sketch", ["minhash", "simhash"])
def test_corpus_ingest_neardup_sink_replay_idempotent(
    spark, tmp_path, sketch
):
    """The near-dup sink's replay hazard is sharper than the digest
    sink's: a foreachBatch replay (crash after the index write, before
    the offset commit) re-reads an index that already holds THIS
    batch's own admitted signatures under the same doc ids — violating
    ``admit_against_band_index``'s disjoint-id-space assumption, so a
    clean multi-sig component would self-collide, classify poisoned,
    and the dynamic partition overwrite would REWRITE the survivors
    partition with fewer rows (silently losing admitted docs). The
    sink must therefore exclude its own (run, batch) partition from
    the index read. Fixture is exactly the hazard shape: a clean
    component with >= 2 distinct signatures (base + one-token variant)
    plus an unrelated doc."""
    from example_kafkastreams_spark.pipelines import (
        corpus_ingest_with_neardup_index,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and runs on to"
        " the house of the friend by the long road near the old mill"
    )
    # variant must carry a DISTINCT sketch that still near-dups base
    # (else the component is single-sig and the hazard never arms):
    # a last-token swap changes the shingle set (distinct MinHash sig,
    # Jaccard still >= 0.5); a first-token swap is Hamming 1 on the
    # 32-bit SimHash (empirically pinned; <= max_hamming 3).
    toks = base.split()
    toks[-1 if sketch == "minhash" else 0] = (
        "tokx" if sketch == "minhash" else "stone"
    )
    variant = " ".join(toks)
    other = (
        "a small dog and a big cat sat in the sun by the door of the"
        " house for most of the day and then went away to sleep deeply"
    )

    idx = str(tmp_path / "band_index")
    out = str(tmp_path / "admitted")
    src = str(tmp_path / "in")
    stage_replayable_batches(
        spark, src, DOC_STREAM_SCHEMA,
        [[(1, base, "s", at(0.0))]],
    )
    stream = file_stream(spark, src, DOC_STREAM_SCHEMA)
    _, mk = corpus_ingest_with_neardup_index(
        stream, spark, idx, ts_col="ts", sketch=sketch
    )
    sink = mk(out, run_id=str(tmp_path / "ckpt"))

    batch_schema = T.StructType(
        list(DOC_STREAM_SCHEMA.fields)
        + [T.StructField("content_hash", T.StringType())]
    )
    batch = spark.createDataFrame(
        [
            (1, base, "s", at(0.0), "a" * 32),
            (2, variant, "s", at(1.0), "b" * 32),
            (3, other, "s", at(2.0), "c" * 32),
        ],
        batch_schema,
    )
    sink(batch, 7)
    survivors1 = sorted(
        (r.doc_id, r.text) for r in spark.read.parquet(out).collect()
    )
    # the clean two-sig component {1, 2} admits its min id; the
    # unrelated doc survives alone
    assert [d for d, _ in survivors1] == [1, 3]
    index1 = sorted(
        r.doc_id for r in spark.read.parquet(idx).collect()
    )
    assert set(index1) == {1, 2, 3}
    # replay of the SAME batch id: both stores byte-identical — the
    # batch must NOT near-dup against its own prior index write
    sink(batch, 7)
    assert sorted(
        (r.doc_id, r.text) for r in spark.read.parquet(out).collect()
    ) == survivors1
    assert sorted(
        r.doc_id for r in spark.read.parquet(idx).collect()
    ) == index1


@pytest.mark.parametrize("sketch", ["minhash", "simhash"])
def test_corpus_ingest_with_neardup_index_across_jobs(
    spark, tmp_path, sketch
):
    """The persistent BAND index catches what the digest index cannot:
    a PARAPHRASED re-ingest. Batch 2 of run 1 replays a one-token
    variant of batch 1's admitted doc (cross-BATCH near-dup — only the
    index, updated after batch 1, can see it); run 2 (fresh
    checkpoint) replays another variant, dropped by the index alone.
    Parametrized over both sketch notions (Jaccard bands / Hamming
    byte-bands) — same admission decisions on this fixture."""
    from example_kafkastreams_spark.pipelines import (
        corpus_ingest_with_neardup_index,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and runs on to"
        " the house of the friend by the long road near the old mill"
    )

    def variant(i):
        toks = base.split()
        toks[-1] = f"tok{i}"
        return " ".join(toks)

    other = (
        "a small dog and a big cat sat in the sun by the door of the"
        " house for most of the day and then went away to sleep deeply"
    )
    third = (
        "fresh bread and warm soup wait on the long table in the quiet"
        " room where the family meets at the end of every single day"
    )
    idx = str(tmp_path / "band_index")
    out = str(tmp_path / "admitted")

    def run(tag, batches):
        src = str(tmp_path / f"in_{tag}")
        stage_replayable_batches(spark, src, DOC_STREAM_SCHEMA, batches)
        stream = file_stream(
            spark, src, DOC_STREAM_SCHEMA, max_files_per_trigger=1
        )
        df, mk = corpus_ingest_with_neardup_index(
            stream, spark, idx, ts_col="ts", sketch=sketch
        )
        q = (
            df.writeStream.foreachBatch(
                mk(out, run_id=str(tmp_path / f"ckpt_{tag}"))
            )
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    # run 1: exact copy dropped in-stream (digest state); the VARIANT
    # arrives in the NEXT batch and must be dropped via the index
    run("one", [
        [(1, base, "s", at(0.0)), (2, base, "s", at(1.0))],
        [(3, variant(1), "s", at(10.0)), (4, other, "s", at(11.0))],
    ])
    admitted1 = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert admitted1 == {1, 4}

    # run 2: fresh checkpoint — another paraphrase (new id) is dropped
    # purely by the PERSISTENT index; genuinely new content survives
    run("two", [
        [(11, variant(2), "s", at(100.0)), (12, third, "s", at(101.0))],
    ])
    admitted = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert admitted == {1, 4, 12}


VEC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("ts", T.TimestampType()),
    ]
)

# mutually orthogonal dim-4 fixtures (cosine 0 < any threshold); a
# scaled copy has cosine exactly 1 and provably the same SRP bucket
# (sign(s * v . p) == sign(v . p) for s > 0)
_V1 = [1.0, 0.25, -0.5, 2.0]
_V_ORTH = [-0.25, 1.0, 2.0, 0.5]
_V_NEW = [0.5, -2.0, 1.0, 0.25]


def _scaled(v, s):
    return [s * x for x in v]


def test_embedding_ingest_with_srp_index_across_jobs(spark, tmp_path):
    """The persistent SRP index catches what the token sketches
    cannot: a re-ingest whose EMBEDDING is near-identical while the
    surface form changed entirely. Batch 2 of run 1 ships a scaled
    copy (cosine 1, distinct digest — passes the in-stream exact
    gate) of batch 1's admitted vector: only the index, updated after
    batch 1, can see it. Run 2 (fresh checkpoint) ships another
    scaled copy, dropped purely by the persistent index; an
    orthogonal vector is admitted."""
    from example_kafkastreams_spark.operators.knn import hyperplanes
    from example_kafkastreams_spark.pipelines import (
        embedding_ingest_with_srp_index,
    )

    planes = hyperplanes(4, 4)
    idx = str(tmp_path / "srp_index")
    out = str(tmp_path / "admitted")

    def run(tag, batches):
        from example_kafkastreams_spark.pipelines import (
            ingest_batch_metrics,
        )

        src = str(tmp_path / f"in_{tag}")
        stage_replayable_batches(spark, src, VEC_STREAM_SCHEMA, batches)
        stream = file_stream(
            spark, src, VEC_STREAM_SCHEMA, max_files_per_trigger=1
        )
        df, mk = embedding_ingest_with_srp_index(
            stream, spark, idx, threshold=0.9, planes=planes,
            observe=True,
        )
        q = (
            df.writeStream.foreachBatch(
                mk(out, run_id=str(tmp_path / f"ckpt_{tag}"))
            )
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .start()
        )
        q.processAllAvailable()
        metrics = [m for m in ingest_batch_metrics(q) if m["raw"] > 0]
        q.stop()
        q.awaitTermination()
        return metrics

    # run 1: exact copy dropped in-stream (vector-digest state); the
    # scaled copy arrives in the NEXT batch — cross-batch, index-only
    m1 = run("one", [
        [(1, _V1, at(0.0)), (2, _V1, at(1.0))],
        [(3, _scaled(_V1, 2.0), at(10.0)), (4, _V_ORTH, at(11.0))],
    ])
    assert {
        r.vec_id for r in spark.read.parquet(out).collect()
    } == {1, 4}
    # observe=True shows the division of labor: the in-stream exact
    # gate drops the digest dup (2,1); the scaled copy PASSES it (2,2)
    # and only the sink-side SRP admission catches it
    assert [(m["raw"], m["admitted"]) for m in m1] == [(2, 1), (2, 2)]

    # run 2: fresh checkpoint — another scaled copy (new id) dropped
    # purely by the PERSISTENT index; genuinely new content survives
    run("two", [
        [(5, _scaled(_V1, 3.0), at(100.0)), (6, _V_NEW, at(101.0))],
    ])
    assert {
        r.vec_id for r in spark.read.parquet(out).collect()
    } == {1, 4, 6}
    # index = one rep row per admitted distinct vector, bucket carried
    irows = spark.read.parquet(idx).collect()
    assert {r.vec_id for r in irows} == {1, 4, 6}
    assert all(r.bucket is not None for r in irows)


def test_embedding_ingest_srp_replay_idempotent(spark, tmp_path):
    """foreachBatch replay of the SAME batch id must leave both stores
    byte-identical — the hazard shape is a clean component with TWO
    distinct vectors (base + scaled copy, both of whose reps enter the
    index): without the own-(run,batch) exclusion the replayed batch
    would collide against its own prior index write and drop its own
    admitted doc."""
    from example_kafkastreams_spark.operators.knn import hyperplanes
    from example_kafkastreams_spark.pipelines import (
        embedding_ingest_with_srp_index,
    )

    planes = hyperplanes(4, 4)
    idx = str(tmp_path / "srp_index")
    out = str(tmp_path / "admitted")
    src = str(tmp_path / "in")
    stage_replayable_batches(
        spark, src, VEC_STREAM_SCHEMA, [[(1, _V1, at(0.0))]]
    )
    stream = file_stream(spark, src, VEC_STREAM_SCHEMA)
    _, mk = embedding_ingest_with_srp_index(
        stream, spark, idx, threshold=0.9, planes=planes
    )
    sink = mk(out, run_id=str(tmp_path / "ckpt"))

    batch = spark.createDataFrame(
        [
            (1, _V1, at(0.0)),
            (2, _scaled(_V1, 2.0), at(1.0)),
            (3, _V_ORTH, at(2.0)),
        ],
        VEC_STREAM_SCHEMA,
    )
    sink(batch, 7)
    surv1 = sorted(r.vec_id for r in spark.read.parquet(out).collect())
    # clean component {1, 2} admits its min id; both distinct-vector
    # reps enter the index alongside the unrelated vector
    assert surv1 == [1, 3]
    idx1 = sorted(r.vec_id for r in spark.read.parquet(idx).collect())
    assert idx1 == [1, 2, 3]
    sink(batch, 7)
    assert sorted(
        r.vec_id for r in spark.read.parquet(out).collect()
    ) == surv1
    assert sorted(
        r.vec_id for r in spark.read.parquet(idx).collect()
    ) == idx1


# --- pack_chunks_stream: streaming sequence packing -----------------------

_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("chunk_idx", T.IntegerType()),
        T.StructField("chunk_text", T.StringType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _chunk(doc, idx, tokens, sec):
    return (doc, idx, f"d{doc}c{idx}", tokens, at(sec))


def test_pack_chunks_stream_multi_batch_equals_one_shot_batch(
    spark, tmp_path
):
    """The open-pack carry across micro-batches must reproduce the
    batch packer's single greedy pass bit-for-bit: same ordered chunks
    split over three micro-batches -> same (n_chunks, n_tokens, text)
    packs (ids namespace differently: s{shard} vs p{partition}). The
    last chunk exactly fills its pack, so nothing stays open and no
    timeout is involved."""
    from example_kafkastreams_spark.operators.packing import pack_chunks
    from example_kafkastreams_spark.streaming.ops import pack_chunks_stream

    batches = [
        [_chunk(1, 0, 3, 0), _chunk(1, 1, 4, 1), _chunk(1, 2, 5, 2)],
        [
            _chunk(2, 0, 6, 3),
            _chunk(2, 1, 2, 4),
            _chunk(2, 2, 9, 5),
            _chunk(3, 0, 10, 6),
            _chunk(3, 1, 1, 7),
        ],
        [_chunk(4, 0, 10, 8)],
    ]
    src = str(tmp_path / "pack_src")
    stage_replayable_batches(spark, src, _CHUNK_SCHEMA, batches)
    stream = file_stream(spark, src, _CHUNK_SCHEMA, max_files_per_trigger=1)
    got = run_to_memory(
        spark,
        pack_chunks_stream(stream, budget=10, shards=1),
        "packs_eq",
        tmp_path,
    )
    got_rows = got.collect()
    # greedy trace: 7, 5, 8, 9, 10, 1+?=closed by sentinel, 10
    assert sorted(r.pack_id for r in got_rows) == [
        f"s0-{i}" for i in range(7)
    ]
    want = pack_chunks(
        spark.createDataFrame(
            [c for b in batches for c in b], _CHUNK_SCHEMA
        ).coalesce(1),
        budget=10,
    ).collect()
    key = lambda r: (r.n_chunks, r.n_tokens, r.text)  # noqa: E731
    assert sorted(map(key, got_rows)) == sorted(map(key, want))


def test_pack_chunks_stream_timeout_flushes_tail(spark, tmp_path):
    """An idle shard's open pack flushes once the watermark passes
    last activity + linger — driven here by a late chunk on a
    DIFFERENT shard advancing the global watermark."""
    from example_kafkastreams_spark.streaming.ops import pack_chunks_stream

    # two doc ids landing on different shards of 2
    ids = spark.sql(
        "SELECT id FROM range(0, 64) WHERE pmod(xxhash64(id), 2) = 0"
        " ORDER BY id LIMIT 1"
    ).collect() + spark.sql(
        "SELECT id FROM range(0, 64) WHERE pmod(xxhash64(id), 2) = 1"
        " ORDER BY id LIMIT 1"
    ).collect()
    doc_a, doc_b = ids[0][0], ids[1][0]
    batches = [
        [_chunk(doc_a, 0, 4, 0), _chunk(doc_a, 1, 3, 1)],
        [_chunk(doc_b, 0, 10, 300)],
    ]
    src = str(tmp_path / "pack_src_to")
    stage_replayable_batches(spark, src, _CHUNK_SCHEMA, batches)
    stream = file_stream(spark, src, _CHUNK_SCHEMA, max_files_per_trigger=1)
    got = run_to_memory(
        spark,
        pack_chunks_stream(
            stream,
            budget=10,
            shards=2,
            watermark_delay="1 second",
            linger_seconds=1.0,
        ),
        "packs_to",
        tmp_path,
    ).collect()
    by_tokens = {r.n_tokens: r for r in got}
    # doc_b's oversize-exact chunk closed inline; doc_a's open 7-token
    # pack flushed by the event-time timeout
    assert set(by_tokens) == {10, 7}
    assert by_tokens[7].n_chunks == 2
    assert by_tokens[7].text == f"d{doc_a}c0\n\nd{doc_a}c1"
    assert len(got) == 2


def test_corpus_ingest_packs_stream_matches_batch(spark, tmp_path):
    """The full continuous pipeline (gates -> dedup -> scrub -> chunk
    -> pack) in ONE query must emit exactly pack_chunks() over
    chunk_documents() of the batch funnel's survivor prefix — the
    stage-by-stage golden equality extended through the stateful
    packer. The last doc is a 24-token "closer" whose chunks merge
    with the open tail and land every pack on an exact budget
    boundary, so the full greedy trace closes inline and the
    comparison needs no timeout (idle-tail flushing has its own
    golden above); dedup/quality/PII behavior is exercised by the
    duplicate, junk, and pii rows as in the ingest golden."""
    from example_kafkastreams_spark.functions import portable as P
    from example_kafkastreams_spark.operators.packing import pack_chunks
    from example_kafkastreams_spark.operators.text_chunks import (
        chunk_documents,
    )
    from example_kafkastreams_spark.pipelines import (
        corpus_ingest_packs_stream,
        corpus_stages,
    )

    good = (
        "the quick brown fox jumps over the lazy dog and runs on to the"
        " house of the friend"
    )
    pii = (
        "contact me at alice@example.com for the plan of the day and the"
        " rest of the week in the house"
    )
    other = (
        "a small dog and a big cat sat in the sun by the door of the"
        " house for most of the day"
    )
    junk = "the the the the the"  # quality-gated out
    closer = (
        "the old man walks down the long road with his dog every day"
        " while the sun sets slowly far behind the tall green hills"
    )
    rows = [
        (1, good, "s", at(0.0)),
        (2, junk, "s", at(1.0)),
        (3, good, "s", at(2.0)),   # dup, same micro-batch
        (4, pii, "s", at(3.0)),    # survives; scrubbed
        (5, good, "s", at(10.0)),  # dup, later micro-batch
        (6, other, "s", at(11.0)),
        (7, closer, "s", at(12.0)),
    ]

    batch_docs = spark.createDataFrame(rows, DOC_STREAM_SCHEMA)
    survivors = (
        corpus_stages(batch_docs)["exact_dedup"]
        .withColumn("text", F.expr(P.pii_scrub("text", P.SPARK)))
    )
    want = pack_chunks(
        chunk_documents(survivors, chunk_size=8, stride=8).coalesce(1),
        budget=16,
    ).collect()

    src = str(tmp_path / "in_packs")
    stage_replayable_batches(
        spark, src, DOC_STREAM_SCHEMA, [rows[:4], rows[4:6], rows[6:]]
    )
    stream = file_stream(
        spark, src, DOC_STREAM_SCHEMA, max_files_per_trigger=1
    )
    out = corpus_ingest_packs_stream(
        stream,
        budget=16,
        watermark_delay="30 seconds",
        chunk_size=8,
        stride=8,
        shards=1,
        pack_linger_seconds=1.0,
    )
    got = run_to_memory(spark, out, "ingest_packs", tmp_path).collect()
    key = lambda r: (r.n_chunks, r.n_tokens, r.text)  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert len(got) > 1  # the fixture actually spans several packs


def test_training_shards_sink_end_to_end(spark, tmp_path):
    """The continuous pipeline's last mile: packs streamed through
    training_shards_sink land in the SAME shard write_training_shards
    would assign (shard id is a pure function of pack_id), the stored
    pack set equals the memory-sink golden, and a replayed micro-batch
    overwrites its own partitions instead of double-appending."""
    from example_kafkastreams_spark.pipelines import (
        corpus_ingest_packs_stream,
        training_shards_sink,
    )

    good = (
        "the quick brown fox jumps over the lazy dog and runs on to the"
        " house of the friend"
    )
    other = (
        "a small dog and a big cat sat in the sun by the door of the"
        " house for most of the day"
    )
    rows = [
        (1, good, "s", at(0.0)),
        (2, other, "s", at(1.0)),
    ]
    src = str(tmp_path / "in_shards")
    stage_replayable_batches(spark, src, DOC_STREAM_SCHEMA, [rows])
    stream = file_stream(
        spark, src, DOC_STREAM_SCHEMA, max_files_per_trigger=1
    )
    packs = corpus_ingest_packs_stream(
        stream, budget=16, chunk_size=8, stride=8, shards=1
    )
    out = str(tmp_path / "shards_out")
    ckpt = str(tmp_path / "shards_ckpt")
    sink = training_shards_sink(out, num_shards=4, run_id=ckpt)
    q = (
        packs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()

    stored = spark.read.parquet(out)
    got = {(r.pack_id, r.n_chunks, r.n_tokens, r.text) for r in stored.collect()}
    assert len(got) >= 2  # the fixture spans several closed packs
    # pure-function shard assignment == the batch writer's formula
    for r in stored.collect():
        import hashlib

        want_shard = int(hashlib.md5(r.pack_id.encode()).hexdigest()[:8], 16) % 4
        assert r["__shard"] == want_shard, (r.pack_id, want_shard)
    # replay idempotence: re-running a batch rewrites, never appends
    one_batch = stored.drop(
        "__shard", "ingest_run", "ingest_batch"
    ).where(F.lit(True))
    sink(one_batch, 0)
    again = {
        (r.pack_id, r.n_chunks, r.n_tokens, r.text)
        for r in spark.read.parquet(out).collect()
    }
    assert again == got


def test_corpus_ingest_observed_metrics_conserve(spark, tmp_path):
    """observe=True must report every micro-batch's gate/dedup drops
    through Spark's own observedMetrics channel (no extra actions),
    with the conservation identity raw - gate_dropped - dedup_dropped
    == admitted holding per batch and the admitted total equal to the
    sink's row count."""
    import time

    from example_kafkastreams_spark.pipelines import (
        corpus_ingest_stream,
        ingest_batch_metrics,
    )

    good = (
        "the quick brown fox jumps over the lazy dog and runs on to the"
        " house of the friend"
    )
    other = (
        "a small dog and a big cat sat in the sun by the door of the"
        " house for most of the day"
    )
    rows = [
        (1, good, "s", at(0.0)),
        (2, "the the the the the", "s", at(1.0)),  # quality-dropped
        (3, good, "s", at(2.0)),                   # dup, same batch
        (4, other, "s", at(3.0)),
        (5, good, "s", at(10.0)),                  # dup, later batch
        (6, other, "s", at(11.0)),                 # dup, later batch
    ]
    src = str(tmp_path / "in_obs")
    stage_replayable_batches(
        spark, src, DOC_STREAM_SCHEMA, [rows[:4], rows[4:]]
    )
    stream = file_stream(
        spark, src, DOC_STREAM_SCHEMA, max_files_per_trigger=1
    )
    out = corpus_ingest_stream(stream, ts_col="ts", observe=True)
    q = start_memory_sink(out, "obs_ingest", str(tmp_path / "ckpt_obs"))
    q.processAllAvailable()
    time.sleep(2)
    q.processAllAvailable()
    metrics = [m for m in ingest_batch_metrics(q) if m["raw"] > 0]
    q.stop()
    q.awaitTermination()

    assert [
        (m["raw"], m["gated"], m["admitted"]) for m in metrics
    ] == [(4, 3, 2), (2, 2, 0)]
    for m in metrics:
        assert m["raw"] - m["gate_dropped"] - m["dedup_dropped"] == (
            m["admitted"]
        ), m
    assert sum(m["admitted"] for m in metrics) == (
        spark.table("obs_ingest").count()
    )


def test_packs_stream_observed_packed_counts(spark, tmp_path):
    """The continuous pipeline's observe=True adds the emission-grain
    observation: closed packs per micro-batch. Their total must equal
    the sink's row count, alongside the ingest-grain counts."""
    import time

    from example_kafkastreams_spark.pipelines import (
        corpus_ingest_packs_stream,
        ingest_batch_metrics,
    )

    good = (
        "the quick brown fox jumps over the lazy dog and runs on to the"
        " house of the friend"
    )
    other = (
        "a small dog and a big cat sat in the sun by the door of the"
        " house for most of the day"
    )
    rows = [
        (1, good, "s", at(0.0)),
        (2, other, "s", at(1.0)),
        (3, good, "s", at(10.0)),  # dup, later batch
    ]
    src = str(tmp_path / "in_packs_obs")
    stage_replayable_batches(
        spark, src, DOC_STREAM_SCHEMA, [rows[:2], rows[2:]]
    )
    stream = file_stream(
        spark, src, DOC_STREAM_SCHEMA, max_files_per_trigger=1
    )
    packs = corpus_ingest_packs_stream(
        stream, budget=16, chunk_size=8, stride=8, shards=1,
        pack_linger_seconds=0.0, observe=True,
    )
    q = start_memory_sink(packs, "packs_obs", str(tmp_path / "ckpt_pobs"))
    q.processAllAvailable()
    time.sleep(2)
    q.processAllAvailable()
    metrics = ingest_batch_metrics(q)
    q.stop()
    q.awaitTermination()

    n_sink = spark.table("packs_obs").count()
    assert n_sink > 0
    assert sum(m.get("packed", 0) for m in metrics) == n_sink
    ingested = [m for m in metrics if m["raw"] > 0]
    assert [(m["raw"], m["admitted"]) for m in ingested] == [(2, 2), (1, 0)]
