"""SCD2 build + point-in-time join semantics (operators/scd.py)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from example_kafkastreams_spark.operators.scd import (
    scd2_dim_stats,
    scd2_from_changelog,
    scd2_point_in_time_join,
)


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def _changelog(spark):
    # user 1: bronze -> bronze (dropped) -> gold; user 2: one version
    rows = [
        (1, _ts("2024-01-01T00:00:00"), 10, "bronze"),
        (1, _ts("2024-01-02T00:00:00"), 11, "bronze"),
        (1, _ts("2024-01-03T00:00:00"), 12, "gold"),
        (2, _ts("2024-01-05T00:00:00"), 20, "silver"),
    ]
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, tier string"
    )


def test_scd2_build_compacts_and_cuts_intervals(spark):
    dim = scd2_from_changelog(
        _changelog(spark), "user_id", "ts", ["tier"], "event_id"
    )
    got = {
        (r.user_id, r.version): (
            r.tier, r.valid_from, r.valid_to, r.is_current
        )
        for r in dim.collect()
    }
    # the no-change 01-02 update is compacted away: user 1's bronze
    # interval runs straight from 01-01 to the 01-03 gold flip
    assert got == {
        (1, 1): (
            "bronze", _ts("2024-01-01T00:00:00"),
            _ts("2024-01-03T00:00:00"), False,
        ),
        (1, 2): ("gold", _ts("2024-01-03T00:00:00"), None, True),
        (2, 1): ("silver", _ts("2024-01-05T00:00:00"), None, True),
    }


def test_scd2_keep_unchanged_variant(spark):
    dim = scd2_from_changelog(
        _changelog(spark), "user_id", "ts", ["tier"], "event_id",
        drop_unchanged=False,
    )
    assert dim.filter(F.col("user_id") == 1).count() == 3


def test_scd2_point_in_time_semantics(spark):
    dim = scd2_from_changelog(
        _changelog(spark), "user_id", "ts", ["tier"], "event_id"
    )
    facts = spark.createDataFrame(
        [
            (100, 1, _ts("2023-12-31T23:59:59")),  # before first version
            (101, 1, _ts("2024-01-02T12:00:00")),  # inside bronze
            (102, 1, _ts("2024-01-03T00:00:00")),  # boundary: half-open -> gold
            (103, 1, _ts("2024-02-01T00:00:00")),  # open current version
            (104, 3, _ts("2024-01-10T00:00:00")),  # unknown key
        ],
        "fact_id long, user_id long, ts timestamp",
    )
    out = scd2_point_in_time_join(
        facts, dim.select("user_id", "tier", "valid_from", "valid_to"),
        key="user_id",
    )
    got = {r.fact_id: r.tier for r in out.collect()}
    assert got == {
        100: None, 101: "bronze", 102: "gold", 103: "gold", 104: None,
    }
    # intervals partition the timeline: the left join must not amplify
    assert out.count() == facts.count()


def test_changelog_from_snapshots_feeds_apply_delta(spark):
    """Two full snapshots -> a delta-sized changelog batch -> the
    delta apply: changed and appeared keys emit, unchanged keys don't,
    and the folded dimension carries the new values."""
    from example_kafkastreams_spark.operators.scd import (
        changelog_from_snapshots,
        scd2_apply_delta,
    )

    old = spark.createDataFrame(
        [(1, "bronze"), (2, "silver"), (3, "gold")],
        "user_id long, tier string",
    )
    new = spark.createDataFrame(
        [(1, "bronze"), (2, "gold"), (4, "bronze")],
        "user_id long, tier string",
    )
    batch = changelog_from_snapshots(
        old, new, "user_id", ["tier"], "2024-02-01T00:00:00"
    )
    got = {(r.user_id, r.tier) for r in batch.collect()}
    # 1 unchanged -> silent; 2 changed; 4 appeared; 3 vanished -> no
    # tombstone (SCD2 keeps its last version open)
    assert got == {(2, "gold"), (4, "bronze")}

    day1 = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T00:00:00"), 10, "bronze"),
            (2, _ts("2024-01-01T00:00:00"), 20, "silver"),
            (3, _ts("2024-01-01T00:00:00"), 30, "gold"),
        ],
        _UPD_SCHEMA,
    )
    dim1 = scd2_from_changelog(day1, "user_id", "ts", ["tier"], "event_id")
    dim2 = scd2_apply_delta(
        dim1,
        batch.withColumnRenamed("tie", "event_id"),
        "user_id", "ts", ["tier"], "event_id",
    )
    cur = {
        r.user_id: r.tier
        for r in dim2.filter(F.col("is_current")).collect()
    }
    assert cur == {1: "bronze", 2: "gold", 3: "gold", 4: "bronze"}
    # user 2's silver closed at the snapshot timestamp
    closed = dim2.filter(
        (F.col("user_id") == 2) & ~F.col("is_current")
    ).collect()
    assert len(closed) == 1
    assert closed[0].valid_to == _ts("2024-02-01T00:00:00")


def test_scd2_as_of_snapshot(spark):
    from example_kafkastreams_spark.operators.scd import scd2_as_of

    dim = scd2_from_changelog(
        _changelog(spark), "user_id", "ts", ["tier"], "event_id"
    )
    # mid-bronze: user 1 bronze, user 2 not yet born
    snap = {
        r.user_id: r.tier
        for r in scd2_as_of(dim, "2024-01-02T12:00:00").collect()
    }
    assert snap == {1: "bronze"}
    # exactly on the gold flip: half-open -> gold (same rule as the
    # point-in-time join)
    snap2 = {
        r.user_id: r.tier
        for r in scd2_as_of(dim, "2024-01-03T00:00:00").collect()
    }
    assert snap2 == {1: "gold"}
    # after everything: one current row per key
    snap3 = {
        r.user_id: r.tier
        for r in scd2_as_of(dim, "2024-12-31T00:00:00").collect()
    }
    assert snap3 == {1: "gold", 2: "silver"}


def test_scd2_dim_stats_exact_micros(spark):
    dim = scd2_from_changelog(
        _changelog(spark), "user_id", "ts", ["tier"], "event_id"
    )
    stats = {r.tier: r for r in scd2_dim_stats(dim, ["tier"]).collect()}
    assert stats["bronze"].n_versions == 1
    assert stats["bronze"].n_current == 0
    # 2 days closed, in exact integer microseconds
    assert stats["bronze"].dur_us_closed == 2 * 86_400 * 1_000_000
    assert stats["gold"].n_current == 1
    assert stats["gold"].dur_us_closed == 0


def test_scd2_apply_delta_equals_full_rebuild(spark):
    """In-order delta folded into a stored dim == rebuild from the
    concatenated change log, bitwise — the delta-proportional
    maintenance contract."""
    from example_kafkastreams_spark.operators.scd import scd2_apply_delta

    day1 = _changelog(spark)  # users 1 and 2, through 2024-01-05
    day2rows = [
        (1, _ts("2024-01-06T00:00:00"), 13, "gold"),    # no-change: drop
        (1, _ts("2024-01-07T00:00:00"), 14, "bronze"),  # demotion
        (3, _ts("2024-01-08T00:00:00"), 30, "silver"),  # new key
    ]
    day2 = spark.createDataFrame(
        day2rows, "user_id long, ts timestamp, event_id long, tier string"
    )
    dim1 = scd2_from_changelog(day1, "user_id", "ts", ["tier"], "event_id")
    got = scd2_apply_delta(
        dim1, day2, "user_id", "ts", ["tier"], "event_id"
    )
    want = scd2_from_changelog(
        day1.unionByName(day2),
        "user_id", "ts", ["tier"], "event_id",
    )
    key = ["user_id", "version"]
    assert sorted(got.collect(), key=lambda r: (r.user_id, r.version)) == \
        sorted(want.collect(), key=lambda r: (r.user_id, r.version))
    # user 2 was untouched by the delta: its row passes through
    u2 = got.filter(F.col("user_id") == 2).collect()
    assert len(u2) == 1 and u2[0].is_current
    # user 1 gained a version (bronze demotion), old current closed
    u1 = {r.version: (r.tier, r.is_current) for r in
          got.filter(F.col("user_id") == 1).collect()}
    assert u1 == {1: ("bronze", False), 2: ("gold", False),
                  3: ("bronze", True)}


_UPD_SCHEMA = "user_id long, ts timestamp, event_id long, tier string"


def test_scd2_store_stream_equals_batch_rebuild(spark, tmp_path):
    """Golden: a change log split across micro-batches through the
    scd2_fold snapshot store leaves it BITWISE equal to the one-shot
    build over the concatenated log — the KTable-materialization
    contract, maintained incrementally."""
    from example_kafkastreams_spark.operators.scd import (
        scd2_fold,
        scd2_from_changelog,
    )
    from example_kafkastreams_spark.streaming.sinks import (
        snapshot_read,
        snapshot_sink,
    )
    from example_kafkastreams_spark.streaming.sources import (
        file_stream,
        stage_replayable_batches,
    )

    batches = [
        [(1, _ts("2024-01-01T00:00:00"), 10, "bronze"),
         (2, _ts("2024-01-01T06:00:00"), 20, "silver")],
        [(1, _ts("2024-01-02T00:00:00"), 11, "bronze"),   # compacted
         (1, _ts("2024-01-03T00:00:00"), 12, "gold")],
        [(2, _ts("2024-01-04T00:00:00"), 21, "gold"),
         (3, _ts("2024-01-05T00:00:00"), 30, "bronze")],
    ]
    import pyspark.sql.types as T

    schema = T.StructType().add("user_id", "long").add(
        "ts", "timestamp"
    ).add("event_id", "long").add("tier", "string")
    src = str(tmp_path / "in")
    stage_replayable_batches(spark, src, schema, batches)
    store = str(tmp_path / "dim_store")
    sink = snapshot_sink(
        spark,
        store,
        scd2_fold("user_id", "ts", ["tier"], "event_id"),
        str(tmp_path / "ckpt"),
    )
    q = (
        file_stream(spark, src, schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = sorted(
        snapshot_read(spark, store).collect(),
        key=lambda r: (r.user_id, r.version),
    )
    full = spark.createDataFrame(
        [r for b in batches for r in b], _UPD_SCHEMA
    )
    want = sorted(
        scd2_from_changelog(
            full, "user_id", "ts", ["tier"], "event_id"
        ).collect(),
        key=lambda r: (r.user_id, r.version),
    )
    assert got == want


def test_scd2_join_broadcasts_dim_no_fact_exchange(spark):
    """100 TB shape: the built dimension broadcasts, so the fact side
    of the point-in-time join crosses ZERO exchanges."""
    from example_kafkastreams_spark.catalog import load_table
    from example_kafkastreams_spark.plans import count_exchanges, explain_str
    from tests.conftest import SMOKE

    events = load_table(spark, SMOKE, "events")
    upd = events.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "event_id", F.lit("t").alias("tier")
    )
    dim = scd2_from_changelog(upd, "user_id", "ts", ["tier"], "event_id")
    facts = events.filter(F.col("event_type") == "purchase")
    out = scd2_point_in_time_join(
        facts, dim.select("user_id", "tier", "valid_from", "valid_to"),
        key="user_id",
    )
    plan = explain_str(out, "formatted")
    assert "BroadcastHashJoin" in plan, plan
    # the only shuffle exchange feeds the dim's window sort (below the
    # broadcast); the fact scan streams straight into the join
    assert count_exchanges(out) == 1, explain_str(out, "simple")
