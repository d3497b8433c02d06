"""release_build_memos — the bench-tail fix (VERDICT r11 item 1).

The bench main loop runs 50 memoized slots in one JVM; each slot's
persist_pinned working set must retire WITH its memo between slots or
the accumulated caches GC-throttle the tail (driver-measured q64
2.7→14.4 s, q65 2.2→32.1 s at 32 cores in round 11). These tests pin
the release contract: pinned frames are registered and unpersisted,
registered memo dicts are cleared, tracked frames stay on their own
(release_sketch_caches) lifecycle, and a released memoized slot
rebuilds correctly.
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import functions as F

from example_kafkastreams_spark.operators import cache as C
from example_kafkastreams_spark.operators.overlap import build_overlapped


def test_release_build_memos_unpersists_pinned_and_clears_memos(spark):
    df = C.persist_pinned(spark.range(100).withColumn("x", F.col("id") * 2))
    df.count()
    assert df.storageLevel.useMemory  # materialized and pinned
    memo = C.register_build_memo({})
    memo[("app", "dir")] = df
    n = C.release_build_memos()
    assert n >= 1
    assert memo == {}  # memo invalidated with its frames
    assert not df.storageLevel.useMemory  # unpersisted
    # released state is inert: a second release is a no-op
    assert C.release_build_memos() == 0


def test_release_build_memos_leaves_tracked_caches_alone(spark):
    tracked = C.persist_tracked(spark.range(50))
    tracked.count()
    C.release_build_memos()
    assert tracked.storageLevel.useMemory  # still cached
    C.release_sketch_caches()
    assert not tracked.storageLevel.useMemory


def test_released_memoized_slot_rebuilds_identically(spark):
    """The memo registry end-to-end on a real memoized slot: release,
    re-invoke, same rows — releasing is semantics-free (memos key on
    applicationId and carry no cross-run state)."""
    from example_kafkastreams_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    q = QUERIES["q64_decontaminate"]
    before = sorted(map(tuple, q(spark, sf).collect()))
    C.release_build_memos()
    after_df = q(spark, sf)
    after = sorted(map(tuple, after_df.collect()))
    assert before == after
    C.release_build_memos()


def test_build_memo_owns_persists_until_release(spark):
    calls = []

    @C.build_memo
    def build(s, sf_dir):
        calls.append(sf_dir)
        return C.persist_tracked(s.range(40).withColumn("y", F.col("id") + 1))

    df = build(spark, "memo-owned")
    df.count()
    assert build(spark, "memo-owned") is df and len(calls) == 1
    C.release_sketch_caches()
    assert df.storageLevel.useMemory  # owned by the memo, not tracked
    C.release_build_memos()
    assert not df.storageLevel.useMemory
    assert build(spark, "memo-owned") is not df and len(calls) == 2
    C.release_build_memos()


def test_overlapped_sections_inside_build_are_owned(spark):
    """build_overlapped runs its sections on pool threads; each must
    see the active build, or its persists fall back to tracked."""
    sections = []

    def section(n):
        df = C.persist_tracked(spark.range(n))
        sections.append(df)
        return df

    @C.build_memo
    def build(s, sf_dir):
        out = build_overlapped({"a": lambda: section(30), "b": lambda: section(60)})
        return out["a"].union(out["b"])

    assert build(spark, "memo-overlap").count() == 90
    assert len(sections) == 2
    C.release_sketch_caches()
    assert all(df.storageLevel.useMemory for df in sections)
    C.release_build_memos()
    assert not any(df.storageLevel.useMemory for df in sections)


def test_new_application_id_rebuilds(spark):
    """A restarted session (new applicationId) must rebuild, never be
    served a frame bound to the old context. The second context is a
    stand-in carrying only the id the memo keys on: one JVM holds a
    single SparkContext."""

    @C.build_memo
    def build(s, sf_dir):
        return C.persist_tracked(spark.range(10))

    first = build(spark, "memo-app")
    restarted = SimpleNamespace(
        sparkContext=SimpleNamespace(
            applicationId=spark.sparkContext.applicationId + "-restarted"
        )
    )
    second = build(restarted, "memo-app")
    assert second is not first
    assert build(spark, "memo-app") is first
    C.release_build_memos()
