"""Incremental aggregate maintenance (operators/rollup.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from example_kafkastreams_spark.operators.rollup import (
    rollup_apply_delta,
    rollup_build,
    rollup_finalize,
    rollup_fold,
    rollup_merge,
)
from example_kafkastreams_spark.streaming.sinks import (
    snapshot_read,
    snapshot_sink,
)

# F.col needs an active SparkContext — build specs lazily per test
def SUMS():
    return {"v_sum": (F.col("v"), 3)}


def MINS():
    return {"v_min": F.col("v")}


def MAXS():
    return {"v_max": F.col("v")}


def _rows(lo, hi):
    return [(f"k{i % 5}", round(0.001 * i + 0.123, 3)) for i in range(lo, hi)]


def _df(spark, lo, hi):
    return spark.createDataFrame(_rows(lo, hi), "k string, v double")


def _final(state):
    return sorted(
        map(
            tuple,
            rollup_finalize(
                state,
                sums={"v_sum": 3},
                avgs={"v_avg": ("v_sum", 3)},
                count_alias="n",
            ).collect(),
        )
    )


def test_maintained_equals_rebuild_bitwise(spark):
    """The IVM contract: ANY insert-only split schedule finalizes to
    the identical bits as the one-shot build (long partials are
    associative)."""
    full = _final(rollup_build(_df(spark, 0, 300), ["k"], SUMS(), MINS(), MAXS()))
    # two-way split
    st = rollup_build(_df(spark, 0, 180), ["k"], SUMS(), MINS(), MAXS())
    st = rollup_apply_delta(st, _df(spark, 180, 300), ["k"], SUMS(), MINS(), MAXS())
    assert _final(st) == full
    # day-by-day (5 uneven deltas, including an empty one)
    st = rollup_build(_df(spark, 0, 7), ["k"], SUMS(), MINS(), MAXS())
    for lo, hi in ((7, 100), (100, 100), (100, 211), (211, 300)):
        st = rollup_apply_delta(
            st, _df(spark, lo, hi), ["k"], SUMS(), MINS(), MAXS()
        )
    assert _final(st) == full


def test_new_and_absent_keys_in_delta(spark):
    """A delta may introduce keys the state has never seen and omit
    keys it has; both pass through the merge untouched."""
    st = rollup_build(
        spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double"),
        ["k"],
        SUMS(),
    )
    st = rollup_apply_delta(
        st,
        spark.createDataFrame([("c", 5.0), ("a", 3.0)], "k string, v double"),
        ["k"],
        SUMS(),
    )
    got = {
        r["k"]: (r["v_sum"], r["n"])
        for r in rollup_finalize(
            st, sums={"v_sum": 3}, count_alias="n"
        ).collect()
    }
    assert got == {"a": (4.0, 2), "b": (2.0, 1), "c": (5.0, 1)}


def test_merge_commutes_and_handles_minmax(spark):
    a = rollup_build(_df(spark, 0, 50), ["k"], SUMS(), MINS(), MAXS())
    b = rollup_build(_df(spark, 50, 120), ["k"], SUMS(), MINS(), MAXS())
    ab = sorted(map(tuple, rollup_merge(a, b).collect()))
    ba = sorted(map(tuple, rollup_merge(b, a).collect()))
    assert ab == ba
    fin = {
        r["k"]: (r["v_min"], r["v_max"])
        for r in rollup_finalize(rollup_merge(a, b)).collect()
    }
    import collections

    want = collections.defaultdict(lambda: (float("inf"), -float("inf")))
    for k, v in _rows(0, 120):
        lo, hi = want[k]
        want[k] = (min(lo, v), max(hi, v))
    assert fin == dict(want)


def test_rollup_store_stream_equals_batch_build(spark, tmp_path):
    """Golden: micro-batches through the sink leave state EQUAL to the
    one-shot build over all rows, through a real streaming query."""
    import pyspark.sql.types as T

    from example_kafkastreams_spark.streaming.sources import (
        file_stream,
        stage_replayable_batches,
    )

    batches = [_rows(0, 100), _rows(100, 250), _rows(250, 300)]
    schema = T.StructType().add("k", "string").add("v", "double")
    src = str(tmp_path / "in")
    stage_replayable_batches(spark, src, schema, batches)
    store = str(tmp_path / "mv")
    q = (
        file_stream(spark, src, schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(
            snapshot_sink(
                spark, store, rollup_fold(["k"], SUMS(), MINS(), MAXS())
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = sorted(map(tuple, snapshot_read(spark, store).collect()))
    want = sorted(
        map(
            tuple,
            rollup_build(_df(spark, 0, 300), ["k"], SUMS(), MINS(), MAXS())
            .collect(),
        )
    )
    assert got == want


def test_rollup_store_replay_skipped_and_crash_heals(spark, tmp_path):
    """Long-sum partials are NOT idempotent — the high-water mark must
    skip a replayed batch; a crash before the pointer flip (orphan
    snapshot, old pointer) must heal to the same state."""
    import hashlib
    import json
    import os
    import shutil

    store = str(tmp_path / "mv")
    sink = snapshot_sink(
        spark, store, rollup_fold(["k"], SUMS()), run_id="run-a"
    )
    b0, b1 = _df(spark, 0, 100), _df(spark, 100, 250)
    sink(b0, 0)
    sink(b1, 1)
    rows1 = sorted(map(tuple, snapshot_read(spark, store).collect()))
    sink(b1, 1)  # replay: skipped outright
    assert sorted(map(tuple, snapshot_read(spark, store).collect())) == rows1

    # crash before the pointer flip: meta rolled back one batch, the
    # batch-1 snapshot surviving as an orphan — the replay recomputes
    # from the pointed-at snapshot and overwrites it byte-identically
    token = hashlib.md5(b"run-a").hexdigest()[:16]
    sink0 = snapshot_sink(
        spark, str(tmp_path / "s2"), rollup_fold(["k"], SUMS()),
        run_id="run-a",
    )
    sink0(b0, 0)
    shutil.copytree(
        os.path.join(str(tmp_path / "s2"), f"v_{token}_0"),
        os.path.join(store, f"v_{token}_0"),
        dirs_exist_ok=True,
    )
    with open(os.path.join(store, "meta.json"), "w") as f:
        json.dump({"current": f"v_{token}_0", "applied": {token: 0}}, f)
    sink(b1, 1)
    assert sorted(map(tuple, snapshot_read(spark, store).collect())) == rows1


def test_rollup_store_default_token_survives_restart(spark, tmp_path):
    """Outside a streaming query, the default run_id=None derives the
    replay token from the store path, so a restarted driver recognizes
    replayed batches."""
    store = str(tmp_path / "mv")
    b0 = _df(spark, 0, 100)
    snapshot_sink(spark, store, rollup_fold(["k"], SUMS()))(b0, 0)
    rows = sorted(map(tuple, snapshot_read(spark, store).collect()))
    # "restart": a fresh sink instance replays batch 0
    snapshot_sink(spark, store, rollup_fold(["k"], SUMS()))(b0, 0)
    assert sorted(map(tuple, snapshot_read(spark, store).collect())) == rows


def test_finalize_minmax_only_state(spark):
    """A state with only min/max partials (no sums) finalizes cleanly."""
    st = rollup_build(_df(spark, 0, 40), ["k"], mins=MINS(), maxs=MAXS())
    out = rollup_finalize(st)
    assert set(out.columns) == {"k", "n_rows", "v_min", "v_max"}
    assert out.count() == 5


def test_merge_three_way_associative(spark):
    a = rollup_build(_df(spark, 0, 40), ["k"], SUMS())
    b = rollup_build(_df(spark, 40, 90), ["k"], SUMS())
    c = rollup_build(_df(spark, 90, 150), ["k"], SUMS())
    left = sorted(map(tuple, rollup_merge(rollup_merge(a, b), c).collect()))
    right = sorted(map(tuple, rollup_merge(a, rollup_merge(b, c)).collect()))
    assert left == right
