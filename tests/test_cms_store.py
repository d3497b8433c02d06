"""Streaming count-min maintenance (operators/sketches.py)."""

from __future__ import annotations

from example_kafkastreams_spark.operators.sketches import (
    cms_fold,
    count_min_counters,
)
from example_kafkastreams_spark.streaming.sinks import (
    snapshot_read,
    snapshot_sink,
)


def _vals(spark, lo, hi):
    return spark.createDataFrame(
        [(f"tok{i % 7}",) for i in range(lo, hi)], "v string"
    )


def test_cms_store_stream_equals_batch_build(spark, tmp_path):
    """Golden: micro-batches through the sink leave counters EQUAL to
    one-shot counters over all rows, through a real streaming query."""
    import pyspark.sql.types as T

    from example_kafkastreams_spark.streaming.sources import (
        file_stream,
        stage_replayable_batches,
    )

    batches = [
        [(f"tok{i % 7}",) for i in range(0, 100)],
        [(f"tok{i % 7}",) for i in range(100, 250)],
        [(f"tok{i % 7}",) for i in range(250, 300)],
    ]
    schema = T.StructType().add("v", "string")
    src = str(tmp_path / "in")
    stage_replayable_batches(spark, src, schema, batches)
    store = str(tmp_path / "cms")
    q = (
        file_stream(spark, src, schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(
            snapshot_sink(spark, store, cms_fold(), str(tmp_path / "ckpt"))
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = sorted(map(tuple, snapshot_read(spark, store).collect()))
    want = sorted(
        map(tuple, count_min_counters(_vals(spark, 0, 300), "v").collect())
    )
    assert got == want


def test_cms_store_sink_replay_skipped_and_crash_heals(spark, tmp_path):
    """Counter sums are NOT idempotent — the high-water mark must skip
    a replayed batch; a crash before the pointer flip (orphan snapshot,
    old pointer) must heal to the same counters, never double-count."""
    import hashlib
    import json
    import os
    import shutil

    store = str(tmp_path / "cms")
    sink = snapshot_sink(spark, store, cms_fold(), run_id="run-a")
    b0, b1 = _vals(spark, 0, 100), _vals(spark, 100, 250)
    sink(b0, 0)
    sink(b1, 1)
    rows1 = sorted(map(tuple, snapshot_read(spark, store).collect()))
    # replay: skipped outright (a re-merge would double-count)
    sink(b1, 1)
    assert sorted(map(tuple, snapshot_read(spark, store).collect())) == rows1

    # crash before the pointer flip: roll meta back one batch; the
    # batch-1 snapshot dir survives as an orphan (recreate the batch-0
    # snapshot it would have pointed at)
    token = hashlib.md5(b"run-a").hexdigest()[:16]
    sink0 = snapshot_sink(
        spark, str(tmp_path / "s2"), cms_fold(), run_id="run-a"
    )
    sink0(b0, 0)
    shutil.copytree(
        os.path.join(str(tmp_path / "s2"), f"v_{token}_0"),
        os.path.join(store, f"v_{token}_0"),
    )
    with open(os.path.join(store, "meta.json"), "w") as f:
        json.dump({"current": f"v_{token}_0", "applied": {token: 0}}, f)
    sink(b1, 1)  # the replay recomputes from the pointed-at snapshot
    assert sorted(map(tuple, snapshot_read(spark, store).collect())) == rows1


def test_cms_store_default_token_survives_restart(spark, tmp_path):
    """With the default run_id=None and no streaming query, the token
    is derived from the store PATH, not a per-process uuid — so a
    driver restart followed by a replay of an already-applied batch is
    recognized by the high-water mark and skipped, never
    double-counted."""
    store = str(tmp_path / "cms")
    sink_a = snapshot_sink(spark, store, cms_fold())  # default run_id
    b0, b1 = _vals(spark, 0, 100), _vals(spark, 100, 250)
    sink_a(b0, 0)
    sink_a(b1, 1)
    rows1 = sorted(map(tuple, snapshot_read(spark, store).collect()))

    # driver restart: a FRESH sink instance replays batch 1
    sink_b = snapshot_sink(spark, store, cms_fold())
    sink_b(b1, 1)
    assert sorted(
        map(tuple, snapshot_read(spark, store).collect())
    ) == rows1, "replayed batch after restart must be skipped"
