"""The one foreachBatch replay protocol (streaming/sinks.py): snapshot
stores skip replays, survive a crash before the pointer flip and keep a
restart-stable default token, for every store fold; leaf sinks and
stores default to the streaming query id; each batch is read once."""

from __future__ import annotations

import os
from datetime import datetime

import pytest
import pyspark.sql.types as T
from pyspark.sql import functions as F

from example_kafkastreams_spark.streaming import sinks
from example_kafkastreams_spark.streaming.sinks import (
    snapshot_read,
    snapshot_sink,
)
from example_kafkastreams_spark.streaming.sources import (
    file_stream,
    stage_replayable_batches,
)


def _scd2():
    from example_kafkastreams_spark.operators.scd import scd2_fold

    return scd2_fold("user_id", "ts", ["tier"], "event_id")


def _bloom():
    from example_kafkastreams_spark.operators.sketches import bloom_fold

    return bloom_fold()


def _cms():
    from example_kafkastreams_spark.operators.sketches import cms_fold

    return cms_fold()


def _qdigest():
    from example_kafkastreams_spark.operators.sketches import qdigest_fold

    return qdigest_fold()


def _rollup():
    from example_kafkastreams_spark.operators.rollup import rollup_fold

    return rollup_fold(
        ["k"], {"v_sum": (F.col("v"), 3)}, {"v_min": F.col("v")}
    )


def _topk():
    from example_kafkastreams_spark.operators.topk import topk_fold

    return topk_fold(["g"], [("v", True), ("id", False)], 3)


def _day(d):
    return datetime(2024, 1, d)


# family -> (fold factory, batch schema, batch 0 rows, batch 1 rows)
FOLDS = {
    "scd2": (
        _scd2,
        "user_id long, ts timestamp, event_id long, tier string",
        [(1, _day(1), 10, "bronze"), (2, _day(1), 20, "silver")],
        [(1, _day(2), 11, "gold"), (3, _day(3), 30, "bronze")],
    ),
    "bloom": (
        _bloom,
        "v string",
        [(f"tok{i}",) for i in range(0, 100)],
        [(f"tok{i}",) for i in range(100, 200)],
    ),
    "cms": (
        _cms,
        "v string",
        [(f"tok{i % 7}",) for i in range(0, 100)],
        [(f"tok{i % 7}",) for i in range(100, 250)],
    ),
    "qdigest": (
        _qdigest,
        "v double",
        [(float(i % 37),) for i in range(0, 200)],
        [(float(i % 37 + 100),) for i in range(200, 300)],
    ),
    "rollup": (
        _rollup,
        "k string, v double",
        [(f"k{i % 5}", 0.001 * i) for i in range(0, 100)],
        [(f"k{i % 5}", 0.001 * i) for i in range(100, 250)],
    ),
    "topk": (
        _topk,
        "g long, id long, v double",
        [(i % 7, i, float(i * 37 % 101)) for i in range(0, 100)],
        [(i % 7, i, float(i * 37 % 101)) for i in range(100, 180)],
    ),
}


def _state(spark, path):
    return sorted(map(tuple, snapshot_read(spark, path).collect()), key=repr)


def _pointer_mtime(path):
    return os.stat(os.path.join(path, "meta.json")).st_mtime_ns


@pytest.mark.parametrize("family", sorted(FOLDS))
def test_snapshot_protocol(spark, tmp_path, monkeypatch, family):
    """Per fold: a crash after the snapshot write but before the
    pointer flip leaves the previous state serving and the replay heals
    it to the uncrashed result; a replay of a committed batch is
    skipped without touching the store; with no run_id, a fresh sink
    instance (a driver restart) recognizes the replay too."""
    fold, schema, rows0, rows1 = FOLDS[family]
    b0 = spark.createDataFrame(rows0, schema)
    b1 = spark.createDataFrame(rows1, schema)

    clean = str(tmp_path / "clean")
    sink = snapshot_sink(spark, clean, fold(), "run-a")
    sink(b0, 0)
    sink(b1, 1)
    want = _state(spark, clean)

    store = str(tmp_path / "store")
    sink = snapshot_sink(spark, store, fold(), "run-a")
    sink(b0, 0)
    state0 = _state(spark, store)
    assert state0 != want

    def crash(path, meta):
        raise OSError("crash before the pointer flip")

    with monkeypatch.context() as m:
        m.setattr(sinks, "_flip", crash)
        with pytest.raises(OSError, match="pointer flip"):
            sink(b1, 1)
    assert _state(spark, store) == state0  # the previous state serves
    sink(b1, 1)  # the replay overwrites the orphan snapshot
    assert _state(spark, store) == want

    flipped = _pointer_mtime(store)
    sink(b1, 1)  # replay of a committed batch
    assert _pointer_mtime(store) == flipped
    assert _state(spark, store) == want

    restart = str(tmp_path / "restart")
    snapshot_sink(spark, restart, fold())(b0, 0)
    flipped = _pointer_mtime(restart)
    snapshot_sink(spark, restart, fold())(b0, 0)
    assert _pointer_mtime(restart) == flipped
    assert _state(spark, restart) == state0


def _run(spark, src, schema, sink, ckpt):
    q = (
        file_stream(spark, src, schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


def test_leaf_sink_restart_replay_writes_no_duplicates(spark, tmp_path):
    """The default token is the streaming query id, which a restart
    from the same checkpoint keeps: replaying the last batch after its
    commit was lost rewrites its own leaf instead of adding a second
    run's copy."""
    from example_kafkastreams_spark.pipelines import training_shards_sink

    schema = T.StructType().add("pack_id", "string").add("text", "string")
    src = str(tmp_path / "in")
    stage_replayable_batches(
        spark, src, schema, [[(f"p{i}", f"text {i}") for i in range(50)]]
    )
    out, ckpt = str(tmp_path / "shards"), str(tmp_path / "ckpt")
    _run(spark, src, schema, training_shards_sink(out, num_shards=4), ckpt)
    # lose the batch's commit: the restart replays batch 0
    for name in ("0", ".0.crc"):
        os.remove(os.path.join(ckpt, "commits", name))
    _run(spark, src, schema, training_shards_sink(out, num_shards=4), ckpt)

    stored = spark.read.parquet(out)
    assert stored.count() == 50
    assert stored.select("ingest_run").distinct().count() == 1


def test_snapshot_sink_fresh_queries_on_one_store_both_apply(spark, tmp_path):
    """Two queries with fresh checkpoints are distinct runs: each has
    its own query id, so the second query's batch 0 is applied rather
    than skipped as the first query's replay."""
    from example_kafkastreams_spark.operators.sketches import cms_fold

    schema = T.StructType().add("v", "string")
    store = str(tmp_path / "cms")
    for run in ("a", "b"):
        src = str(tmp_path / f"in_{run}")
        stage_replayable_batches(
            spark, src, schema, [[(f"{run}{i}",) for i in range(50)]]
        )
        _run(
            spark, src, schema, snapshot_sink(spark, store, cms_fold()),
            str(tmp_path / f"ckpt_{run}"),
        )
    # every row adds one to each of the depth-4 rows of counters
    mass = snapshot_read(spark, store).agg(F.sum("cnt")).first()[0]
    assert mass == 2 * 50 * 4


def test_ann_append_sink_reads_each_batch_once(spark, tmp_path):
    """The batch is persisted once for the emptiness check, the codes
    write and the drift write, so the source reports each row once."""
    from example_kafkastreams_spark import obs
    from example_kafkastreams_spark.catalog import load_table
    from example_kafkastreams_spark.operators.ann_index import (
        ann_build,
        ann_index_append_sink,
    )
    from example_kafkastreams_spark.operators.knn import pq_codebook
    from example_kafkastreams_spark.streaming.sinks import read_leaves
    from tests.conftest import SMOKE

    emb = load_table(spark, SMOKE, "embeddings")
    path = str(tmp_path / "pq")
    ann_build(emb, {"kind": "pq", "codebook": pq_codebook(emb, 8, 16)}, path)
    rows = [tuple(r) for r in emb.orderBy("vec_id").limit(100).collect()]
    src = str(tmp_path / "in")
    stage_replayable_batches(spark, src, emb.schema, [rows])
    q = _run(
        spark, src, emb.schema,
        ann_index_append_sink(spark, path, track_drift=True),
        str(tmp_path / "ckpt"),
    )
    landed = read_leaves(spark, os.path.join(path, "codes_delta")).count()
    assert landed == len(rows) == 100
    assert sum(p["numInputRows"] for p in obs.progress(q)) == landed
