"""Session factory confs that the engine's Python workers and streaming
checkpoints depend on."""

from __future__ import annotations

import datetime as dt
import glob
import os

import example_kafkastreams_spark


def test_workers_find_the_package(spark):
    """Python workers unpickle UDFs by importing the package, so the
    session puts the package's parent directory on their path, ahead of
    the environment's own PYTHONPATH: a driver started from any working
    directory runs the Python-UDF slots."""
    pkg_parent = os.path.dirname(
        os.path.dirname(os.path.abspath(example_kafkastreams_spark.__file__))
    )
    want = os.pathsep.join(filter(None, [pkg_parent, os.environ.get("PYTHONPATH")]))
    assert spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH") == want


def test_checkpoints_keep_their_checksums(spark, tmp_path):
    """Local checkpoints go through Hadoop's FileSystem API (a plain
    rename, no forked ``readlink``), and that speed does not come from
    dropping Spark's checkpoint verification: checksums stay enabled and
    every state-store delta of the join and dedup stores, after two
    batches, has its ``.crc`` sidecar."""
    from pyspark.sql import types as T

    from example_kafkastreams_spark.streaming.ops import clickstream_enrich_stream
    from example_kafkastreams_spark.streaming.sources import (
        file_stream,
        stage_replayable_batches,
    )

    conf = spark.conf.get
    assert conf("spark.sql.streaming.checkpointFileManagerClass") == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    assert conf("spark.sql.streaming.checkpoint.fileChecksum.enabled", "true") != "false"

    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    sec = lambda s: t0 + dt.timedelta(seconds=s)  # noqa: E731
    ev_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    pv_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("pv_event_id", T.LongType()),
            T.StructField("pv_ts", T.TimestampType()),
        ]
    )
    evs = [[(u, 10 * b + u, sec(20 * b + 5)) for u in range(4)] for b in range(2)]
    pvs = [[(u, 100 + 10 * b + u, sec(20 * b)) for u in range(4)] for b in range(2)]
    stage_replayable_batches(spark, str(tmp_path / "ev"), ev_schema, evs)
    stage_replayable_batches(spark, str(tmp_path / "pv"), pv_schema, pvs)
    out = clickstream_enrich_stream(
        file_stream(spark, str(tmp_path / "ev"), ev_schema, 1),
        file_stream(spark, str(tmp_path / "pv"), pv_schema, 1),
        on=["user_id"],
        dedup_keys=["user_id", "event_id", "pv_event_id"],
        client_key="user_id",
    )
    ckpt = str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("memory")
        .queryName("checksummed_ckpt")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    deltas = glob.glob(os.path.join(ckpt, "state", "**", "*.delta"), recursive=True)
    # the dedup store (state/<op>/<part>/) and the four join stores
    # (state/<op>/<part>/<store>/) both committed version 2
    depths = {
        os.path.relpath(f, ckpt).count(os.sep)
        for f in deltas
        if os.path.basename(f) == "2.delta"
    }
    assert depths == {3, 4}, deltas
    missing = [f for f in deltas if not os.path.exists(f + ".crc")]
    assert not missing, missing
