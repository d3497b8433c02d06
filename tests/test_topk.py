"""Two-phase partial top-k per group (operators/topk.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W, functions as F

from example_kafkastreams_spark.operators.topk import topk_per_group


def _events(spark):
    from example_kafkastreams_spark.catalog import load_table

    return load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "event_id", "event_type", "value"
    )


def _window_topk(df, k):
    w = W.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    )


@pytest.mark.parametrize("k", [1, 3, 7])
def test_equals_window_plan(spark, k):
    df = _events(spark)
    got = sorted(
        map(
            tuple,
            topk_per_group(
                df, ["user_id"], [("value", True), ("event_id", False)], k
            ).collect(),
        )
    )
    want = sorted(map(tuple, _window_topk(df, k).collect()))
    assert got == want


def test_survives_adversarial_partitioning(spark):
    """One group's global top-k scattered across many partitions: the
    per-batch prune must keep every global winner regardless of which
    batch it lands in."""
    df = _events(spark).repartition(16)  # round-robin scatter
    got = sorted(
        map(
            tuple,
            topk_per_group(
                df, ["user_id"], [("value", True), ("event_id", False)], 3
            ).collect(),
        )
    )
    want = sorted(map(tuple, _window_topk(_events(spark), 3).collect()))
    assert got == want


def test_prune_bounds_exchange_rows(spark):
    """The point of the operator: the window's exchange sees only the
    locally-pruned survivors — ≤ k · (groups present per batch summed
    over batches) rows, far under the full table."""
    df = _events(spark)
    total = df.count()
    n_users = df.select("user_id").distinct().count()
    k = 3
    schema = df.schema

    # replicate the internal prune stage and count its output
    by = ["value", "event_id"]

    def prune(batches):
        for pdf in batches:
            if len(pdf):
                yield (
                    pdf.sort_values(by=by, ascending=[False, True])
                    .groupby(["user_id"], sort=False)
                    .head(k)
                )

    pruned_rows = df.mapInPandas(prune, schema=schema).count()
    n_parts = df.rdd.getNumPartitions()
    assert pruned_rows <= k * n_users * max(n_parts, 1) * 2  # batch slack
    assert pruned_rows < total


def test_bad_k_raises(spark):
    with pytest.raises(ValueError):
        topk_per_group(_events(spark), ["user_id"], [("value", True)], 0)


def _stream_rows(lo, hi):
    # values interleave so every batch updates several groups' top-k
    return [
        (i % 7, i, float((i * 37) % 101)) for i in range(lo, hi)
    ]


def test_topk_store_stream_equals_batch_build(spark, tmp_path):
    """Golden: micro-batches through the sink leave per-group top-k
    EQUAL to the one-shot two-phase top-k over all rows, through a
    real streaming query."""
    import pyspark.sql.types as T

    from example_kafkastreams_spark.operators.topk import topk_fold
    from example_kafkastreams_spark.streaming.sinks import (
        snapshot_read,
        snapshot_sink,
    )
    from example_kafkastreams_spark.streaming.sources import (
        file_stream,
        stage_replayable_batches,
    )

    schema = (
        T.StructType()
        .add("g", "long")
        .add("id", "long")
        .add("v", "double")
    )
    batches = [_stream_rows(0, 80), _stream_rows(80, 200), _stream_rows(200, 260)]
    src = str(tmp_path / "in")
    stage_replayable_batches(spark, src, schema, batches)
    store = str(tmp_path / "topk")
    order = [("v", True), ("id", False)]
    q = (
        file_stream(spark, src, schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(
            snapshot_sink(spark, store, topk_fold(["g"], order, k=3))
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = sorted(map(tuple, snapshot_read(spark, store).collect()))
    all_df = spark.createDataFrame(_stream_rows(0, 260), schema)
    want = sorted(
        map(tuple, topk_per_group(all_df, ["g"], order, 3).collect())
    )
    assert got == want


def test_null_group_keys_survive(spark):
    """A NULL group key is a legitimate window partition — the local
    prune must not drop it (pandas groupby's default would)."""
    df = spark.createDataFrame(
        [(None, 1, 5.0), (None, 2, 9.0), (None, 3, 1.0), (7, 4, 2.0)],
        "g long, id long, v double",
    )
    got = sorted(
        map(
            tuple,
            topk_per_group(
                df, ["g"], [("v", True), ("id", False)], 2
            ).collect(),
        ),
        key=str,
    )
    w = W.partitionBy("g").orderBy(F.col("v").desc(), F.col("id"))
    want = sorted(
        map(
            tuple,
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 2)
            .collect(),
        ),
        key=str,
    )
    assert got == want and len(got) == 3
