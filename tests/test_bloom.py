"""Bloom membership sketch + bloom-prefiltered decontamination."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from example_kafkastreams_spark.operators.sketches import (
    bloom_member_sql,
    bloom_probe_expr,
    bloom_vector,
    bloom_words,
    bloom_words_sql,
)


def _vals(spark, n, prefix="tok"):
    return spark.createDataFrame(
        [(f"{prefix}{i}",) for i in range(n)], "v string"
    )


def test_bloom_no_false_negatives_and_bounded_fpr(spark):
    members = _vals(spark, 400)
    vec = bloom_vector(bloom_words(members))
    probe = _vals(spark, 1200)  # 400 members + 800 non-members
    got = {
        r.v: r.m
        for r in probe.select(
            "v", F.expr(bloom_probe_expr("v", vec)).alias("m")
        ).collect()
    }
    assert all(got[f"tok{i}"] for i in range(400))  # never a false negative
    fp = sum(1 for i in range(400, 1200) if got[f"tok{i}"])
    # m=8192, k=4, n=400: theoretical FPR ~0.08%; allow generous slack
    assert fp <= 8, fp


def test_bloom_cross_engine_exact(spark):
    members = _vals(spark, 300)
    vec = bloom_vector(bloom_words(members))
    probe = _vals(spark, 600)
    spark_m = {
        r.v: r.m
        for r in probe.select(
            "v", F.expr(bloom_probe_expr("v", vec)).alias("m")
        ).collect()
    }
    lit = lambda i: "'tok" + str(i) + "'"
    vals_sql = (
        "SELECT unnest([" + ",".join(lit(i) for i in range(300)) + "]) AS v"
    )
    probes_sql = (
        "SELECT unnest([" + ",".join(lit(i) for i in range(600)) + "]) AS v"
    )
    sql = (
        "WITH bloomregs AS (" + bloom_words_sql(vals_sql) + ") "
        + bloom_member_sql(probes_sql, "bloomregs")
    )
    duck = {r[0]: r[1] for r in duckdb.connect().execute(sql).fetchall()}
    assert duck == spark_m


def test_bloom_words_bounded_and_partition_invariant(spark):
    members = _vals(spark, 5000)
    w1 = bloom_words(members)
    assert w1.count() <= 8192 // 32
    a = sorted(map(tuple, w1.collect()))
    b = sorted(map(tuple, bloom_words(members.repartition(13)).collect()))
    assert a == b


def test_bloom_merge_equals_build_on_union_and_is_idempotent(spark):
    """Word-wise OR merge == one-shot build over the unioned input
    (exactly), and re-merging the same filter is a no-op — the
    replay-safety property a streaming maintenance sink leans on."""
    from example_kafkastreams_spark.operators.sketches import bloom_merge

    a, b = _vals(spark, 200), _vals(spark, 200, prefix="other")
    wa, wb = bloom_words(a), bloom_words(b)
    merged = sorted(map(tuple, bloom_merge(wa, wb).collect()))
    oneshot = sorted(
        map(tuple, bloom_words(a.unionByName(b)).collect())
    )
    assert merged == oneshot
    again = sorted(
        map(tuple, bloom_merge(bloom_merge(wa, wb), wb).collect())
    )
    assert again == merged


def test_cms_merge_is_counter_sum(spark):
    from example_kafkastreams_spark.operators.sketches import (
        cms_merge,
        count_min_counters,
    )

    a, b = _vals(spark, 150), _vals(spark, 150)  # identical multisets
    ca = count_min_counters(a, "v")
    merged = {
        (r.d, r.bucket): r.cnt
        for r in cms_merge(ca, count_min_counters(b, "v")).collect()
    }
    oneshot = {
        (r.d, r.bucket): r.cnt
        for r in count_min_counters(a.unionByName(b), "v").collect()
    }
    assert merged == oneshot
    single = {(r.d, r.bucket): r.cnt for r in ca.collect()}
    assert all(merged[k] == 2 * single[k] for k in single)


def test_bloom_cardinality_estimate(spark):
    from example_kafkastreams_spark.operators.sketches import (
        bloom_cardinality_estimate,
    )

    for n in (50, 200, 800):
        vec = bloom_vector(bloom_words(_vals(spark, n)))
        est = bloom_cardinality_estimate(vec)
        assert abs(est - n) / n < 0.15, (n, est)
    assert bloom_cardinality_estimate([0] * 256) == 0.0
    assert bloom_cardinality_estimate([-1] * 256) == float("inf")


def test_bloom_store_stream_equals_batch_build(spark, tmp_path):
    """Golden: values split across micro-batches through the
    bloom_fold snapshot store leave the stored filter EQUAL to the one-shot
    build over all values (OR-merge associativity), through a real
    file-backed streaming query."""
    import pyspark.sql.types as T

    from example_kafkastreams_spark.operators.sketches import bloom_fold
    from example_kafkastreams_spark.streaming.sinks import (
        snapshot_read,
        snapshot_sink,
    )
    from example_kafkastreams_spark.streaming.sources import (
        file_stream,
        stage_replayable_batches,
    )

    batches = [
        [(f"tok{i}",) for i in range(0, 100)],
        [(f"tok{i}",) for i in range(100, 180)],
        [(f"tok{i}",) for i in range(150, 260)],  # overlap: OR no-op
    ]
    schema = T.StructType().add("v", "string")
    src = str(tmp_path / "in")
    stage_replayable_batches(spark, src, schema, batches)
    store = str(tmp_path / "bloom")
    q = (
        file_stream(spark, src, schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(snapshot_sink(spark, store, bloom_fold()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = sorted(map(tuple, snapshot_read(spark, store).collect()))
    want = sorted(map(tuple, bloom_words(_vals(spark, 260)).collect()))
    assert got == want


def test_bloom_store_sink_replay_and_crash_heal(
    spark, tmp_path, monkeypatch
):
    """A replayed batch leaves the stored filter unchanged; a crash
    between the snapshot write and the pointer flip keeps the previous
    filter serving, and the replay publishes the batch and prunes every
    snapshot but the current one."""
    import json
    import os

    import pytest

    from example_kafkastreams_spark.operators.sketches import bloom_fold
    from example_kafkastreams_spark.streaming import sinks

    store = str(tmp_path / "bloom")
    sink = sinks.snapshot_sink(spark, store, bloom_fold())
    b0 = _vals(spark, 100)
    b1 = spark.createDataFrame(
        [(f"tok{i}",) for i in range(100, 200)], "v string"
    )
    sink(b0, 0)
    rows0 = sorted(map(tuple, sinks.snapshot_read(spark, store).collect()))
    sink(b1, 1)
    rows1 = sorted(map(tuple, sinks.snapshot_read(spark, store).collect()))
    sink(b1, 1)  # replay
    assert sorted(
        map(tuple, sinks.snapshot_read(spark, store).collect())
    ) == rows1

    # crash simulation: batch 2's snapshot is written, the flip is not
    b2 = spark.createDataFrame(
        [(f"tok{i}",) for i in range(200, 300)], "v string"
    )
    fresh = str(tmp_path / "fresh")
    fresh_sink = sinks.snapshot_sink(spark, fresh, bloom_fold())
    for i, b in enumerate((b0, b1, b2)):
        fresh_sink(b, i)
    rows2 = sorted(map(tuple, sinks.snapshot_read(spark, fresh).collect()))
    assert rows2 != rows1 != rows0

    def crash(path, meta):
        raise OSError("simulated crash before the pointer flip")

    with monkeypatch.context() as m:
        m.setattr(sinks, "_flip", crash)
        with pytest.raises(OSError, match="simulated crash"):
            sink(b2, 2)
    assert sorted(
        map(tuple, sinks.snapshot_read(spark, store).collect())
    ) == rows1  # the previous filter still serves
    sink(b2, 2)  # the replay heals the store
    assert sorted(
        map(tuple, sinks.snapshot_read(spark, store).collect())
    ) == rows2
    with open(os.path.join(store, "meta.json")) as f:
        current = json.load(f)["current"]
    assert [d for d in os.listdir(store) if d.startswith("v_")] == [current]


def test_bloom_decontam_superset_of_exact_and_map_side(spark):
    """The bloom prefilter must flag every exactly-contaminated doc
    (no false negatives), and its probe plan must cross zero
    exchanges — the whole filter lives in the plan literals."""
    from example_kafkastreams_spark.catalog import load_table
    from example_kafkastreams_spark.operators.decontam import (
        contamination_report,
        contamination_report_bloom,
    )
    from example_kafkastreams_spark.plans import count_exchanges
    from tests.conftest import SMOKE

    docs = load_table(spark, SMOKE, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    exact_ids = {
        r.doc_id for r in contamination_report(train, bench).collect()
    }
    bloom_df = contamination_report_bloom(train, bench)
    assert count_exchanges(bloom_df) == 0
    flagged = {
        r.doc_id for r in bloom_df.filter("contaminated").collect()
    }
    assert exact_ids <= flagged


def test_bloom_store_sink_recovery_batch_keeps_fallback_readable(
    spark, tmp_path, monkeypatch
):
    """A recovery batch (the replay after a crash before the pointer
    flip) that itself crashes at the flip must leave the previous
    filter readable, never a store that reads as empty and would be
    rebuilt from None with all pre-crash history dropped; the next
    replay completes the recovery."""
    import os

    import pytest

    from example_kafkastreams_spark.operators.sketches import bloom_fold
    from example_kafkastreams_spark.streaming.sinks import (
        snapshot_read,
        snapshot_sink,
    )

    store = str(tmp_path / "bloom")
    sink = snapshot_sink(spark, store, bloom_fold())
    sink(_vals(spark, 100), 0)
    served = sorted(map(tuple, snapshot_read(spark, store).collect()))
    b1 = _vals(spark, 100, prefix="new")

    # every publish of batch 1 crashes at the pointer's rename: the
    # first attempt and the recovery batch replaying it
    real_replace = os.replace

    def exploding_replace(src, dst):
        if os.path.basename(dst) == "meta.json":
            raise OSError("simulated crash at publish")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", exploding_replace)
    for _ in range(2):
        with pytest.raises(OSError, match="simulated crash"):
            sink(b1, 1)
        cur = snapshot_read(spark, store)
        assert cur is not None
        assert sorted(map(tuple, cur.collect())) == served
    monkeypatch.setattr(os, "replace", real_replace)

    # and the replay completes the recovery on top of batch 0
    sink(b1, 1)
    got = sorted(map(tuple, snapshot_read(spark, store).collect()))
    want = sorted(
        map(
            tuple,
            bloom_words(
                _vals(spark, 100).unionByName(_vals(spark, 100, "new"))
            ).collect(),
        )
    )
    assert got == want


def test_bloom_rejects_bad_m_bits(spark):
    """ADVICE r9 regression: a non-multiple-of-32 (or non-positive)
    m_bits would index past the packed word vector — IndexError on
    build or a NULL element_at probing, i.e. silent FALSE NEGATIVES.
    Every entry point rejects it."""
    import pytest as _pytest

    from example_kafkastreams_spark.operators.sketches import (
        bloom_member_sql,
        bloom_probe_expr,
        bloom_vector,
        bloom_words,
        bloom_words_sql,
    )

    vals = _vals(spark, 10)
    for bad in (100, 0, -32, 33):
        with _pytest.raises(ValueError, match="multiple of 32"):
            bloom_words(vals, "v", m_bits=bad)
        with _pytest.raises(ValueError, match="multiple of 32"):
            bloom_words_sql("SELECT 'a' AS v", m_bits=bad)
        with _pytest.raises(ValueError, match="multiple of 32"):
            bloom_vector(vals, m_bits=bad)
        with _pytest.raises(ValueError, match="multiple of 32"):
            bloom_probe_expr("v", [0] * 4, m_bits=bad)
        with _pytest.raises(ValueError, match="multiple of 32"):
            bloom_member_sql("SELECT 'a' AS v", "regs", m_bits=bad)
