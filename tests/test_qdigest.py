"""q-digest mergeable quantile sketch (operators/sketches.py)."""

from __future__ import annotations

import math

from example_kafkastreams_spark.operators.sketches import (
    QDIG_K,
    QDIG_LEVELS,
    qdigest_build,
    qdigest_ctes,
    qdigest_merge,
    qdigest_quantiles,
    qdigest_quantiles_sql,
)

QS = [0.25, 0.5, 0.9, 0.99]


def _vals(spark, xs):
    return spark.createDataFrame([(float(x),) for x in xs], "value double")


def _exact_rank(xs, v):
    return sum(1 for x in xs if math.floor(x) <= v)


def test_qdigest_matches_duckdb_bitwise(spark):
    """Every digest node AND every quantile answer equal between the
    Spark build and the unrolled DuckDB CTE twin, on a skewed
    multiset."""
    import duckdb

    xs = [i % 7 for i in range(500)] + [900 + (i % 3) for i in range(80)]
    dig, n = qdigest_build(_vals(spark, xs), "value", k=16)
    got_nodes = sorted(map(tuple, dig.collect()))
    got_q = sorted(map(tuple, qdigest_quantiles(dig, n, QS).collect()))

    con = duckdb.connect()
    con.execute("CREATE TABLE t(v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(float(x),) for x in xs])
    ctes = qdigest_ctes("SELECT v FROM t", k=16)
    want_nodes = sorted(map(tuple, con.execute(
        f"WITH {ctes} SELECT level, lo, hi, cnt FROM qddig"
    ).fetchall()))
    want_q = sorted(map(tuple, con.execute(
        f"WITH {ctes} {qdigest_quantiles_sql(QS)}"
    ).fetchall()))
    assert got_nodes == want_nodes
    assert got_q == want_q


def test_qdigest_rank_error_bound_and_size(spark):
    """Classic guarantees: each quantile answer's true rank is within
    ceil(q*n) - eps*n .. ceil(q*n) + eps*n with eps = levels/k, and
    the digest holds O(k log U) nodes."""
    xs = [int(37 * i) % 1024 for i in range(3000)]
    dig, n = qdigest_build(_vals(spark, xs), "value", k=QDIG_K)
    nodes = dig.collect()
    assert len(nodes) <= 2 * QDIG_K * (QDIG_LEVELS + 1)
    eps = QDIG_LEVELS / QDIG_K
    for r in qdigest_quantiles(dig, n, QS).collect():
        target = max(math.ceil(r.q * n), 1)
        # the answer hi covers at least `target` mass at-or-below it,
        # and overshoots by less than eps*n true ranks
        rank_hi = _exact_rank(xs, r.est)
        assert rank_hi >= target - eps * n
        assert _exact_rank(xs, r.est - 1) <= target + eps * n


def test_qdigest_partition_independent(spark):
    xs = [i % 50 for i in range(1000)]
    d1, n1 = qdigest_build(_vals(spark, xs).repartition(1), "value", k=8)
    d2, n2 = qdigest_build(_vals(spark, xs).repartition(16), "value", k=8)
    assert n1 == n2
    assert sorted(map(tuple, d1.collect())) == sorted(
        map(tuple, d2.collect())
    )


def test_qdigest_merge_bounds_hold(spark):
    """Merged digest: counts conserved, size still bounded, quantile
    answers still within the (doubled) classic rank error."""
    xs_a = [i % 11 for i in range(800)]
    xs_b = [500 + (i % 13) for i in range(600)]
    da, na = qdigest_build(_vals(spark, xs_a), "value", k=QDIG_K)
    db, nb = qdigest_build(_vals(spark, xs_b), "value", k=QDIG_K)
    n = na + nb
    m = qdigest_merge(da, db, n, k=QDIG_K)
    rows = m.collect()
    assert sum(r.cnt for r in rows) == n
    assert len(rows) <= 2 * QDIG_K * (QDIG_LEVELS + 1)
    xs = xs_a + xs_b
    eps = 2 * QDIG_LEVELS / QDIG_K
    for r in qdigest_quantiles(m, n, QS).collect():
        target = max(math.ceil(r.q * n), 1)
        assert _exact_rank(xs, r.est) >= target - eps * n
        assert _exact_rank(xs, r.est - 1) <= target + eps * n


def test_qdigest_clamps_domain_and_counts_conserved(spark):
    xs = [-5.0, 0.2, 3.9, 5000.0, 1023.0]
    dig, n = qdigest_build(_vals(spark, xs), "value", k=4)
    rows = dig.collect()
    assert n == 5
    assert sum(r.cnt for r in rows) == 5
    assert all(0 <= r.lo <= r.hi <= 1023 for r in rows)


def _stream_vals(lo, hi):
    return [(float(i % 37 + (i % 5) * 100),) for i in range(lo, hi)]


def test_qdigest_store_stream_and_replay(spark, tmp_path):
    """Golden: micro-batches through the sink via a REAL streaming
    query; the stored digest's quantile answers stay within the merged
    error bound of the exact one-shot quantiles, a replayed batch is
    skipped (sums are not idempotent), and a fresh sink instance after
    a 'driver restart' recognizes the replay too."""
    import pyspark.sql.types as T

    from example_kafkastreams_spark.operators.sketches import (
        qdigest_fold,
        qdigest_quantiles,
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
        _stream_vals(0, 400),
        _stream_vals(400, 900),
        _stream_vals(900, 1000),
    ]
    schema = T.StructType().add("v", "double")
    src = str(tmp_path / "in")
    stage_replayable_batches(spark, src, schema, batches)
    store = str(tmp_path / "qd")
    q = (
        file_stream(spark, src, schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(
            snapshot_sink(spark, store, qdigest_fold(), "run-a")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    dig = snapshot_read(spark, store)
    rows = dig.collect()
    n = sum(r.cnt for r in rows)
    assert n == 1000
    xs = [x for b in batches for (x,) in b]
    # merged error bound: each of B merges adds < log2(U)/k·n ranks
    eps = 3 * 10 / 32
    for r in qdigest_quantiles(dig, n, [0.5, 0.9]).collect():
        target = max(math.ceil(r.q * n), 1)
        assert _exact_rank(xs, r.est) >= target - eps * n
        assert _exact_rank(xs, r.est - 1) <= target + eps * n

    before = sorted(map(tuple, rows))
    sink_b = snapshot_sink(spark, store, qdigest_fold(), "run-a")
    sink_b(spark.createDataFrame(batches[2], schema), 2)  # restart replay
    assert sorted(
        map(tuple, snapshot_read(spark, store).collect())
    ) == before


def test_qdigest_build_ignores_nulls(spark):
    """NULLs are not values: mass conservation (sum cnt == n) must
    hold with NULLs present, matching count-distinct semantics."""
    df = spark.createDataFrame(
        [(1.0,), (None,), (2.0,), (None,), (3.0,)], "value double"
    )
    dig, n = qdigest_build(df, "value", k=4)
    assert n == 3
    assert sum(r.cnt for r in dig.collect()) == 3


def _nodes(df):
    return sorted(
        (r["level"], r["lo"], r["hi"], r["cnt"]) for r in df.collect()
    )


def test_qdigest_local_matches_loop(spark):
    # The single-task percolation (default) must equal the distributed
    # level loop node-for-node, for build AND merge, on a skewed
    # multiset that exercises kept nodes at several levels plus root.
    xs = [i % 7 for i in range(500)] + [900 + (i % 3) for i in range(80)]
    d_loc, n_loc = qdigest_build(_vals(spark, xs), "value", k=8)
    d_dist, n_dist = qdigest_build(
        _vals(spark, xs), "value", k=8, local=False
    )
    assert n_loc == n_dist
    assert _nodes(d_loc) == _nodes(d_dist)

    ys = [i % 11 for i in range(300)]
    e_loc, m = qdigest_build(_vals(spark, ys), "value", k=8)
    m_loc = qdigest_merge(d_loc, e_loc, n_loc + m, k=8)
    m_dist = qdigest_merge(d_dist, e_loc, n_loc + m, k=8, local=False)
    assert _nodes(m_loc) == _nodes(m_dist)
