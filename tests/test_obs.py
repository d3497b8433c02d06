"""obs without a JVM: counter totals and deltas, ``measure``'s policy
(min wall, first-run counters) and the task-skew reader, all on canned
status-store JSON. The shared test session has the UI off, so nothing
here may read the REST API."""

from __future__ import annotations

from example_kafkastreams_spark import obs


def _stage(sid, shuffle_rec=0, shuffle_bytes=0, in_rec=0, in_bytes=0, **kw):
    return {
        "stageId": sid,
        "attemptId": 0,
        "shuffleWriteRecords": shuffle_rec,
        "shuffleWriteBytes": shuffle_bytes,
        "inputRecords": in_rec,
        "inputBytes": in_bytes,
        **kw,
    }


def _task(records, local=0, remote=0, status="SUCCESS"):
    return {
        "status": status,
        "taskMetrics": {
            "shuffleReadMetrics": {
                "recordsRead": records,
                "localBytesRead": local,
                "remoteBytesRead": remote,
            }
        },
    }


def test_totals_and_delta():
    before = [_stage(0, 10, 100, 5, 50), _stage(1, 3, 30)]
    after = before + [_stage(2, 7, 70, 1000, 8000)]
    assert obs.totals(before) == {
        "shuffle_write_records": 13,
        "shuffle_write_bytes": 130,
        "input_records": 5,
        "input_bytes": 50,
    }
    assert obs.delta(obs.totals(before), obs.totals(after)) == {
        "shuffle_write_records": 7,
        "shuffle_write_bytes": 70,
        "input_records": 1000,
        "input_bytes": 8000,
    }
    # a stage without a metric field counts 0; UI off reads None
    assert obs.totals([{"stageId": 3}])["input_bytes"] == 0
    assert obs.totals(None) is None
    assert obs.delta(None, obs.totals(after)) is None


def test_measure_min_wall_first_run_counters(monkeypatch):
    # snapshots: before run 0, after run 0; later runs read nothing
    snaps = iter([[_stage(0, 5)], [_stage(0, 5), _stage(1, 40, 400, 9, 90)]])
    monkeypatch.setattr(obs, "stages", lambda spark: next(snaps))
    walls = iter([0.0, 2.5, 10.0, 11.0, 20.0, 21.75])  # run walls 2.5, 1.0, 1.75
    monkeypatch.setattr(obs, "perf_counter", lambda: next(walls))
    calls = []

    session = object()  # stands in for a session; ``stages`` is faked
    region = obs.measure(session, lambda: calls.append(1) or len(calls), runs=3)

    assert len(calls) == 3
    assert region.sec == 1.0
    assert region.value == 1  # the first run's return value
    assert region.counters == {
        "shuffle_write_records": 40,
        "shuffle_write_bytes": 400,
        "input_records": 9,
        "input_bytes": 90,
    }
    assert region.row(obs.SHUFFLE, exchanges=2) == {
        "sec": 1.0,
        "exchanges": 2,
        "shuffle_write_records": 40,
        "shuffle_write_bytes": 400,
    }


def test_measure_without_status_store():
    # no session (or the UI off): a wall-only region
    region = obs.measure(None, lambda: "out")
    assert region.counters is None and region.value == "out"
    assert region.row(obs.INPUT) == {
        "sec": region.sec,
        "input_records": None,
        "input_bytes": None,
    }


def test_task_skew_full_population():
    # one hot task among 63 even ones; a failed attempt is not a sample
    tasks = [_task(100, local=60, remote=40) for _ in range(63)]
    tasks += [_task(22600, local=200_000, remote=26_000)]
    tasks += [_task(999_999, status="FAILED")]
    stage = _stage(7, numTasks=64, numCompleteTasks=64)
    assert obs.task_skew(stage, tasks) == {
        "num_tasks": 64,
        "median_task_shuffle_read_records": 100,
        "max_task_shuffle_read_records": 22600,
        "median_task_shuffle_read_bytes": 100,
        "max_task_shuffle_read_bytes": 226_000,
    }


def test_task_skew_median_is_status_store_quantile():
    # taskSummary's quantile index: sorted[min(int(q * n), n - 1)]
    tasks = [_task(r) for r in (4, 1, 3, 2)]
    stage = _stage(1, numTasks=4, numCompleteTasks=4)
    row = obs.task_skew(stage, tasks)
    assert row["median_task_shuffle_read_records"] == 3
    assert row["max_task_shuffle_read_records"] == 4


def test_task_skew_refuses_trimmed_store():
    # the status store kept 6 of 64 task rows (spark.ui.retainedTasks
    # trim): a quantile over them would miss the hot task
    tasks = [_task(3000) for _ in range(5)] + [_task(4200)]
    stage = _stage(7, numTasks=64, numCompleteTasks=64)
    assert obs.task_skew(stage, tasks) is None
    assert obs.task_skew(stage, []) is None


def test_py4j_calls_counts_every_thread_and_restores(monkeypatch):
    # a no-op round trip stands in for the gateway; overlapped build
    # sections call py4j from several threads at once
    import sys
    import threading

    from py4j.java_gateway import GatewayClient

    monkeypatch.setattr(GatewayClient, "send_command", lambda self, cmd: cmd)
    stub = GatewayClient.send_command
    workers, per_worker = 16, 2000

    def hammer():
        for _ in range(per_worker):
            GatewayClient.send_command(None, "c")

    prior = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with obs.py4j_calls(sites=True) as calls:
            threads = [threading.Thread(target=hammer) for _ in range(workers)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=30)
    finally:
        sys.setswitchinterval(prior)
    assert not any(t.is_alive() for t in threads)
    assert calls.n == workers * per_worker
    assert sum(calls.sites.values()) == calls.n
    assert GatewayClient.send_command is stub
