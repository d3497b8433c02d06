"""Self-tests of the benchmark harness; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import spans  # noqa: E402
from stats import MIN_BEYOND, steadiness, tail  # noqa: E402
from workloads import Outcome  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


@pytest.mark.parametrize("n", [1, 9, 20, 39])
def test_no_tail_without_ten_samples_beyond(n):
    assert tail([float(i) for i in range(n)]) is None


@pytest.mark.parametrize("n,pct", [(40, 75.0), (100, 90.0), (250, 95.0), (1000, 99.0)])
def test_tail_is_highest_percentile_with_ten_beyond(n, pct):
    values = [float(i) for i in range(n, 0, -1)]
    got_pct, got = tail(values)
    assert got_pct == pct
    assert sum(v > got for v in values) >= MIN_BEYOND


def test_steadiness_report():
    st = steadiness([10.0, 12.0, 11.0, 13.0, 9.0, 10.0, 11.0, 12.0, 11.0, 14.0])
    assert st["median"] == 11.0
    assert st["iqr_share"] == pytest.approx((12.25 - 10.0) / 11.0)
    assert st["max_over_min"] == pytest.approx(14.0 / 9.0)
    assert st["runs"] == 10


class FakeWorkload:
    """The first request in each session sleeps WARM_S, later ones REQ_S."""

    WARM_S, REQ_S = 0.05, 0.002

    def __init__(self):
        self.requests = 0
        self.in_session = 0

    def stop(self):
        pass

    def stage(self, spark, setup):
        self.in_session = 0

    def prepare(self):
        return self.requests

    def request(self, spark, prepared):
        time.sleep(self.WARM_S if self.in_session == 0 else self.REQ_S)
        self.in_session += 1
        self.requests += 1
        return Outcome(rows=10, result=1)

    def verify(self, outcome):
        return outcome.result == 1

    def final_check(self, spark):
        return True

    def trace_request(self, outcome):
        return {"exchanges": 2}


class FakeSurfaces:
    def __init__(self, spark):
        self.read_ms = []

    def request_delta(self):
        self.read_ms.append(0.1)
        keys = (
            "table_memo_misses jobs build_jobs stages tasks executor_cpu_ms gc_ms shuffle_write_records"
            " shuffle_write_bytes spill_bytes cache_storage_bytes cache_persisted_rdds"
        ).split()
        return dict.fromkeys(keys, 1)

    def peak_rss_mb(self):
        return 100.0


def _measure(traced: bool):
    wl = FakeWorkload()
    tracer = spans.Tracer(enabled=traced)

    def start():
        with tracer.span("session.get_spark"):
            return object()

    m, surfaces = run.measure(
        wl, start, lambda s: None, run.SETUPS, 0.02, tracer,
        FakeSurfaces if traced else None,
    )
    return wl, m, tracer, surfaces


def test_warm_up_requests_are_excluded_from_timing():
    wl, m, _, _ = _measure(traced=False)
    assert len(m.setup_s) == run.SETUPS
    assert wl.requests == run.SETUPS + len(m.latencies_ms)
    assert all(s >= FakeWorkload.WARM_S for s in m.setup_s)
    assert max(m.latencies_ms) < FakeWorkload.WARM_S * 1e3
    assert m.rows == 10 * len(m.latencies_ms)
    assert m.failed == 0


def test_traced_and_untraced_runs_report_the_same_end_to_end_names():
    _, plain, _, _ = _measure(traced=False)
    _, traced, tracer, surfaces = _measure(traced=True)
    untraced_result = run.summarize(plain, {}, None)
    traced_result = run.summarize(traced, {}, run.per_layer(traced, tracer, surfaces))
    e2e = [m["name"] for m in BENCH["end_to_end"]]
    assert list(untraced_result["report"]["e2e"]) == e2e
    assert list(traced_result["report"]["e2e"]) == e2e
    assert list(untraced_result["metrics"]) == e2e
    assert list(traced_result["metrics"]) == [m["name"] for m in BENCH["per_layer"]]
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
    for res in (untraced_result, traced_result):
        assert all(v["unit"] == units[k] for k, v in res["metrics"].items())


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and this directory,
    the benchmark exits non-zero and prints no result."""
    root = os.path.dirname(HERE)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [*BENCH["command"], "--workload", BENCH["workloads"][0]["name"], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_session_profile_comes_only_from_the_benchmark_command():
    """run.py has no default profile, so BENCHMARK.json's command is the
    one place that pins it."""
    bare = ["--workload", "w", "--seed", "1", "--seconds", "1"]
    with pytest.raises(SystemExit):
        run.parse_args(bare)
    args = run.parse_args(BENCH["command"][2:] + bare)
    assert args.cpus >= 1
    assert run._mem_mb(args.driver_mem) > 0
