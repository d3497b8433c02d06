"""Spans and Spark surfaces for the traced run.

The benchmark records a span around each of its own calls into a layer
of the program (``session.get_spark``, ``catalog.load_table``, a slot
builder from ``QUERIES``, a DataFrame action, ``processAllAvailable``).
Nothing inside the program is instrumented. With tracing off every
``span`` is a no-op, so the untraced run measures the program alone.

``SparkSurfaces`` reads what Spark itself reports, after each timed
request and outside its timed window: the status store (jobs and stages
with executor metrics, through the UI's REST API, which only the traced
run enables), the block manager's storage info, and the plan text of
the request's queries. It also reads the size of the catalog's table
memo, so the program's own table loads inside a request are counted
without a span around them.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.request
from contextlib import contextmanager

# Shuffle exchanges, as ``plans.checks.count_exchanges`` counts them.
_EXCHANGE = re.compile(r"Exchange (?:hash|range|Single)")
EXEC_DESCRIPTION = "perfbench:action"


class Tracer:
    """In-memory spans: name, start, end, parent span and request id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.request: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "request": self.request,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _matching(self, name: str, request: int | None):
        return [
            s
            for s in self.spans
            if s["name"] == name and s["end"] is not None
            and (request is None or s["request"] == request)
        ]

    def total_ms(self, name: str, request: int | None = None) -> float:
        return sum(
            (s["end"] - s["start"]) * 1e3 for s in self._matching(name, request)
        )

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self._matching(name, None)]

    def count(self, name: str, request: int | None = None) -> int:
        return len(self._matching(name, request))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def count_plan_exchanges(plan_text: str) -> int:
    return len(_EXCHANGE.findall(plan_text))


class SparkSurfaces:
    """Per-request deltas from the status store, the block manager and
    the catalog's table memo."""

    def __init__(self, spark):
        from example_kafkastreams_spark import catalog

        sc = spark.sparkContext
        self._sc = sc
        self._jvm = spark._jvm
        self._table_memo = catalog._TABLE_MEMO
        self._memo_size = len(self._table_memo)
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._last_job = self._max_job_id()
        self.read_ms: list[float] = []

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.loads(r.read())

    def peak_rss_mb(self) -> float:
        """Peak resident set of the driver JVM (``VmHWM``), in MiB."""
        pid = self._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def _drain(self) -> None:
        # the status store is fed asynchronously by the listener bus
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _max_job_id(self) -> int:
        self._drain()
        return max((j["jobId"] for j in self._get("/jobs")), default=-1)

    def request_delta(self) -> dict:
        """Jobs, stages, tasks and executor metrics of every job that
        started since the previous call, plus storage after them."""
        t0 = time.perf_counter()
        self._drain()
        jobs = [j for j in self._get("/jobs") if j["jobId"] > self._last_job]
        self._last_job = max([j["jobId"] for j in jobs], default=self._last_job)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s
            for s in self._get("/stages")
            if s["stageId"] in stage_ids and s["status"] != "SKIPPED"
        ]
        storage = self._sc._jsc.sc().getRDDStorageInfo()
        # the memo only grows: each new entry is a cold load_table call
        memo_size = len(self._table_memo)
        memo_misses, self._memo_size = memo_size - self._memo_size, memo_size
        out = {
            "table_memo_misses": memo_misses,
            "jobs": len(jobs),
            "build_jobs": sum(
                1 for j in jobs if j.get("description") != EXEC_DESCRIPTION
            ),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "executor_cpu_ms": sum(s["executorCpuTime"] for s in stages) / 1e6,
            "gc_ms": sum(s["jvmGcTime"] for s in stages),
            "shuffle_write_records": sum(s["shuffleWriteRecords"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spill_bytes": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
            ),
            "cache_storage_bytes": sum(
                i.memSize() + i.diskSize() for i in storage
            ),
            "cache_persisted_rdds": self._sc._jsc.getPersistentRDDs().size(),
        }
        self.read_ms.append((time.perf_counter() - t0) * 1e3)
        return out
