"""The harness's one reader of Spark's status store and one timed region.

``bench.py``, ``scale_probe.py`` and ``tools/`` measure through this
module and nothing else reads the status store. It is read over the
UI's REST API, so a session built with the UI off reads no counters:
every reader returns ``None`` there. ``measuring_session`` builds the
session the harness measures in.

Counters (shuffle write and input records/bytes) are cumulative totals
over completed stages; a region's counter is the difference of two
snapshots. For a fixed plan they are deterministic, unlike wall time on
a shared host, which is why every timed region carries them.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import urllib.request
from collections import Counter
from collections.abc import Callable, Iterable
from contextlib import contextmanager
from dataclasses import dataclass
from time import perf_counter
from typing import Any

# counter name -> stage-aggregate field of the status store
COUNTERS = {
    "shuffle_write_records": "shuffleWriteRecords",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "input_records": "inputRecords",
    "input_bytes": "inputBytes",
}
SHUFFLE = ("shuffle_write_records", "shuffle_write_bytes")
INPUT = ("input_records", "input_bytes")

STATUS_STORE_CONF = {
    "spark.ui.enabled": "true",
    # regions diff CUMULATIVE stage metrics; at the default
    # retainedStages (1000) the store evicts early stages mid-run and
    # the diffs go negative — keep every stage resident
    "spark.ui.retainedStages": "100000",
    # ... but only stage-level AGGREGATES are read. Task rows (default
    # 100000 retained per stage) and SQL-tab execution snapshots
    # (default 1000, each holding the full physicalPlanDescription
    # string — megabytes for the spliced-literal quantizer plans) are
    # never queried, and by the 40th bench slot their retained heap
    # measurably drags every later timed region via GC. Keep the store
    # stage-grain only; a task-grain reader (``task_skew``) needs a
    # session that overrides ``spark.ui.retainedTasks``.
    "spark.ui.retainedTasks": "1",
    "spark.sql.ui.retainedExecutions": "2",
}


def measuring_session(app_name: str, sf_dir: str, extra_conf: dict | None = None):
    """A session with the UI on and the stage-grain status store
    (``extra_conf`` overrides), warmed up: JVM and codegen, then one
    one-row read per table so parquet footer/listing caches and the
    scan codegen path are warm. Without the table reads the first
    timed region is billed the session warmup (~2 s of q01's ~3 s)."""
    from .catalog import load_table
    from .schemas import TABLE_NAMES
    from .session import get_spark

    spark = get_spark(
        app_name=app_name, extra_conf={**STATUS_STORE_CONF, **(extra_conf or {})}
    )
    spark.range(1000).selectExpr("sum(id)").collect()
    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).limit(1).count()
    return spark


def run_noop(df) -> None:
    """Full compute of ``df`` through the noop sink (no driver collect)."""
    df.write.format("noop").mode("overwrite").save()


def _get(spark, path: str) -> Any | None:
    ui = spark.sparkContext.uiWebUrl if spark is not None else None
    if not ui:
        return None
    url = f"{ui}/api/v1/applications/{spark.sparkContext.applicationId}{path}"
    try:
        with urllib.request.urlopen(url, timeout=10) as r:
            return json.load(r)
    except OSError:
        return None


def stages(spark) -> list[dict] | None:
    """Every completed stage in the status store (None with the UI off
    or no session)."""
    return _get(spark, "/stages?status=COMPLETE")


def jobs(spark) -> list[dict] | None:
    """Every job in the status store (None with the UI off)."""
    return _get(spark, "/jobs")


def totals(stage_list: list[dict] | None) -> dict[str, int] | None:
    """Counter totals over a stage list."""
    if stage_list is None:
        return None
    return {
        name: sum(s.get(key, 0) for s in stage_list)
        for name, key in COUNTERS.items()
    }


def delta(before: dict | None, after: dict | None) -> dict[str, int] | None:
    if before is None or after is None:
        return None
    return {k: after[k] - before[k] for k in after}


@dataclass(frozen=True)
class Region:
    """One timed region: ``sec`` is the min wall over its runs (ms
    rounded), ``counters`` the FIRST run's counter deltas (None with the
    UI off), ``value`` the first run's return value."""

    sec: float
    counters: dict[str, int] | None
    value: Any

    def row(self, names: Iterable[str] = (), **extra) -> dict:
        """``{"sec", **extra, *names}`` — a bench row; a counter reads
        None when the status store could not be read."""
        c = self.counters or {}
        return {"sec": self.sec, **extra, **{n: c.get(n) for n in names}}


def measure(spark, thunk: Callable[[], Any], runs: int = 1) -> Region:
    """Time ``thunk`` ``runs`` times. Wall is the min over the runs
    (local wall is noisy); counters come from the first run, the one
    that pays any build a later run would find memoized. With ``spark``
    None the region is wall-only: each counter snapshot is a full
    status-store fetch, which grows with every stage the session ran."""
    best = float("inf")
    counters = value = None
    for i in range(runs):
        before = totals(stages(spark)) if i == 0 else None
        t0 = perf_counter()
        out = thunk()
        best = min(best, perf_counter() - t0)
        if i == 0:
            value = out
            counters = delta(before, totals(stages(spark)))
    return Region(round(best, 3), counters, value)


def stage_keys(spark) -> set[tuple[int, int]]:
    """(stageId, attemptId) of every completed stage, to mark "before"."""
    return {(s["stageId"], s["attemptId"]) for s in stages(spark) or []}


def task_skew(stage: dict, tasks: list[dict]) -> dict | None:
    """Per-task shuffle-read max/median of ``stage`` over its stored
    ``tasks``. None when the store kept fewer successful task rows than
    the stage completed: a trimmed store keeps a finish-order-biased
    sample, and a quantile over it misses exactly the hot task the skew
    rows exist to catch. The median is the status store's own
    (``sorted[n // 2]``, as its taskSummary endpoint picks it)."""
    done = [t for t in tasks if t.get("status") == "SUCCESS"]
    if not done or len(done) < stage["numCompleteTasks"]:
        return None
    reads = [t["taskMetrics"]["shuffleReadMetrics"] for t in done]
    recs = sorted(r["recordsRead"] for r in reads)
    byts = sorted(r["localBytesRead"] + r["remoteBytesRead"] for r in reads)
    mid = len(done) // 2
    return {
        "num_tasks": stage["numTasks"],
        "median_task_shuffle_read_records": recs[mid],
        "max_task_shuffle_read_records": recs[-1],
        "median_task_shuffle_read_bytes": byts[mid],
        "max_task_shuffle_read_bytes": byts[-1],
    }


def skew_since(spark, seen: set[tuple[int, int]]) -> dict | None:
    """``task_skew`` of the heaviest multi-task shuffle-reading stage
    completed since ``seen`` (see ``stage_keys``). Records, not wall
    time, so the comparison is deterministic."""
    time.sleep(1)  # status-store listener lag behind the finished job
    new = [
        s
        for s in stages(spark) or []
        if (s["stageId"], s["attemptId"]) not in seen
        and s.get("numTasks", 0) >= 2
        and s.get("shuffleReadRecords", 0) > 0
    ]
    if not new:
        return None
    target = max(new, key=lambda s: s.get("shuffleReadRecords", 0))
    n = sum(target.get(k, 0) for k in ("numTasks", "numFailedTasks", "numKilledTasks"))
    tasks = _get(
        spark,
        f"/stages/{target['stageId']}/{target['attemptId']}/taskList?length={n}",
    )
    return None if tasks is None else task_skew(target, tasks)


class Py4jCalls:
    """Round trips counted by ``py4j_calls``: ``n`` in total and, when
    sites are on, per innermost engine call site (``file:line:func``).
    Overlapped build sections call py4j from several threads, so every
    update holds the lock."""

    def __init__(self, sites: bool):
        self.n = 0
        self.sites: Counter | None = Counter() if sites else None
        self._lock = threading.Lock()

    def add(self, frame) -> None:
        site = _engine_site(frame) if self.sites is not None else None
        with self._lock:
            self.n += 1
            if site is not None:
                self.sites[site] += 1


_PKG = os.path.dirname(os.path.abspath(__file__))


def _engine_site(frame) -> str:
    while frame is not None:
        fn = frame.f_code.co_filename
        if fn.startswith(_PKG) and fn != __file__ or fn.endswith("__spark_entry__.py"):
            return f"{os.path.basename(fn)}:{frame.f_lineno}:{frame.f_code.co_name}"
        frame = frame.f_back
    return "<non-repo>"


@contextmanager
def py4j_calls(sites: bool = False):
    """Count py4j round trips (``GatewayClient.send_command`` calls)
    made inside the block — deterministic under CPU contention, where
    driver-side build wall is not."""
    from py4j.java_gateway import GatewayClient

    calls = Py4jCalls(sites)
    orig = GatewayClient.send_command

    def counted(self, *a, **k):
        calls.add(sys._getframe(1))
        return orig(self, *a, **k)

    GatewayClient.send_command = counted
    try:
        yield calls
    finally:
        GatewayClient.send_command = orig
