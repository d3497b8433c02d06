"""Closed-loop benchmark of the clickstream engine.

    python3 perfbench/run.py --workload enrich_stream --seed 1 --seconds 12 --trace 0 \
        --cpus 4 --driver-mem 3g

Runs one workload (see ``workloads.py``) from the root of a checkout:
three set-ups (each a fresh Spark session, input staging and one
warm-up request), then timed requests until ``--seconds`` of request
time have passed and at least three requests have run, then the output
checks. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` -- the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The lines before it print every metric with its unit. See ``README.md``
in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 150.0  # stop timing early rather than overrun 180 s
SETUPS = 3  # set-ups per run; setup_s is their median
MIN_REQUESTS = 3  # so that latency_p50_ms is never a single sample

END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms", "throughput_rows_s": "1/s"}
PER_LAYER = {
    "session.start_ms": "ms",
    "session.jvm_launch_ms": "ms",
    "session.jvm_peak_rss_mb": "MiB",
    "catalog.load_table_ms": "ms",
    "catalog.table_memo_misses": "count",
    "queries.build_ms": "ms",
    "queries.build_jobs": "count",
    "plans.exchanges": "count",
    "operators.exec_ms": "ms",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.executor_cpu_ms": "ms",
    "operators.gc_ms": "ms",
    "operators.shuffle_write_records": "count",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.cache.storage_bytes": "bytes",
    "operators.cache.persisted_rdds": "count",
    "streaming.sources.land_to_trigger_ms": "ms",
    "streaming.sources.input_rows": "count",
    "streaming.ops.latest_offset_ms": "ms",
    "streaming.ops.query_planning_ms": "ms",
    "streaming.ops.add_batch_ms": "ms",
    "streaming.ops.wal_commit_ms": "ms",
    "streaming.ops.commit_offsets_ms": "ms",
    "streaming.ops.trigger_ms": "ms",
    "streaming.ops.nodata_batches": "count",
    "streaming.ops.nodata_trigger_ms": "ms",
    "streaming.ops.tasks_per_batch": "count",
    "streaming.ops.state_rows_total": "count",
    "streaming.ops.state_memory_bytes": "bytes",
    "streaming.ops.state_commit_ms": "ms",
    "streaming.ops.state_partitions": "count",
    "streaming.ops.state_rows_dropped_by_watermark": "count",
    "trace.latency_p50_ms": "ms",
    "trace.read_ms": "ms",
}
PHASES = {
    "latest_offset_ms": "latestOffset",
    "query_planning_ms": "queryPlanning",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "trigger_ms": "triggerExecution",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # the session profile; BENCHMARK.json's command pins both
    p.add_argument("--cpus", type=int, required=True, help="local[N], capped at the usable cores")
    p.add_argument("--driver-mem", required=True, help="driver heap, capped at a quarter of host memory")
    return p.parse_args(argv)


def _mem_mb(spec: str) -> int:
    units = {"m": 1, "g": 1024}
    if not spec or spec[-1].lower() not in units or not spec[:-1].isdigit():
        raise ValueError(f"--driver-mem must look like 3g or 3072m, got {spec!r}")
    return int(spec[:-1]) * units[spec[-1].lower()]


def pin_profile(work: str, cpus: int, driver_mem: str) -> dict:
    """Session profile of the run, set in the environment before the JVM
    starts. Python workers import the package through PYTHONPATH, so any
    working directory works; temporary files stay inside the checkout."""
    host_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    profile = {
        "SPARK_GRAFT_CPUS": str(max(1, min(cpus, len(os.sched_getaffinity(0))))),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(_mem_mb(driver_mem), host_mb // 4)}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "TMPDIR": os.path.join(work, "tmp"),
        # for every JVM the launch starts, not only the driver
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    for d in (profile["SPARK_LOCAL_DIRS"], profile["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(profile)
    tempfile.tempdir = None
    return profile


def session_conf(traced: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # Two file sources list their directories one after the other;
        # at the default 10 ms poll, a landing between the two listings
        # often split a request into two data batches (+~50% latency).
        # At 100 ms the landing almost always falls in the sleep between
        # polls, at a cost of ~50 ms a request (see README.md).
        "spark.sql.streaming.pollingDelay": "100ms",
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "10000",
    }
    if traced:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    return conf


def start_session(conf, tracer):
    from example_kafkastreams_spark.session import get_spark

    with tracer.span("session.get_spark"):
        return get_spark(app_name="perfbench", extra_conf=conf)


def stop_jvm() -> None:
    """Stop the Spark context, then the py4j gateway JVM, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def stream_metrics(progress: list[dict], requests: list[dict]) -> dict:
    """Per-data-batch medians from the streaming progress reports."""
    data = [p for p in progress if p["numInputRows"] > 0]
    nodata = [p for p in progress if p["numInputRows"] == 0]
    out = {
        f"streaming.ops.{k}": _median([p["durationMs"].get(v, 0) for p in data])
        for k, v in PHASES.items()
    }
    ops = [p.get("stateOperators", []) for p in data]
    out.update(
        {
            "streaming.sources.input_rows": _median([p["numInputRows"] for p in data]),
            "streaming.sources.land_to_trigger_ms": _median(
                [r["land_to_trigger_ms"] for r in requests]
            ),
            "streaming.ops.nodata_batches": _median([r["nodata"] for r in requests]),
            "streaming.ops.nodata_trigger_ms": _median(
                [p["durationMs"].get("triggerExecution", 0) for p in nodata]
            ),
            "streaming.ops.tasks_per_batch": _median(
                [r["tasks"] / max(1, r["batches"]) for r in requests]
            ),
            "streaming.ops.state_rows_total": _median(
                [sum(o["numRowsTotal"] for o in s) for s in ops]
            ),
            "streaming.ops.state_memory_bytes": _median(
                [sum(o["memoryUsedBytes"] for o in s) for s in ops]
            ),
            "streaming.ops.state_commit_ms": _median(
                [sum(o["commitTimeMs"] for o in s) for s in ops]
            ),
            "streaming.ops.state_partitions": _median(
                [max((o["numShufflePartitions"] for o in s), default=0) for s in ops]
            ),
            "streaming.ops.state_rows_dropped_by_watermark": _median(
                [sum(o["numRowsDroppedByWatermark"] for o in s) for s in ops]
            ),
        }
    )
    return out


@dataclass
class Measurement:
    setup_s: list[float] = field(default_factory=list)
    latencies_ms: list[float] = field(default_factory=list)
    rows: int = 0
    failed: int = 0
    traced: list[dict] = field(default_factory=list)


def measure(wl, start_session, stop_session, setups, seconds, tracer, surfaces_factory=None):
    """Set up ``setups`` times (fresh session, staging, one warm-up
    request), then run timed requests in the last session until
    ``seconds`` of request time have passed and at least
    ``MIN_REQUESTS`` have run, then check outputs.
    Warm-up requests count in ``setup_s`` and never in the latencies."""
    started = time.perf_counter()
    m, warm_ok, spark = Measurement(), True, None
    for k in range(setups):
        wl.stop()
        if spark is not None:
            stop_session(spark)
        t0 = time.perf_counter()
        spark = start_session()
        wl.stage(spark, k)
        warm_ok &= wl.verify(wl.request(spark, wl.prepare()))
        m.setup_s.append(time.perf_counter() - t0)

    surfaces = surfaces_factory(spark) if surfaces_factory else None
    while sum(m.latencies_ms) < seconds * 1e3 or len(m.latencies_ms) < MIN_REQUESTS:
        if m.latencies_ms and time.perf_counter() - started > DEADLINE_S:
            print(f"deadline: stopped after {len(m.latencies_ms)} requests", file=sys.stderr)
            break
        prepared = wl.prepare()
        if prepared is None:
            print(f"inputs used up after {len(m.latencies_ms)} requests", file=sys.stderr)
            break
        tracer.request = len(m.latencies_ms)
        t0 = time.perf_counter()
        try:
            outcome = wl.request(spark, prepared)
        except Exception:
            traceback.print_exc()
            m.latencies_ms.append((time.perf_counter() - t0) * 1e3)
            m.failed += 1
            break
        finally:
            tracer.request = None
        m.latencies_ms.append((time.perf_counter() - t0) * 1e3)
        m.rows += outcome.rows
        if not wl.verify(outcome):
            m.failed += 1
        if surfaces is not None:
            m.traced.append(surfaces.request_delta() | wl.trace_request(outcome))
    try:
        final_ok = wl.final_check(spark)
    except Exception:
        traceback.print_exc()
        final_ok = False
    if not final_ok:
        print("final output check failed", file=sys.stderr)
        m.failed = len(m.latencies_ms)
    if not warm_ok:
        print("warm-up output check failed", file=sys.stderr)
        m.failed = len(m.latencies_ms)
    return m, surfaces


def end_to_end(m: Measurement) -> dict[str, float]:
    return {
        "setup_s": statistics.median(m.setup_s),
        "latency_p50_ms": statistics.median(m.latencies_ms),
        "throughput_rows_s": m.rows / (sum(m.latencies_ms) / 1e3),
    }


def per_layer(m: Measurement, tracer, surfaces) -> dict[str, float]:
    n, traced = len(m.latencies_ms), m.traced
    med = lambda key: _median([r[key] for r in traced])  # noqa: E731
    starts = tracer.durations_ms("session.get_spark")
    layer = {
        "session.start_ms": _median(starts),
        "session.jvm_launch_ms": starts[0] if starts else 0.0,
        "session.jvm_peak_rss_mb": surfaces.peak_rss_mb(),
        "catalog.load_table_ms": _median(tracer.durations_ms("catalog.load_table")),
        "catalog.table_memo_misses": med("table_memo_misses"),
        "queries.build_ms": _median([tracer.total_ms("queries.build", i) for i in range(n)]),
        "queries.build_jobs": med("build_jobs") if tracer.count("queries.build") else 0,
        "plans.exchanges": med("exchanges"),
        "operators.exec_ms": _median(
            [
                tracer.total_ms("operators.action", i)
                + tracer.total_ms("streaming.processAllAvailable", i)
                for i in range(n)
            ]
        ),
        "operators.jobs": med("jobs"),
        "operators.stages": med("stages"),
        "operators.tasks": med("tasks"),
        "operators.executor_cpu_ms": med("executor_cpu_ms"),
        "operators.gc_ms": med("gc_ms"),
        "operators.shuffle_write_records": med("shuffle_write_records"),
        "operators.shuffle_write_bytes": med("shuffle_write_bytes"),
        "operators.spill_bytes": med("spill_bytes"),
        "operators.cache.storage_bytes": traced[-1]["cache_storage_bytes"] if traced else 0,
        "operators.cache.persisted_rdds": traced[-1]["cache_persisted_rdds"] if traced else 0,
        "trace.latency_p50_ms": statistics.median(m.latencies_ms),
        "trace.read_ms": _median(surfaces.read_ms),
    }
    streamed = [r for r in traced if "progress" in r]
    layer.update(
        stream_metrics([p for r in streamed for p in r["progress"]], streamed)
        if streamed
        else {k: 0 for k in PER_LAYER if k.startswith("streaming.")}
    )
    return layer


def run(args) -> dict:
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    profile = pin_profile(work, args.cpus, args.driver_mem)
    conf = session_conf(bool(args.trace))
    tracer = spans.Tracer(enabled=bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](os.path.join(work, "data"), args.seed, tracer)
    try:
        m, surfaces = measure(
            wl,
            lambda: start_session(conf, tracer),
            lambda spark: spark.stop(),
            SETUPS,
            args.seconds,
            tracer,
            spans.SparkSurfaces if args.trace else None,
        )
        layer = per_layer(m, tracer, surfaces) if args.trace else None
    finally:
        wl.stop()
        stop_jvm()
        if args.trace:
            tracer.dump(os.path.join(ROOT, ".perfbench_work", f"trace-{args.workload}-{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)
    return summarize(m, profile, layer)


def summarize(m: Measurement, profile: dict, layer: dict | None) -> dict:
    """The result line; ``layer`` is the traced run's per-layer metrics."""
    e2e = end_to_end(m)
    chosen, units = (e2e, END_TO_END) if layer is None else (layer, PER_LAYER)
    return {
        "correct": m.failed == 0,
        "attempted": len(m.latencies_ms),
        "failed": m.failed,
        "metrics": {k: {"value": chosen[k], "unit": u} for k, u in units.items()},
        "report": {"profile": profile, "e2e": e2e, "latencies_ms": m.latencies_ms, "setups_s": m.setup_s},
    }


def print_report(args, result: dict) -> None:
    from stats import tail

    rep = result.pop("report")
    w = args.workload
    print(f"# {w} seed={args.seed} trace={args.trace} profile={json.dumps(rep['profile'])}")
    print(f"# {w} requests={result['attempted']} failed={result['failed']} correct={result['correct']}")
    print(f"# {w} setups_s={[round(s, 3) for s in rep['setups_s']]}")
    print(f"# {w} latencies_ms={[round(x, 1) for x in rep['latencies_ms']]}")
    for k, v in rep["e2e"].items():
        print(f"{w} {k} {v:.6g} {END_TO_END[k]}")
    t = tail(rep["latencies_ms"])
    if t is None:
        print(f"{w} latency_tail_ms omitted: {len(rep['latencies_ms'])} samples support no tail")
    else:
        print(f"{w} latency_tail_ms p{t[0]:g} {t[1]:.6g} ms over {len(rep['latencies_ms'])} samples")
    if args.trace:
        for k, m in result["metrics"].items():
            print(f"{w} {k} {m['value']:.6g} {m['unit']}")


def main(argv=None) -> int:
    args = parse_args(argv)
    # run the cleanup in ``run`` (stop the JVM, remove the work dir) on SIGTERM too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "example_kafkastreams_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result = run(args)
    print_report(args, result)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
