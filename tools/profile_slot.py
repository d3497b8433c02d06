#!/usr/bin/env python
"""Profile declared slots the way the bench times them.

Usage: python tools/profile_slot.py <name-substring> [sf_dir] [--runs 2] [--branches]

Per slot and run, one JSON line: build wall (DataFrame construction,
including eager build jobs) and noop-sink execute wall, each with its
shuffle/input counter deltas. Run 0 is cold; later runs find memoized
builds warm. --branches then times each declared union branch
(registry.BRANCHES) through the bench's discriminator filter. Last,
the session's jobs (wall >= 0.15 s, with descriptions/groups) and its
top 15 stages by executor run time.
sf_dir defaults to catalog.DEFAULT_SF_DIR ($SPARK_GRAFT_SF_DIR).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from example_kafkastreams_spark import obs  # noqa: E402
from example_kafkastreams_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from example_kafkastreams_spark.operators.cache import (  # noqa: E402
    release_sketch_caches,
)
from example_kafkastreams_spark.queries import BRANCHES, QUERIES  # noqa: E402


def _ts(s: str) -> datetime:
    return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("name")
    ap.add_argument("sf_dir", nargs="?", default=DEFAULT_SF_DIR)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--branches", action="store_true")
    args = ap.parse_args()
    sf_dir = args.sf_dir
    spark = obs.measuring_session(
        f"profile-{args.name}", sf_dir, {"spark.ui.retainedJobs": "100000"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    for name in [n for n in sorted(QUERIES) if args.name in n]:
        for i in range(args.runs):
            build = obs.measure(spark, lambda: QUERIES[name](spark, sf_dir))
            noop = obs.measure(spark, lambda: obs.run_noop(build.value))
            release_sketch_caches()
            print(json.dumps({
                "query": name,
                "run": i,
                "build_sec": build.sec,
                "noop_sec": noop.sec,
                "total_sec": round(build.sec + noop.sec, 3),
                "build_counters": build.counters,
                "noop_counters": noop.counters,
            }), flush=True)
        if not args.branches or name not in BRANCHES:
            continue
        disc, modes = BRANCHES[name]
        for m in modes:
            branch = obs.measure(
                spark,
                lambda: obs.run_noop(
                    QUERIES[name](spark, sf_dir).filter(F.col(disc) == m)
                ),
            )
            release_sketch_caches()
            row = {"query": name, "branch": m, **branch.row(obs.SHUFFLE)}
            print(json.dumps(row), flush=True)

    print("\n-- jobs (wall >= 0.15 s), chronological:")
    tot = 0.0
    for j in sorted(obs.jobs(spark) or [], key=lambda j: j["jobId"]):
        if "completionTime" not in j or "submissionTime" not in j:
            continue
        dur = (_ts(j["completionTime"]) - _ts(j["submissionTime"])).total_seconds()
        tot += dur
        if dur >= 0.15:
            desc = (j.get("description") or j.get("name") or "")[:110]
            print(f"  job {j['jobId']:>4}  {dur:7.2f}s  {desc}")
    print(f"  (sum of ALL job walls: {tot:.2f}s — overlapped jobs double-count)")

    print("\n-- top 15 stages by executorRunTime:")
    top = sorted(obs.stages(spark) or [], key=lambda s: -s.get("executorRunTime", 0))
    for s in top[:15]:
        print(
            f"  stage {s['stageId']:>4}  run={s['executorRunTime']/1e3:7.2f}s"
            f" cpu={s.get('executorCpuTime', 0)/1e9:7.2f}s"
            f" tasks={s['numCompleteTasks']:>3}"
            f" shW={s.get('shuffleWriteRecords', 0):>9}"
            f" {(s.get('description') or s['name'])[:70]}"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
