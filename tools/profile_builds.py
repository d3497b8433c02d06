#!/usr/bin/env python
"""Per-query WARM build profiler: driver-side DataFrame-construction
cost (wall + py4j roundtrip count) for every declared query.

Builds each query twice; the second (warm — memos populated, scans
cached) build is the cost every bench re-invocation pays before any
job runs. Roundtrip counts are deterministic under CPU contention,
wall is not. No noop run — this isolates §7.3 driver-side fixed work.
--sites also charges each warm build's roundtrips to the innermost
engine call site (file:line:function) and prints the top N per query.

Usage: python tools/profile_builds.py [sf_dir] [--only q55,q58] [--sites] [--top N]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from example_kafkastreams_spark import obs  # noqa: E402
from example_kafkastreams_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from example_kafkastreams_spark.queries import QUERIES  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default=DEFAULT_SF_DIR)
    ap.add_argument("--only", type=lambda v: v.split(","))
    ap.add_argument("--sites", action="store_true")
    ap.add_argument("--top", type=int, default=40)
    args = ap.parse_args()
    spark = obs.measuring_session("profile-builds", args.sf_dir)
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name in sorted(QUERIES):
        if args.only and not any(s in name for s in args.only):
            continue
        fn = QUERIES[name]
        fn(spark, args.sf_dir)  # cold build: populate memos/persists

        def warm_build():
            with obs.py4j_calls(sites=args.sites) as calls:
                fn(spark, args.sf_dir)
            return calls

        warm = obs.measure(None, warm_build)
        calls = warm.value
        rows.append((name, warm.sec, calls.n))
        print(f"{name:38s} warm_build={warm.sec:7.3f}s py4j={calls.n:6d}",
              flush=True)
        if args.sites:
            for site, n in calls.sites.most_common(args.top):
                print(f"    {n:6d}  {site}")

    rows.sort(key=lambda r: -r[1])
    print("\n== top by warm build wall ==")
    for name, dt, dc in rows[:15]:
        print(f"{name:38s} {dt:7.3f}s py4j={dc}")
    print(f"\nTOTAL warm build: {sum(r[1] for r in rows):.1f}s "
          f"py4j={sum(r[2] for r in rows)}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
