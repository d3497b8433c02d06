#!/usr/bin/env python
"""Standalone driver simulation — run before round end.

Reproduces the correctness driver as faithfully as we can observe it:

* a VANILLA SparkSession (no session-factory confs — every conf the
  engine needs must come from ``catalog.load_table``, because the real
  driver builds its own session),
* ``__spark_entry__.queries()`` / ``oracle_sql()`` as the contract
  surface,
* DuckDB over the same parquet at the driver's scale factor (sf0.01),
* comparison = sorted columns, sorted rows, TYPED exact values
  (the driver hashes typed values: int64 ``1791`` != float64
  ``1791.0`` even though they compare equal).

Prints one JSON line per query plus a summary; exit 1 on any mismatch.
A mismatch in a branch-merged slot names its failing branches
(``registry.BRANCHES`` discriminator), split from the frames already
collected.

Usage:  python driver_sim.py [sf_dir] [--double] [--only q40,q63]
        (default sf_dir /root/testdata/sf0.01; --double re-executes each
        green query and requires identical typed values — determinism
        probe for partition-order-sensitive tie-breaks; --only limits
        the sweep to queries whose name contains any of the
        comma-separated substrings — the fast inner loop when
        iterating on one oracle)
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

from pyspark.sql import SparkSession


def main() -> int:
    only = None
    positional = []
    argv = sys.argv[1:]
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--only" and i + 1 < len(argv):
            only = argv[i + 1].split(",")
            i += 2
            continue
        if a.startswith("--only="):
            only = a.split("=", 1)[1].split(",")
        elif not a.startswith("--"):
            positional.append(a)
        i += 1
    sf_dir = positional[0] if positional else "/root/testdata/sf0.01"

    import importlib.util

    # verify THIS checkout: the entry module and the package next to
    # this script, not whatever tree the working directory points at
    here = os.path.dirname(os.path.abspath(__file__))
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(here, "__spark_entry__.py")
    )
    entry_mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry_mod)

    sys.path.insert(0, here)
    from example_kafkastreams_spark.registry import BRANCHES
    from tests.oracle_utils import duckdb_run, typed_errors

    # Vanilla session on purpose — mirrors the driver's.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Driver smoke: entry() must run on a vanilla session and return rows.
    n_entry = entry_mod.entry(spark).count()
    print(json.dumps({"entry_smoke": {"rows": n_entry, "ok": n_entry > 0}}), flush=True)

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    if only:
        queries = {
            n: f for n, f in queries.items()
            if any(sub in n for sub in only)
        }

    n_fail = 0
    results: dict[str, dict] = {}
    for name, fn in queries.items():
        t0 = time.time()
        row: dict = {}
        try:
            got = fn(spark, sf_dir).toPandas()
            want = duckdb_run(oracles[name], sf_dir)
            branches = BRANCHES.get(name)
            errs = typed_errors(got, want, branches)
            if "--double" in sys.argv and not errs:
                # Determinism probe: a second physical execution must
                # produce identical typed values — catches min_by/max_by
                # tie-breaks that float with partition order.
                again = fn(spark, sf_dir).toPandas()
                errs = [
                    f"nondeterministic: {e}"
                    for e in typed_errors(again, got, branches)
                ]
            row = {
                "rows_match": len(got) == len(want),
                "schema_match": sorted(got.columns) == sorted(want.columns),
                "hash_match": not errs,
                "spark_rows": len(got),
                "oracle_rows": len(want),
                "err": "; ".join(errs) if errs else None,
                "sec": round(time.time() - t0, 2),
            }
            if errs:
                n_fail += 1
        except Exception as e:  # noqa: BLE001 — report, don't abort the sweep
            traceback.print_exc()
            row = {"hash_match": False, "err": f"{type(e).__name__}: {e}"}
            n_fail += 1
        results[name] = row
        print(json.dumps({name: row}), flush=True)

    print(
        json.dumps(
            {
                "summary": {
                    "queries": len(queries),
                    "green": len(queries) - n_fail,
                    "failed": n_fail,
                    "sf_dir": sf_dir,
                }
            }
        )
    )
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
