"""Steadiness report: run each workload k times with different seeds.

    python3 perfbench/steady.py [--workloads enrich_stream,corpus_batch] \
        [--seeds 1-10] [--trace 0|1|both] [--out results.json]

Every run is the command of ``BENCHMARK.json`` with its ``run_seconds``,
as pinned there; the workloads default to those it names. For every
metric prints the median, the interquartile range as a share of the
median and max/min over the k runs. With ``--trace both`` each
seed also gets a traced run, and the tracing overhead per workload is
the traced runs' median request latency over the untraced runs' one.
Runs are sequential: parallel runs would contend for the same cores.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

from stats import steadiness

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(workload: str, seed: int, trace: int) -> tuple[dict, float]:
    cmd = [
        *BENCH["command"], "--workload", workload, "--seed", str(seed),
        "--seconds", str(BENCH["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{cmd} exited {proc.returncode}: {proc.stderr[-2000:]}")
    return json.loads(lines[-1]), wall


def report(results: list[dict]) -> dict:
    """metric -> steadiness over the runs of one workload and mode."""
    names = results[0]["metrics"].keys()
    return {
        k: steadiness([r["metrics"][k]["value"] for r in results])
        for k in names
        if all(k in r["metrics"] for r in results)
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", default=",".join(w["name"] for w in BENCH["workloads"]))
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", choices=("0", "1", "both"), default="0")
    p.add_argument("--out")
    args = p.parse_args(argv)
    modes = [0, 1] if args.trace == "both" else [int(args.trace)]
    raw: dict[str, dict[int, list[dict]]] = {}
    for w in args.workloads.split(","):
        raw[w] = {m: [] for m in modes}
        for s in seeds(args.seeds):
            for m in modes:
                r, wall = run_once(w, s, m)
                r["wall_s"] = wall
                raw[w][m].append(r)
                print(f"{w} seed={s} trace={m} correct={r['correct']} "
                      f"attempted={r['attempted']} failed={r['failed']} wall={wall:.1f}s", flush=True)
    summary = {"wall_s": {w: [r["wall_s"] for rs in by.values() for r in rs] for w, by in raw.items()}}
    for w, by_mode in raw.items():
        summary[w] = {str(m): report(rs) for m, rs in by_mode.items()}
        for m, rows in summary[w].items():
            for k, st in rows.items():
                print(f"{w} trace={m} {k}: median={st['median']:.6g} "
                      f"iqr/median={st['iqr_share']:.3f} max/min={st['max_over_min']:.3f}")
        if len(modes) == 2:
            untraced = summary[w]["0"]["latency_p50_ms"]["median"]
            traced = summary[w]["1"]["trace.latency_p50_ms"]["median"]
            summary[w]["trace_overhead"] = traced / untraced - 1
            print(f"{w} tracing overhead on latency_p50_ms: {traced / untraced - 1:+.3f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"summary": summary, "raw": raw}, f, indent=1)
    bad = [r for by in raw.values() for rs in by.values() for r in rs if not r["correct"]]
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
