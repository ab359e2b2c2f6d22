#!/usr/bin/env python3
"""Measures every query a dashboard round may draw and selects the dashboard
pool from that table.

  python3 perfbench/pool.py --label <commit> --measure   # traced probe run
  python3 perfbench/pool.py --label <commit>             # selection only

--measure runs the `probe` workload (every eligible query: one warm-up pass,
then an untraced, a traced and an untraced pass) and stores its per-query table as
perfbench/records/<label>/queries.json. The selection then considers every
systematic sample of the eligible queries in name order (every k-th name
from offset o) whose summed latency fits a dashboard round, and keeps the
one whose construction share of wall time and multi-action share of wall
time are the closest to those of all eligible queries. A multi-action query
runs more than one SQL execution (eager actions during construction, or
several actions in one call).
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
FIELDS = ("op.latency_ms", "build.ms", "build.jobs", "sql.executions", "sched.jobs")
# summed probe latency of the sampled queries: the dashboard round adds
# EP-1 and EP-4 to them, and a round must fit twice into a 10 s run
ROUND_MS = (1800, 2700)
STRIDES = range(8, 60)


def measure(out):
    r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                        "--workload", "probe", "--seed", "1", "--seconds", "0",
                        "--trace", "1"], cwd=ROOT)
    if r.returncode != 0:
        sys.exit(f"probe run: exit {r.returncode}")
    save_table(out)


def save_table(out):
    """Stores the per-query table of the latest traced probe run."""
    t = json.load(open(os.path.join(ROOT, ".perfbench", "run", "state", "trace.json")))
    table = {n: {k: m[k] for k in FIELDS} for n, m in t["per_operation"].items()}
    with open(out, "w") as f:
        json.dump({"slots": t["slots"], "trace.overhead_frac": t["trace.overhead_frac"],
                   "queries": table}, f, indent=1, sort_keys=True)
        f.write("\n")


def shares(table, names):
    lat = sum(table[n]["op.latency_ms"] for n in names)
    multi = [n for n in names if table[n]["sql.executions"] > 1]
    return {
        "queries": len(names),
        "latency_ms": lat,
        "construction_share": sum(table[n]["build.ms"] for n in names) / lat,
        "multi_action_share": sum(table[n]["op.latency_ms"] for n in multi) / lat,
        "multi_action_queries": len(multi),
        "construction_jobs": sum(table[n]["build.jobs"] for n in names),
        "jobs": sum(table[n]["sched.jobs"] for n in names),
    }


def select(table):
    names = sorted(table)
    ref = shares(table, names)
    best = None
    for k in STRIDES:
        for o in range(k):
            pool = names[o::k]
            s = shares(table, pool)
            if not ROUND_MS[0] <= s["latency_ms"] <= ROUND_MS[1]:
                continue
            dist = (abs(s["construction_share"] - ref["construction_share"]) +
                    abs(s["multi_action_share"] - ref["multi_action_share"]))
            if best is None or dist < best[0] - 1e-12:
                best = (dist, k, o, pool, s)
    return ref, best


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--label", required=True)
    ap.add_argument("--measure", action="store_true")
    a = ap.parse_args()
    path = os.path.join(BENCH, "records", a.label, "queries.json")
    if a.measure:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        measure(path)
    table = json.load(open(path))["queries"]
    ref, (dist, k, o, pool, s) = select(table)
    fmt = lambda d: " ".join(f"{key}={v:.3f}" if isinstance(v, float) else f"{key}={v}"
                             for key, v in d.items())
    print(f"all eligible: {fmt(ref)}")
    print(f"pool (every {k}th name from offset {o}, distance {dist:.3f}): {fmt(s)}")
    for n in pool:
        m = table[n]
        print(f"  {n:36} {m['op.latency_ms']:7.0f} ms  build {m['build.ms']:6.0f} ms  "
              f"build jobs {m['build.jobs']:3.0f}  sql ex {m['sql.executions']:3.0f}  "
              f"jobs {m['sched.jobs']:3.0f}")


if __name__ == "__main__":
    main()
