#!/usr/bin/env python3
"""Runs the traced benchmark on every workload and stores the per-layer
tables as one record entry:

  python3 perfbench/layers.py --label <commit> [--seed 1]

writes perfbench/records/<label>/<workload>.json (the workload's per-layer
means, the per-operation-name table, the tracing overhead and the blocks
still held at run end with the operation that left them) and prints a
summary table per workload.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
KEEP = ("workload", "seed", "slots", "rounds", "wall_s", "trace.overhead_frac",
        "layers", "per_operation", "retained_blocks", "failures")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--label", required=True)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    out_dir = os.path.join(BENCH, "records", a.label)
    os.makedirs(out_dir, exist_ok=True)
    for w in [x["name"] for x in bench["workloads"]]:
        r = subprocess.run(bench["command"] + [
            "--workload", w, "--seed", str(a.seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "1"], cwd=ROOT)
        if r.returncode != 0:
            sys.exit(f"{w}: exit {r.returncode}")
        t = json.load(open(os.path.join(ROOT, ".perfbench", "run", "state", "trace.json")))
        rec = {k: t[k] for k in KEEP}
        with open(os.path.join(out_dir, f"{w}.json"), "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"\n{w}: trace.overhead_frac={t['trace.overhead_frac']:.4f}")
        print(f"{'operation':34} {'ops':>3} {'lat ms':>8} {'build ms':>8} "
              f"{'b.jobs':>6} {'sql ex':>6} {'jobs':>5} {'cat ms':>6} {'idle ms':>7} {'busy':>5}")
        for name, m in t["per_operation"].items():
            cat = sum(m.get(f"catalyst.{p}_ms", 0) for p in ("analysis", "optimization", "planning"))
            print(f"{name:34} {m['ops']:3.0f} {m['op.latency_ms']:8.0f} {m['build.ms']:8.0f} "
                  f"{m['build.jobs']:6.1f} {m['sql.executions']:6.1f} {m['sched.jobs']:5.1f} "
                  f"{cat:6.0f} {m['sched.driver_idle_ms']:7.0f} {m['exec.busy_core_frac']:5.2f}")


if __name__ == "__main__":
    main()
