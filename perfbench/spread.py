#!/usr/bin/env python3
"""Runs the benchmark over several seeds and reports, per end-to-end metric,
the median and the quartile spread (Q3 - Q1) / median, as
statistics.quantiles(values, n=4) gives the quartiles.

  python3 perfbench/spread.py --workload dashboard --seeds 1-10 [--trace 0]

Each run's JSON line, with the run's wall time, is appended to
.perfbench/spread.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    values = {}
    log = open(os.path.join(ROOT, ".perfbench", "spread.jsonl"), "a")
    for s in seeds(a.seeds):
        t0 = time.time()
        out = subprocess.run(bench["command"] + [
            "--workload", a.workload, "--seed", str(s),
            "--seconds", str(bench["run_seconds"]), "--trace", a.trace],
            cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {s}: exit {out.returncode}\n{out.stderr[-2000:]}")
        r = json.loads(out.stdout.strip().splitlines()[-1])
        wall = time.time() - t0
        log.write(json.dumps({"workload": a.workload, "seed": s, "wall_s": wall, **r}) + "\n")
        log.flush()
        print(f"seed {s}: wall={wall:.1f}s correct={r['correct']} failed={r['failed']}/{r['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
              flush=True)
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med,) * 3
        spread = f"{(q3 - q1) / med:.4f}" if med else "n/a"
        print(f"{a.workload} {k}: median {med:.6g}  spread {spread}  n={len(vs)}")


if __name__ == "__main__":
    main()
