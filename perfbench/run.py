#!/usr/bin/env python3
"""Benchmark of the graft engine: builds the engine and the benchmark client
from the checkout it runs in, generates the input tables, runs one workload
in one JVM and prints, as its last stdout line, one JSON object with the
keys correct, attempted, failed and metrics.

Run from the root of a checkout:

  python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --workload refresh --selftest     # checker self-test
  python3 perfbench/run.py --workload dashboard --record     # re-record checks

Everything it builds or writes stays under .perfbench/ and the build's own
target/ directories. See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".perfbench")
# "probe" is no benchmark workload: the per-query table pool.py reads
WORKLOADS = ("dashboard", "refresh", "probe")
SCALE = {"dashboard": "0.01", "refresh": "0.01", "probe": "0.01"}
# program knobs: environment settings the engine reads; every measurement
# runs on program defaults, so they are removed from the JVM's environment
KNOB = re.compile(r"^(GRAFT_CF_CAP_MODE|GRAFT_RFM_NTILE_DISTRIBUTED|SPARK_GRAFT_.*)$")
JVM_OPTION_VARS = ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
RUN_TIMEOUT_S = 170
PROBE_TIMEOUT_S = 2400
BUILD_TIMEOUT_S = 850


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        full = os.path.join(ROOT, p)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def clean_env():
    env = dict(os.environ)
    knobs = sorted(k for k in env if KNOB.match(k))
    knobs += [k for k in JVM_OPTION_VARS if k in env]
    for k in knobs:
        del env[k]
    if knobs:
        log("program knobs removed from the environment, run on defaults: "
            + ", ".join(knobs))
    return env


def build(env):
    """Compiles engine + client when their sources changed and returns the
    runtime classpath."""
    sources = ["build.sbt", "project/build.properties", "src/main",
               "perfbench/build.sbt", "perfbench/project/build.properties",
               "perfbench/src"]
    stamp = tree_hash([p for p in sources if os.path.exists(os.path.join(ROOT, p))])
    out = os.path.join(WORK, "build")
    cp_file = os.path.join(out, "classpath")
    if os.path.exists(cp_file) and open(os.path.join(out, "stamp")).read() == stamp:
        return open(cp_file).read()
    os.makedirs(out, exist_ok=True)
    env = dict(env, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and benchmark client (sbt)")
    t0 = time.time()
    sbt_log = os.path.join(out, "sbt.log")
    with open(sbt_log, "w") as lf:
        r = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                       "-Dsbt.server.autostart=false", "compile",
                       "export Runtime/fullClasspath"],
                      BENCH, env, BUILD_TIMEOUT_S, stdout=lf,
                      stderr=subprocess.STDOUT)
    lines = [l for l in open(sbt_log).read().splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (see {os.path.relpath(out, ROOT)}/sbt.log)")
    classpath = lines[-1].strip()
    log(f"built in {time.time() - t0:.1f} s")
    open(cp_file, "w").write(classpath)
    open(os.path.join(out, "stamp"), "w").write(stamp)
    return classpath


def data(scale):
    """Generates the input tables of one scale when missing or stale."""
    stamp = tree_hash(["perfbench/gendata.py"])
    d = os.path.join(WORK, "data", f"sf{scale}")
    sf = os.path.join(d, "stamp")
    if os.path.exists(sf) and open(sf).read() == stamp:
        return
    shutil.rmtree(d, ignore_errors=True)
    r = subprocess.run([sys.executable, os.path.join(BENCH, "gendata.py"), scale, d])
    if r.returncode != 0:
        fail("data generation failed")
    open(sf, "w").write(stamp)


def run_child(cmd, cwd, env, timeout, **kw):
    """Runs a child in its own process group; on timeout the whole group is
    killed and waited for."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, text=True,
                         start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} timed out after {timeout} s")
    return subprocess.CompletedProcess(cmd, p.returncode, out)


def jvm(classpath, env, args, timeout):
    """Runs the benchmark client in a fresh working directory; returns the
    result file's text."""
    run = os.path.join(WORK, "run")
    shutil.rmtree(run, ignore_errors=True)
    tmp = os.path.join(run, "tmp")
    os.makedirs(tmp)
    result = os.path.join(run, "result.txt")
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in env else "java"
    cmd = [java, "-Xmx3g", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--data", os.path.join(WORK, "data"),
            "--work", os.path.join(run, "state"), "--result", result] + args
    r = run_child(cmd, run, env, timeout, stdout=sys.stderr)
    if r.returncode != 0 or not os.path.exists(result):
        fail(f"benchmark client exited with code {r.returncode}")
    return open(result).read()


def expected_file(workload):
    return os.path.join(BENCH, "expected", f"{workload}.tsv")


def record(classpath, env, workload):
    """Records the output checks: three recordings in different orders; an
    operation whose digest differs between them is checked on row count and
    schema only."""
    runs = []
    for seed in (1, 2, 3):
        text = jvm(classpath, env, ["--workload", workload, "--seed", str(seed),
                                    "--expected", "none", "--record"], 600)
        runs.append({l.split("\t")[0]: l.split("\t")[1:]
                     for l in text.splitlines() if l and not l.startswith("#")})
    keys = set(runs[0])
    if any(set(r) != keys for r in runs):
        fail("recordings cover different operation instances")
    lines, unstable = [], set()
    for k in sorted(keys):
        rows, h, schema = runs[0][k]
        if any(r[k][0] != rows or r[k][2] != schema for r in runs):
            fail(f"{k}: row count or schema differs between recordings")
        if any(r[k][1] != h for r in runs):
            h = "*"
            unstable.add(k.split("|")[0])
        lines.append(f"{k}\t{rows}\t{h}\t{schema}")
    os.makedirs(os.path.dirname(expected_file(workload)), exist_ok=True)
    with open(expected_file(workload), "w") as f:
        f.write(f"# {workload}: operation instance, rows, content hash "
                f"(* = not bit-stable, rows and schema only), schema\n")
        f.write("\n".join(lines) + "\n")
    log(f"recorded {len(lines)} checks for {workload}; not bit-stable: "
        + (", ".join(sorted(unstable)) or "none"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    started = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no engine sources here (build.sbt, src/main/scala/graft): "
             "run from the root of a checkout", 2)
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH", 2)
    env = clean_env()
    classpath = build(env)
    data(SCALE[a.workload])
    if a.record:
        record(classpath, env, a.workload)
        return
    args = ["--workload", a.workload, "--expected", expected_file(a.workload)]
    if a.selftest:
        print(jvm(classpath, env, args + ["--selftest"], RUN_TIMEOUT_S), end="")
        return
    # the build may take long on a fresh checkout; the run gets its own budget
    if a.workload == "probe":
        budget = PROBE_TIMEOUT_S
    else:
        budget = RUN_TIMEOUT_S if time.time() - started > 60 else RUN_TIMEOUT_S - (time.time() - started)
    text = jvm(classpath, env, args + ["--seed", str(a.seed), "--seconds",
               str(a.seconds), "--trace", str(a.trace)], budget)
    result = json.loads(text)
    print(result.pop("summary"))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
