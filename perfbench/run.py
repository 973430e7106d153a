#!/usr/bin/env python3
"""Layered ETL benchmark of the graft engine.

Usage (from the repo root):
    python3 perfbench/run.py --workload NAME [--seed N] [--seconds S] [--trace 0|1]

Builds the engine and the harness from source (once per source state),
runs one workload in one JVM, checks every key's rows against the DuckDB
oracle, prints a readable report and, as the last line, one JSON object
with `correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports
the end-to-end metrics, `--trace 1` the per-layer ones. See
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import layers
import oracle

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
# The sf0.1 fixtures, where TESTDATA.md (and graft.Bench) expect them.
DATA = os.environ.get("PERFBENCH_DATA", "/root/testdata/sf0.1")
JVM_TIMEOUT_S = 170

# name -> whether results are written as the load step (perfbench/README.md)
WORKLOADS = {"kernels": False, "etl-load": True}
# Seconds one warm pass of each manifest takes on a 4-core box; a run
# makes --seconds / PASS_S timed passes, at least MIN_PASSES, and reports
# medians over them (perfbench/README.md, "Steadiness").
PASS_S = {"kernels": 1.0, "etl-load": 4.0}
MIN_PASSES = 4
# Untimed passes after the set-ups, a fixed amount of work so that every
# run's timed passes see the JIT equally far along. etl-load's three
# set-ups already make about 25 s of passes.
WARM_PASSES = {"kernels": 8, "etl-load": 0}
# Sessions started per run, each with one warm pass; setup_s is their
# median. Each fresh session pays the build-once staging again.
SETUPS = 3

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (the engine's build.sbt passes the same set).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def check_layout():
    """The benchmark builds the engine from the checkout it runs in."""
    for need in ("build.sbt", "src/main/scala", "perfbench/harness/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"run from the repo root: {need} not found under {ROOT}")
    if not os.path.exists(os.path.join(DATA, "lineitem.parquet")):
        die(f"fixtures not found at {DATA} (set PERFBENCH_DATA)")


def source_stamp():
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/harness/build.sbt",
             "perfbench/harness/project/build.properties",
             "perfbench/harness/src"]
    for r in roots:
        p = os.path.join(ROOT, r)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt (offline) when the sources
    changed; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp and all(
                os.path.exists(e) for e in cached["classpath"].split(":")):
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
             "export harness/Runtime/fullClasspath"],
            cwd=os.path.join(ROOT, "perfbench", "harness"), env=env,
            stdout=subprocess.PIPE, stderr=fh, text=True, timeout=840)
    with open(log, "a") as fh:
        fh.write(r.stdout)
    cp = [l for l in r.stdout.splitlines() if l.startswith("/") and ":" in l]
    if r.returncode != 0 or not cp:
        die(f"build failed, see {log}", 1)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp[-1]}, f)
    return cp[-1]


def manifest(name):
    path = os.path.join(BENCH, "workloads", f"{name}.txt")
    with open(path) as f:
        return [l.strip() for l in f if l.strip() and not l.startswith("#")]


def run_jvm(classpath, run_dir, harness_args, heap="4g"):
    """Runs the harness JVM to completion; returns its peak RSS in MB."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap and young generation and a fixed marking threshold
    # keep G1's adaptive sizing from moving the peak RSS (by up to a
    # third) and the collection count between identical runs.
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xmn512m",
            "-XX:-G1UseAdaptiveIHOP", "-XX:InitiatingHeapOccupancyPercent=30",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.bench.Harness"] + harness_args)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                             cwd=run_dir, start_new_session=True)
        deadline = time.time() + JVM_TIMEOUT_S
        while True:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                os.killpg(p.pid, signal.SIGKILL)
                os.wait4(p.pid, 0)
                die(f"harness timed out after {JVM_TIMEOUT_S} s, see {log}", 1)
            time.sleep(0.05)
    p.returncode = os.waitstatus_to_exitcode(status)
    if p.returncode != 0:
        with open(log) as fh:
            tail = fh.read()[-3000:]
        die(f"harness exited with {p.returncode}:\n{tail}", 1)
    return usage.ru_maxrss / 1024.0


def cleanup_staging(result):
    """The engine stages build-once layouts under a fixed /tmp root and
    removes them at JVM exit; make sure nothing of this run is left."""
    for app in result["app_ids"]:
        shutil.rmtree(os.path.join(result["staging_root"], app),
                      ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keys", help="comma-separated keys replacing the "
                    "workload's manifest (local iteration and tests)")
    ap.add_argument("--cpus", type=int, default=os.cpu_count(),
                    help="local[N] task slots (the doc's local[1] baseline)")
    ap.add_argument("--inject-throw", help="key whose build function throws")
    ap.add_argument("--inject-wrong", help="key whose rows are right in the "
                    "first set-up and wrong (same row count) afterwards")
    a = ap.parse_args()
    check_layout()
    classpath = build()

    sink = WORKLOADS[a.workload]
    keys = a.keys.split(",") if a.keys else manifest(a.workload)
    passes = max(MIN_PASSES, round(a.seconds / PASS_S[a.workload]))
    if a.trace:
        # A traced run alternates untraced and traced passes, one pair
        # per count: as many passes as an untraced run makes.
        passes = (passes + 1) // 2
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    keys_file = os.path.join(run_dir, "keys.txt")
    with open(keys_file, "w") as f:
        f.write("\n".join(keys) + "\n")
    hargs = ["--keys", keys_file, "--data", DATA, "--out", run_dir,
             "--seed", str(a.seed), "--passes", str(passes),
             "--setups", str(SETUPS), "--warm-passes", str(WARM_PASSES[a.workload]),
             "--trace", str(a.trace),
             "--sink", "1" if sink else "0",
             "--cpus", str(a.cpus)]
    for flag in ("inject_throw", "inject_wrong"):
        if getattr(a, flag):
            hargs += ["--" + flag.replace("_", "-"), getattr(a, flag)]
    peak_rss_mb = run_jvm(classpath, run_dir, hargs)
    with open(os.path.join(run_dir, "result.json")) as f:
        result = json.load(f)
    cleanup_staging(result)

    out_dir = "sink" if sink else "check"
    wrong, rows = oracle.check(DATA, result["oracle"], keys,
                               {k: os.path.join(run_dir, out_dir, k) for k in keys})
    # The timed passes must return the rows the oracle saw.
    for p in result["passes"]:
        for r in p["keys"]:
            k = r["key"]
            if r["ok"] and "rows" in r and k in rows and r["rows"] != rows[k]:
                wrong.setdefault(k, f"a timed pass returned {r['rows']} rows, "
                                    f"the checked output has {rows[k]}")
    spans = layers.load_spans(run_dir) if a.trace else []
    report = layers.summarize(result, wrong, peak_rss_mb, spans, a.trace,
                              a.workload, sink)
    for line in report["lines"]:
        print(line)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": report["correct"],
                      "attempted": report["attempted"],
                      "failed": report["failed"],
                      "metrics": report["metrics"]}))


if __name__ == "__main__":
    main()
