#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its result.

Usage (from the root of a source checkout):
  python3 graftbench/run.py --workload archive|stream|board --seed N \
      --seconds S --trace 0|1

Builds graft together with the harness on first use (sbt, offline), then
runs the workload in one JVM at local[N], N = the cores this process may
use, with a fixed heap. The last line of stdout is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). The line before it names the workload's own metrics
(README.md). Everything the run writes stays under .bench_build/ in the
checkout.
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
REPO = os.path.dirname(BENCH)
BUILD = os.path.join(REPO, ".bench_build")
HEAP = "3g"
# The board's fixed tables, a copy of graft's sf0.01 test data.
BOARD_DATA = os.path.join(BENCH, "data", "sf0.01")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = []
    for top in (os.path.join(REPO, "src", "main"), os.path.join(BENCH, "src")):
        for root, _, names in os.walk(top):
            files += [os.path.join(root, n) for n in names]
    files += [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness once per source state; returns the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"], BENCH, env, out, BUILD_TIMEOUT_S)
    if r != 0:
        fail(f"build failed (exit {r}); see {log}")
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cps = [ln for ln in lines if not ln.startswith("[") and os.pathsep in ln
           and os.path.exists(ln.split(os.pathsep)[0])]
    if not cps:
        fail(f"build printed no classpath; see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def run_proc(cmd, cwd, env, out, timeout):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def oracle_check(data, out, timeout):
    """Compare each board query's first-pass output with its DuckDB oracle
    with graft's scripts/check_oracle.py. Returns the failures, one per
    query that is not OK."""
    cmd = [sys.executable, os.path.join(REPO, "scripts", "check_oracle.py"), data, out]
    try:
        r = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        return ["board oracle: check_oracle.py timed out"]
    lines = [ln.strip() for ln in r.stdout.splitlines() if ln.strip()]
    failures = [f"board oracle: {ln}" for ln in lines
                if not ln.startswith("OK ") and not re.fullmatch(r"\d+ ok, \d+ failed", ln)]
    if r.returncode != 0 and not failures:
        failures.append(f"board oracle: check_oracle.py exited {r.returncode}: {r.stderr.strip()[-300:]}")
    return failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["archive", "stream", "board"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_file = os.path.join(REPO, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        fail(f"graft's sources are not at {REPO}/src/main/scala; run from a source checkout")
    if not os.path.exists(spec_file):
        fail(f"{spec_file} is missing")
    with open(spec_file) as f:
        spec = json.load(f)
    os.makedirs(BUILD, exist_ok=True)
    cp = build()

    t0 = time.time()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_dir = os.path.join(BUILD, "out")
    os.makedirs(out_dir, exist_ok=True)
    result_file = os.path.join(work, "result.json")
    spans_file = os.path.join(out_dir, f"spans-{a.workload}-{a.seed}.jsonl")
    cores = len(os.sched_getaffinity(0))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # no hsperfdata file under the system temp dir: a run writes only in the checkout
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "graftbench.Main", a.workload, str(a.seed), str(a.seconds), str(a.trace),
            str(cores), work, result_file, spans_file, BOARD_DATA]
    log = os.path.join(out_dir, f"jvm-{a.workload}-{a.seed}-{a.trace}.log")
    with open(log, "w") as out:
        r = run_proc(cmd, REPO, dict(os.environ), out, RUN_TIMEOUT_S - (time.time() - t0))
    if r != 0 or not os.path.exists(result_file):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"the {a.workload} run failed (exit {r}); see {log}")
    with open(result_file) as f:
        res = json.load(f)

    failures = list(res["failures"])
    failed = res["failed"]
    if a.workload == "board":
        oracle_failures = oracle_check(BOARD_DATA, os.path.join(work, "out"),
                                       max(5.0, RUN_TIMEOUT_S + 5 - (time.time() - t0)))
        failures += oracle_failures
        failed += len(oracle_failures)
    setup_s = res["first_timed_ms"] / 1000.0 - t0

    if a.trace:
        got = res["per_layer"]
        metrics = {m["name"]: got.get(m["name"], {"value": 0.0, "unit": m["unit"]})
                   for m in spec["per_layer"]}
    else:
        got = dict(res["end_to_end"], setup_s={"value": setup_s, "unit": "s"})
        metrics = {m["name"]: got[m["name"]] for m in spec["end_to_end"]}
    named = dict(setup_s={"value": setup_s, "unit": "s"}, **res["named"])
    inputs = res["inputs"]
    # where set-up time went: launch to JVM start, JVM start to a ready
    # Spark session, then input generation and warm-up up to the first op
    jvm, ready = inputs.pop("jvm_start_ms") / 1000.0, inputs.pop("session_ready_ms") / 1000.0
    inputs["setup_split_s"] = {"launch": round(jvm - t0, 3), "session": round(ready - jvm, 3),
                               "inputs_and_warmup": round(res["first_timed_ms"] / 1000.0 - ready, 3)}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "cores": cores, "heap": HEAP,
                      "inputs": inputs, "metrics": named, "failures": failures,
                      "samples_s": res["samples_s"],
                      "spans": res["spans_file"]}))
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
