#!/usr/bin/env python3
"""Benchmark front end.

    python3 perfbench/run.py --workload cdc_apply|query_suite \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine together with the
benchmark's Scala code (perfbench/build.sbt; rebuilt only when a source changes),
runs one workload in one JVM, checks query results against their DuckDB
oracle SQL, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer ones.

The query tables are read from ~/testdata (see TESTDATA.md).
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

import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
STAMP = os.path.join(HERE, "target", "perfbench-build.json")
DEADLINE_S = 175
# the query tables (see TESTDATA.md): sf0.1 is timed, sf0.01 is the warm-up
# whose results are checked against the oracle
TESTDATA = os.path.join(os.path.expanduser("~"), "testdata")
WORKLOADS = ("cdc_apply", "query_suite")
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if any source changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BenchError("engine sources (src/main/scala) not found next to perfbench/")
    digest = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("hash") == digest:
            return stamp["classpath"]
    flags = ["-Dsbt.log.noformat=true", "-Dsbt.offline=true", "-Dsbt.override.build.repos=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        flags.append(f"-Dsbt.repository.config={repos}")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", *flags, "compile", "export Runtime/fullClasspath"]
    log("building: " + " ".join(cmd))
    t0 = time.time()
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True, text=True,
                           timeout=840, start_new_session=True)
    except subprocess.TimeoutExpired:
        raise BenchError("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-6000:] + p.stderr[-3000:])
        raise BenchError(f"build failed with exit code {p.returncode}")
    lines = [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[")]
    if not lines:
        raise BenchError("build printed no classpath")
    classpath = lines[-1].strip()
    with open(STAMP, "w") as fh:
        json.dump({"hash": digest, "classpath": classpath}, fh)
    log(f"built in {time.time() - t0:.1f} s")
    return classpath


def tail(values, beyond=10):
    """(percentile, value): the highest whole percentile that leaves at least
    `beyond` samples above it, linearly interpolated. With `beyond` samples or
    fewer there is no such percentile: the maximum, as p100."""
    n = len(values)
    if n <= beyond:
        return 100, max(values) if values else 0.0
    p = (100 * (n - beyond)) // n
    s = sorted(values)
    pos = p / 100 * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return p, s[lo] + (s[hi] - s[lo]) * (pos - lo)


def run_jvm(classpath, args, deadline):
    # a fixed heap: one that grows from a small start makes each run's GC
    # work, and so its timings, differ (the memory figure is the live heap,
    # measured after a full collection, which does not depend on it)
    cmd = ["java", *[x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main", *args]
    # the JVM's own output goes to stderr: the result line must stay last on stdout
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code is None:
        raise BenchError("workload timed out")
    if code != 0:
        raise BenchError(f"workload JVM exited with code {code}")


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    classpath = build()
    # the first run in a checkout builds; its workload deadline starts after
    deadline = max(t_start + DEADLINE_S, time.time() + DEADLINE_S - 60)

    sf_dir = os.path.join(TESTDATA, "sf0.1")
    warm_dir = os.path.join(TESTDATA, "sf0.01")
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "report.json")
    run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--work", run_dir, "--out", out,
                        "--sf-dir", sf_dir, "--warm-dir", warm_dir], deadline)
    with open(out) as fh:
        rep = json.load(fh)

    checks = list(rep["checks"])
    attempted, failed = rep["attempted"], rep["failed"]
    if a.workload == "query_suite":
        for name, ok, info in oracle.check_all(rep["query_outputs"], rep["oracle_sql"],
                                               warm_dir, os.path.join(WORK, "oracle-cache")):
            attempted += 1
            failed += 0 if ok else 1
            checks.append({"name": f"oracle {name}", "ok": ok, "info": info})
            if not ok:
                log(f"check oracle {name}: MISMATCH {info}")

    if a.trace:
        source, names = rep["layers"], [m["name"] for m in spec["per_layer"]]
        metrics = {n: source[n] for n in names if n in source}
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {n: {"value": rep["e2e"][n], "unit": u}
                   for n, u in units.items() if n in rep["e2e"]}
        names = list(units)
    absent = [n for n in names if n not in metrics]
    if absent:
        log(f"metrics not produced: {absent}")
    if a.trace and set(rep["layers"]) - set(names):
        raise BenchError("per-layer metrics missing from BENCHMARK.json: "
                         f"{sorted(set(rep['layers']) - set(names))}")

    detail, samples = rep["detail"], rep["samples"]
    detail["ops_failed_share"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    for name, unit in (("trickle.epoch_latency", "s"), ("trickle.lookup", "ms")):
        xs = samples.get(f"{name}_{unit}", [])
        if xs:
            p, v = tail(xs)
            detail[f"{name}_tail_{unit}"] = {"value": v, "unit": unit}
            detail[f"{name}_tail_percentile"] = {"value": p, "unit": "percentile"}

    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "spark_version": rep["spark_version"], "detail": detail,
                      "samples": samples,
                      "checks_failed": [c for c in checks if not c["ok"]],
                      "checks_passed": len([c for c in checks if c["ok"]])}))
    trace = os.path.join(run_dir, "trace.jsonl")
    if os.path.exists(trace):
        shutil.move(trace, os.path.join(WORK, f"trace-{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and not absent, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
