#!/usr/bin/env python3
"""Run a set of benchmark runs and summarise them.

    python3 perfbench/runset.py --workloads cdc_apply,query_suite \
        --seeds 1-10 [--trace 0|1] [--out perfbench/work/runset.json]

Runs `run.py` once per (workload, seed), in that order, from the checkout
root, then prints for every metric its median, quartiles and spread (the
distance between the quartiles as a share of the median, as
`statistics.quantiles(values, n=4)` gives them). Each run set also records
the box: nproc, the JVM heap, the Spark version, and a `graft.Bench.cpuControl`
reading (single-thread seconds and thread-scaling efficiency), since a shared
box's speed drifts between boots. The latency samples of all runs (trickle
epochs, lookups) are pooled for the tail percentile with at least ten
samples beyond it.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def summary(values):
    vals = sorted(values)
    med = statistics.median(vals)
    q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0,
            "n": len(vals)}


def cpu_control():
    with open(run.STAMP) as fh:
        cp = json.load(fh)["classpath"]
    out = subprocess.run(["java", "-cp", cp, "perfbench.Main", "--cpu-control", "4"],
                         capture_output=True, text=True, check=True).stdout.split()
    return {"control_cpu_sec": float(out[-2]), "control_eff": float(out[-1])}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(run.WORKLOADS))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out", default=os.path.join(run.WORK, "runset.json"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    secs = a.seconds or spec["run_seconds"]
    results = []
    for w in a.workloads.split(","):
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(secs), "--trace", str(a.trace)],
                               cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            rec = {"workload": w, "seed": s, "exit": p.returncode, "wall_s": time.time() - t0}
            if p.returncode == 0 and len(lines) >= 2:
                rec["detail"] = json.loads(lines[-2])
                rec["result"] = json.loads(lines[-1])
            else:
                rec["stderr_tail"] = p.stderr[-2000:]
            rec["marks"] = [ln for ln in p.stderr.splitlines() if ln.startswith("[perfbench]")]
            results.append(rec)
            r = rec.get("result", {})
            print(f"{w} seed={s} exit={p.returncode} wall={rec['wall_s']:.0f}s "
                  f"correct={r.get('correct')} failed={r.get('failed')}", file=sys.stderr, flush=True)

    box = {"nproc": os.cpu_count(), **cpu_control()}
    report = {"box": box, "seconds": secs, "trace": a.trace, "runs": results, "summary": {}}
    for w in a.workloads.split(","):
        runs = [r for r in results if r["workload"] == w and "result" in r]
        if not runs:
            continue
        d0 = runs[0]["detail"]
        box.update({"spark_version": d0["spark_version"],
                    "heap_max_mb": d0["detail"].get("box.heap_max_mb", {}).get("value")})
        metrics = {}
        for name in runs[0]["result"]["metrics"]:
            metrics[name] = summary([r["result"]["metrics"][name]["value"] for r in runs])
        for name in d0["detail"]:
            vals = [r["detail"]["detail"][name]["value"] for r in runs if name in r["detail"]["detail"]]
            if not name.startswith("box."):
                metrics["detail." + name] = summary(vals)
        for name in d0["samples"]:
            pooled = [x for r in runs for x in r["detail"]["samples"].get(name, [])]
            p, v = run.tail(pooled)
            metrics["pooled." + name] = {"p50": statistics.median(pooled), "tail_percentile": p,
                                         "tail": v, "n": len(pooled)}
        report["summary"][w] = {"runs": len(runs), "all_correct": all(r["result"]["correct"] for r in runs),
                                "wall_s": summary([r["wall_s"] for r in runs]), "metrics": metrics}
    with open(a.out, "w") as fh:
        json.dump(report, fh, indent=1)
    for w, s in report["summary"].items():
        print(f"== {w}: {s['runs']} runs, all correct: {s['all_correct']}, "
              f"wall median {s['wall_s']['median']:.1f} s")
        for name, m in s["metrics"].items():
            if "spread" in m:
                print(f"  {name:48s} median {m['median']:12.4f}  q1 {m['q1']:12.4f}  "
                      f"q3 {m['q3']:12.4f}  spread {m['spread']:.3f}")
            else:
                print(f"  {name:48s} {m}")
    print("box:", json.dumps(box))


if __name__ == "__main__":
    main()
