#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/sweep.py --out <file.json> [--workloads a,b] [--seeds 1-10] [--trace 0|1]

Runs `perfbench/run.py` once per (workload, seed) from the checkout root,
keeps every result line, and writes per metric the median, the quartiles
(`statistics.quantiles(values, n=4)`) and the spread: the distance between
the quartiles as a share of the median. Workloads default to those in
BENCHMARK.json, run_seconds comes from it too.
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


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def summary(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "n": len(values)}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    report = {"run_seconds": bench["run_seconds"], "trace": args.trace, "workloads": {}}
    details = []
    for w in args.workloads.split(","):
        runs = []
        for s in seeds(args.seeds):
            t0 = time.time()
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                                "--trace", str(args.trace)],
                               cwd=ROOT, capture_output=True, text=True)
            lines = r.stdout.strip().splitlines()
            run = {"seed": s, "exit": r.returncode, "wall_s": round(time.time() - t0, 1)}
            if r.returncode == 0 and len(lines) >= 2:
                run["result"] = json.loads(lines[-1])
                run["detail"] = json.loads(lines[-2])["detail"]
            else:
                run["stderr_tail"] = r.stderr[-2000:]
            runs.append(run)
            print(f"{w} seed {s}: exit {r.returncode}, {run['wall_s']} s", file=sys.stderr)
        ok = [r for r in runs if "result" in r]
        details += [r["detail"] for r in ok]
        names = sorted({m for r in ok for m in r["result"]["metrics"]})
        report["workloads"][w] = {
            "runs": runs,
            "all_correct": len(ok) == len(runs) and all(r["result"]["correct"] for r in ok),
            "summary": {m: summary([r["result"]["metrics"][m]["value"] for r in ok]) for m in names},
        }
    if details:
        report["env"] = details[-1]["env"]
        report["git_revision"] = details[-1]["git_revision"]
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
