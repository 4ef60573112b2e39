#!/usr/bin/env python3
"""graft benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the harness
together with the engine sources (sbt, offline); later runs reuse the build
while the sources are unchanged. Inputs are generated from --seed into a
fresh directory under perfbench/.run/, every file the run writes stays
there, and the directory is removed at the end.

The last line of stdout is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json when --trace 0, and every
per-layer metric when --trace 1. The line before it carries the workload's
own named metrics, tail percentiles, sample counts and the environment.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")
WORKLOADS = ("serve_dashboard", "search_incremental")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
# a run must end within 180 s
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    for base in (ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME")
    return os.path.join(home, "jars")


def build():
    digest = source_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    r = subprocess.run(["sbt", f"-Dperfbench.sparkJars={spark_jars()}", "-batch", "compile"],
                       cwd=HERE, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=850)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(digest)


def git_revision():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return hashlib.sha256(source_digest().encode()).hexdigest()[:16] + "-src"


def run_jvm(args, run_dir, data_dir):
    work = os.path.join(run_dir, "work")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(work)
    os.makedirs(tmp)
    out = os.path.join(run_dir, "result.json")
    trace_dir = os.path.join(HERE, "out")
    os.makedirs(trace_dir, exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms4g", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{CLASSES}{os.pathsep}{jars}", "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data_dir, "--work", work, "--out", out,
        "--trace-out", os.path.join(trace_dir, f"trace_{args.workload}.jsonl")]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("harness timed out")
    if p.returncode != 0 or not os.path.exists(out):
        with open(log) as lf:
            print(lf.read()[-4000:], file=sys.stderr)
        raise RuntimeError(f"harness exited with {p.returncode}")
    with open(out) as f:
        return json.load(f)


# Every workload reports the same end-to-end metrics, each on its own unit of
# work: the mean latency of its interactive operation at one client, and the
# rate of its throughput operation (see perfbench/README.md).
OPS = {
    "serve_dashboard": ("serve_solo_mean_ms", "serve_conc_qps"),
    "search_incremental": ("search_mean_ms", "append_docs_per_s"),
}


def contract_metrics(workload, res):
    with open(BENCHMARK) as f:
        bench = json.load(f)
    if res["trace"]:
        return {m["name"]: res["per_layer"][m["name"]] for m in bench["per_layer"]}
    e2e = res["end_to_end"]
    mean, rate = OPS[workload]
    named = {"setup_s": e2e["setup_s"], "op_mean_ms": e2e[mean],
             "ops_per_s": {"value": e2e[rate]["value"], "unit": "1/s"}}
    return {m["name"]: named[m["name"]] for m in bench["end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC) or not os.path.isfile(BENCHMARK):
        fail("engine sources or BENCHMARK.json not found: run from the root of a graft checkout")
    build()

    run_dir = os.path.join(HERE, ".run", f"{args.workload}-{args.seed}-{os.getpid()}")
    data_dir = os.path.join(run_dir, "data")
    os.makedirs(data_dir)
    try:
        gen.write(data_dir, args.seed)
        res = run_jvm(args, run_dir, data_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = contract_metrics(args.workload, res)
    attempted, failed = res["attempted"], res["failed"]
    detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "git_revision": git_revision(),
              "failed_ratio": failed / max(attempted, 1),
              "end_to_end": res["end_to_end"], "per_layer": res["per_layer"],
              "env": res["env"], "notes": res["notes"]}
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
