#!/usr/bin/env python3
"""The benchmark's own test.

    python3 perfbench/test_contract.py        (from the checkout root)

Checks that BENCHMARK.json is well formed, that the command prints every
end-to-end metric (untraced) and every per-layer metric (traced) for every
workload, each with its unit, plus the workload's own named metrics on the
detail line, and that the command fails without a result when the engine
sources are missing. Runs each workload twice at seed 1; takes a few minutes.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# the metrics each workload reports under its own names (detail line)
NAMED = {
    "serve_dashboard": ["serve_solo_p50_ms", "serve_solo_tail_ms", "serve_conc_qps",
                        "serve_conc_p50_ms", "serve_conc_tail_ms", "setup_s", "rss_peak_mb"],
    "search_incremental": ["append_docs_per_s", "search_p50_ms", "search_tail_ms",
                           "store_bytes_per_input_byte", "setup_s", "rss_peak_mb"],
}
LAYERS = {
    "serve_dashboard": ["server.self_ms", "server.queue_ms", "server.resp_bytes",
                        "server.health_ms", "server.spark_jobs_per_req",
                        "promql.parse_us", "promql.eval_ms"],
    "search_incremental": ["llm.append_batch_s", "llm.search_plan_ms", "llm.search_exec_ms",
                           "sources.bytes_written", "sources.files_written",
                           "sources.parquet_files"],
}


def load_bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, trace, cwd=ROOT):
    bench = load_bench()
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", str(bench["run_seconds"]), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=900)


class BenchmarkFile(unittest.TestCase):
    def test_shape(self):
        b = load_bench()
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + \
            [w["name"] for w in b["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertRegex(m["unit"], UNIT)
            self.assertLessEqual(m["bound"], 0.25)
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertRegex(m["unit"], UNIT)
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in b["end_to_end"]))


class Emits(unittest.TestCase):
    def check(self, workload, trace):
        b = load_bench()
        r = run(workload, trace)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        lines = r.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        want = b["per_layer"] if trace else b["end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in want})
        for m in want:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        detail = json.loads(lines[-2])["detail"]
        for k in ("nproc", "heap_max_mb", "spark_master"):
            self.assertIn(k, detail["env"])
        self.assertIn("git_revision", detail)
        named = detail["per_layer"] if trace else detail["end_to_end"]
        for n in (LAYERS if trace else NAMED)[workload]:
            self.assertIn(n, named)
            self.assertIn("unit", named[n])

    def test_serve_dashboard(self):
        self.check("serve_dashboard", 0)

    def test_serve_dashboard_traced(self):
        self.check("serve_dashboard", 1)

    def test_search_incremental(self):
        self.check("search_incremental", 0)

    def test_search_incremental_traced(self):
        self.check("search_incremental", 1)


class Standalone(unittest.TestCase):
    def test_fails_without_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", ".run", "out", "__pycache__"))
            r = run(load_bench()["workloads"][0]["name"], 0, cwd=d)
            self.assertNotEqual(r.returncode, 0)
            self.assertFalse(r.stdout.strip())


if __name__ == "__main__":
    unittest.main()
