#!/usr/bin/env python3
"""The benchmark's own test: every workload at tiny size, untraced and
traced, must be correct and print exactly the metrics BENCHMARK.json names.

    python3 perfbench/test_smoke.py        # about 3.5 minutes at 4 cores
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# BENCHMARK.json's workloads, plus the by-hand ones
WORKLOADS = ["offline_pit", "ingest", "registry_cold", "serve"]


def run(workload, trace):
    results = os.path.join(ROOT, ".bench_out", "smoke-results.jsonl")
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke",
         "--results", results],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(f"{workload} exited {r.returncode}:\n{r.stderr[-3000:]}")
    return r.stdout.strip().splitlines()


class Smoke(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def test_listed_workloads_exist(self):
        names = [w["name"] for w in self.bench["workloads"]]
        self.assertLessEqual(set(names), set(WORKLOADS))

    def check(self, workload, trace):
        lines = run(workload, trace)
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], "\n".join(lines[:-1]))
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        kind = "per_layer" if trace else "end_to_end"
        want = {m["name"]: m["unit"] for m in self.bench[kind]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for k, v in result["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)
        if not trace:
            for k, v in result["metrics"].items():
                self.assertGreater(v["value"], 0, k)
        # the run's own report carries the same figures, JSON-clean
        report = [l for l in lines if l.startswith("report: ")][-1][8:]
        with open(os.path.join(ROOT, report)) as f:
            rep = json.load(f)
        self.assertEqual(rep["workload"], workload)
        if trace:
            self.assertTrue(os.path.isfile(rep["spans"]))
            with open(rep["spans"]) as f:
                first = json.loads(f.readline())
            self.assertLessEqual({"run", "id", "parent", "layer", "name",
                                  "start_us", "end_us"}, set(first))


for _w in WORKLOADS:
    for _t in (0, 1):
        setattr(Smoke, f"test_{_w}_trace{_t}",
                lambda self, w=_w, t=_t: self.check(w, t))


if __name__ == "__main__":
    unittest.main(verbosity=2)
