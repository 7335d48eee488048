#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload once on the sf0.001 tables.

    python3 perfbench/smoke_test.py

Each run is traced, so it prints both metric sets. The test asserts that
every end-to-end and per-layer metric is named with its unit, that each
workload states why it was chosen, that the output checks passed, that no
timed op rebuilt an index and that the workloads BENCHMARK.json lists
report a number for every metric it gates; and that BENCHMARK.json only
lists workloads and metrics the benchmark defines, with the same units.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import run  # noqa: E402


def run_once(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", "1", "--scale", "sf0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=1200)
    return proc


class SmokeTest(unittest.TestCase):
    def test_benchmark_json_matches_the_benchmark(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        for w in spec["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)
        for m in spec["end_to_end"]:
            self.assertEqual(run.END_TO_END[m["name"]], m["unit"], m["name"])
        for m in spec["per_layer"]:
            self.assertEqual(run.PER_LAYER[m["name"]], m["unit"], m["name"])

    def test_each_workload_once(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            gated = {w["name"] for w in json.load(f)["workloads"]}
        for workload in run.WORKLOADS:
            with self.subTest(workload=workload):
                proc = run_once(workload)
                self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
                lines = proc.stdout.strip().splitlines()
                self.assertTrue(any(ln.startswith("[perfbench] why: ") and len(ln) > 30
                                    for ln in lines), "workload states no reason")
                details = {}
                for ln in lines:
                    if ln.startswith("{"):
                        d = json.loads(ln)
                        if "detail" in d:
                            details[d["detail"]] = d["metrics"]
                for name, unit in run.END_TO_END.items():
                    self.assertEqual(details["end_to_end"][name]["unit"], unit, name)
                for name, unit in run.PER_LAYER.items():
                    self.assertEqual(details["per_layer"][name]["unit"], unit, name)
                final = json.loads(lines[-1])
                self.assertEqual(set(final), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(final["correct"])
                self.assertGreaterEqual(final["attempted"], 1)
                self.assertEqual(details["per_layer"]["sources.index_builds_timed"]["value"], 0)
                if workload in gated:
                    for name, m in final["metrics"].items():
                        self.assertIsInstance(m["value"], (int, float), name)


if __name__ == "__main__":
    unittest.main()
