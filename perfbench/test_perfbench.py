#!/usr/bin/env python3
"""The benchmark's own tests, on tiny inputs.

    python3 perfbench/test_perfbench.py        (from the root of a checkout)

- BENCHMARK.json keeps to the benchmark contract.
- Each workload, run small and traced, passes its checks and prints every
  end-to-end metric (on a human line) and every per-layer metric (in the
  result line) with the unit BENCHMARK.json gives it.
- With every expectation deliberately corrupted, each workload's checks fail.
- In a directory that holds only BENCHMARK.json and the benchmark, the
  command fails fast and prints no result.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

ROOT = os.getcwd()
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")
RUN = [sys.executable, os.path.join("perfbench", "run.py")]
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec():
    with open(SPEC_PATH) as f:
        return json.load(f)


def run(workload, *extra, cwd=ROOT):
    cmd = RUN + ["--workload", workload, "--seed", "7", "--seconds", "3", "--scale", "0.1"] + list(extra)
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    return p


class Contract(unittest.TestCase):
    def test_spec_shape(self):
        s = spec()
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        self.assertTrue(1 <= s["run_seconds"] <= 60)
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"]] + [w["name"] for w in s["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertTrue(0 < len(w["why"]) <= 200 and "\n" not in w["why"])
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertRegex(m["unit"], UNIT)
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in s["end_to_end"]))
        self.assertEqual(s["paths"], ["perfbench"])
        self.assertEqual(s["command"][1:], ["perfbench/run.py"])


class Workloads(unittest.TestCase):
    def check_metrics(self, metrics, wanted):
        for m in wanted:
            self.assertIn(m["name"], metrics)
            self.assertEqual(metrics[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(metrics[m["name"]]["value"], (int, float))

    def test_every_workload(self):
        s = spec()
        for w in [w["name"] for w in s["workloads"]]:
            with self.subTest(workload=w):
                p = run(w, "--trace", "1")
                self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                lines = p.stdout.splitlines()
                result = json.loads(lines[-1])
                self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(result["correct"], p.stdout)
                self.assertEqual(result["failed"], 0)
                self.check_metrics(result["metrics"], s["per_layer"])
                e2e = [l for l in lines if l.startswith("[perfbench] end_to_end ")]
                self.assertEqual(len(e2e), 1)
                self.check_metrics(json.loads(e2e[0][len("[perfbench] end_to_end "):]), s["end_to_end"])

    def test_checks_fail_on_corrupted_expectations(self):
        for w in [w["name"] for w in spec()["workloads"]]:
            with self.subTest(workload=w):
                p = run(w, "--corrupt", "1")
                self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                result = json.loads(p.stdout.splitlines()[-1])
                self.assertFalse(result["correct"], p.stdout)
                self.assertGreater(result["failed"], 0, p.stdout)


class BareDirectory(unittest.TestCase):
    def test_fails_without_engine_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(SPEC_PATH, bare)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"))
            p = run("log_churn", cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
