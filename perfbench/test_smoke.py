"""The benchmark's own tests: every workload at smoke size, both modes.

    python3 -m unittest perfbench/test_smoke.py      # from the checkout root

Each run must exit 0, end stdout with the result JSON, check its jobs with no
failure, and print exactly the metrics BENCHMARK.json lists for its mode. A
copy of the benchmark without the program beside it must fail without a
result.
"""

import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.getcwd()
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace, cwd=ROOT):
    cmd = BENCH["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                              "--trace", str(trace), "--smoke"]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=600)


class SmokeTest(unittest.TestCase):

    def check(self, workload, trace, names):
        p = run(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-4000:])
        r = json.loads(p.stdout.splitlines()[-1])
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"], p.stderr[-4000:])
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 2)
        self.assertEqual(list(r["metrics"]), names)
        for name, m in r["metrics"].items():
            self.assertEqual(set(m), {"value", "unit"})
            self.assertIsInstance(m["value"], (int, float), name)
        return r["metrics"]

    def test_end_to_end(self):
        names = [m["name"] for m in BENCH["end_to_end"]]
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                metrics = self.check(w["name"], 0, names)
                for name, m in metrics.items():
                    self.assertGreater(m["value"], 0, name)

    def test_traced(self):
        names = [m["name"] for m in BENCH["per_layer"]]
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                metrics = self.check(w["name"], 1, names)
                self.assertGreater(metrics["trace.coverage"]["value"], 0)
                self.assertTrue(os.path.exists(os.path.join(
                    ROOT, ".bench_work", "trace", f"{w['name']}_seed7.json")))

    def test_fails_without_program(self):
        bare = os.path.join(ROOT, ".bench_work", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in BENCH["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = run(BENCH["workloads"][0]["name"], 0, cwd=bare)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    sys.exit(unittest.main())
