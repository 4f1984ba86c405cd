"""The benchmark's own tests, at tiny input sizes.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Each workload the command supports runs once untraced and once traced at
scale 0.05 for one second. The tests assert that every metric of BENCHMARK.json is emitted
with its unit, that outputs pass their checks, that the traced pass lands
outputs identical to the untraced pass, and that the benchmark refuses to
start under GRAFT_HARNESS_FILES_PER_TRIGGER.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
sys.path.insert(0, HERE)
import gen  # noqa: E402


def run(workload, trace, env=None):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
        env=dict(os.environ, **(env or {})))


class BenchmarkTest(unittest.TestCase):
    def result(self, workload, trace):
        p = run(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], p.stderr[-3000:])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        return res

    def check_metrics(self, res, section):
        want = {m["name"]: m["unit"] for m in SPEC[section]}
        got = res["metrics"]
        self.assertEqual(set(got), set(want))
        for name, unit in want.items():
            self.assertEqual(got[name]["unit"], unit, name)
            self.assertIsInstance(got[name]["value"], (int, float), name)

    def test_workloads(self):
        # every workload the command runs, including those outside
        # BENCHMARK.json's list
        for w in sorted(gen.SIZES):
            with self.subTest(workload=w, trace=0):
                res = self.result(w, 0)
                self.check_metrics(res, "end_to_end")
                for m in SPEC["end_to_end"]:
                    self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])
            with self.subTest(workload=w, trace=1):
                res = self.result(w, 1)
                self.check_metrics(res, "per_layer")
                self.assertEqual(res["metrics"]["trace.outputs_identical"]["value"], 1.0)
                self.assertGreaterEqual(res["metrics"]["trace.matched_rounds"]["value"], 1.0)
                self.assertGreaterEqual(res["metrics"]["trace.top_span_coverage"]["value"], 0.9)

    def test_refuses_files_per_trigger_override(self):
        p = run(SPEC["workloads"][0]["name"], 0, {"GRAFT_HARNESS_FILES_PER_TRIGGER": "1"})
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")
        self.assertIn("GRAFT_HARNESS_FILES_PER_TRIGGER", p.stderr)


if __name__ == "__main__":
    unittest.main()
