"""Smoke test of the benchmark at tiny sizes.

    python3 -m unittest discover -s perfbench/tests

Runs each workload for a second at `--scale tiny`, checks that the last
stdout line carries exactly the contract keys and every metric named in
BENCHMARK.json with its unit, and that a deliberately corrupted output
(`--corrupt`) is counted as a failed operation.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))
SPEC = json.load(open(os.path.join(REPO, "BENCHMARK.json")))


def run(workload, trace=0, *extra):
    cmd = [sys.executable, os.path.join(REPO, *SPEC["command"][1:]),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--scale", "tiny"] + list(extra)
    p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True,
                       timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{cmd} failed:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    def check_metrics(self, res, declared):
        self.assertEqual(set(res), {"correct", "attempted", "failed",
                                    "metrics"})
        self.assertGreaterEqual(res["attempted"], 1)
        want = {m["name"]: m["unit"] for m in declared}
        self.assertEqual(set(res["metrics"]), set(want))
        for name, unit in want.items():
            self.assertEqual(res["metrics"][name]["unit"], unit, name)
            self.assertIsInstance(res["metrics"][name]["value"],
                                  (int, float), name)

    def test_every_workload_prints_every_metric(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                res = run(w["name"])
                self.assertTrue(res["correct"], res)
                self.assertEqual(res["failed"], 0)
                self.check_metrics(res, SPEC["end_to_end"])
                for m in res["metrics"].values():
                    self.assertGreater(m["value"], 0)

    def test_traced_run_prints_every_layer_metric(self):
        res = run("pos_nightly", 1)
        self.check_metrics(res, SPEC["per_layer"])

    def test_corrupted_output_is_counted(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                res = run(w["name"], 0, "--corrupt")
                self.assertFalse(res["correct"])
                self.assertGreaterEqual(res["failed"], 1)


if __name__ == "__main__":
    unittest.main()
