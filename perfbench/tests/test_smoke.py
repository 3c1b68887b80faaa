"""Tiny-input smoke of every workload, untraced and traced: each run must
exit 0, pass its output checks and report exactly the metrics that
BENCHMARK.json names. Builds the harness on first use (sbt), then takes a
few minutes.

    python3 -m unittest discover -s perfbench/tests -p 'test_smoke.py'
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))
RUN = os.path.join(os.path.dirname(HERE), "run.py")


class SmokeTest(unittest.TestCase):
    def run_workload(self, workload, trace):
        out = subprocess.run(
            [sys.executable, RUN, "--workload", workload, "--seed", "3", "--seconds", "2",
             "--trace", str(trace), "--tiny"],
            cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_every_workload(self):
        with open(os.path.join(REPO, "BENCHMARK.json")) as f:
            bench = json.load(f)
        for w in bench["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    res = self.run_workload(w["name"], trace)
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    self.assertEqual(set(res["metrics"]), {m["name"] for m in bench[key]})


if __name__ == "__main__":
    unittest.main()
