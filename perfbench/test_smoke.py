"""Smoke test of the benchmark at the tiny scale (sf0.001, low rates).

Passes when every workload runs with its checks green, every metric name
in BENCHMARK.json is printed with its unit (untraced and traced), and
checking each workload against a deliberately wrong expected value
(--corrupt: a wrong twin hash in dedup_index, a wrong batch fraud set in
score_stream) makes its check fail.

Run from the repository root:  python3 perfbench/test_smoke.py
Takes a few minutes; the first call also builds the benchmark.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload, trace=0, *extra):
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace),
         "--scale", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        raise AssertionError(f"{workload} exited {r.returncode}:\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.spec = json.load(fh)

    def assert_metrics(self, result, key):
        want = {m["name"]: m["unit"] for m in self.spec[key]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for v in result["metrics"].values():
            self.assertIsInstance(v["value"], (int, float))

    def test_every_workload_runs_and_prints_every_metric(self):
        for w in [w["name"] for w in self.spec["workloads"]]:
            with self.subTest(workload=w):
                r = run(w)
                self.assertTrue(r["correct"], r)
                self.assertEqual(r["failed"], 0)
                self.assertGreaterEqual(r["attempted"], 1)
                self.assert_metrics(r, "end_to_end")
                for m in self.spec["end_to_end"]:
                    self.assertGreater(r["metrics"][m["name"]]["value"], 0, m)

    def test_traced_runs_print_every_per_layer_metric(self):
        for w in [w["name"] for w in self.spec["workloads"]]:
            with self.subTest(workload=w):
                r = run(w, 1)
                self.assertTrue(r["correct"], r)
                self.assert_metrics(r, "per_layer")
                self.assertGreater(r["metrics"]["trace.spans"]["value"], 0)

    def test_wrong_expected_value_fails_the_check(self):
        for w in [w["name"] for w in self.spec["workloads"]]:
            with self.subTest(workload=w):
                r = run(w, 0, "--corrupt")
                self.assertFalse(r["correct"], r)
                self.assertGreaterEqual(r["failed"], 1)
                self.assertLess(r["failed"], r["attempted"])


if __name__ == "__main__":
    unittest.main(verbosity=2)
