"""Smoke run of every workload on a scale-0.001 corpus, traced and
untraced, checking that each run is correct and prints every metric.

    cd perfbench && python3 -m unittest test_smoke     (a few minutes)
"""
import json
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
# metrics printed outside the result line
EXTRA = ["op_p90_ms", "fail_frac"]


class Smoke(unittest.TestCase):
    def test_every_metric_is_printed(self):
        spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        for wl in (w["name"] for w in spec["workloads"]):
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=wl, trace=trace):
                    p = subprocess.run(
                        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", wl,
                         "--seed", "7", "--seconds", "1", "--trace", str(trace),
                         "--sf", "0.001"],
                        cwd=ROOT, capture_output=True, text=True, timeout=600)
                    self.assertEqual(p.returncode, 0, p.stdout[-2000:] + p.stderr[-2000:])
                    lines = p.stdout.strip().splitlines()
                    result = json.loads(lines[-1])
                    self.assertTrue(result["correct"])
                    self.assertGreaterEqual(result["attempted"], 1)
                    names = [m["name"] for m in spec[key]]
                    self.assertEqual(sorted(result["metrics"]), sorted(names))
                    for m in spec[key]:
                        self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
                    text = "\n".join(lines[:-1])
                    for name in names + EXTRA:
                        self.assertIn(name, text)


if __name__ == "__main__":
    unittest.main()
