"""Every metric BENCHMARK.json names is emitted, under a well-formed name.

The second test runs the benchmark once per workload and mode with a
one-second measurement (about five minutes in all, plus a first build).
Run from the repository root: python3 -m unittest discover perfbench/tests
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class MetricsTest(unittest.TestCase):
    def test_names(self):
        s = spec()
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
        names += [w["name"] for w in s["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
            self.assertTrue(NAME.fullmatch(n) and n[0].isalnum(), n)

    def test_runs_emit_every_declared_metric(self):
        s = spec()
        for w in s["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                p = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload",
                     w["name"], "--seed", "1", "--seconds", "1", "--trace", str(trace)],
                    cwd=ROOT, capture_output=True, text=True, timeout=900)
                self.assertEqual(p.returncode, 0, p.stderr[-2000:])
                out = p.stdout.strip().splitlines()
                last = json.loads(out[-1])
                self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(last["correct"], out[-5:])
                declared = {m["name"]: m["unit"] for m in s[key]}
                self.assertEqual(set(last["metrics"]), set(declared))
                for name, m in last["metrics"].items():
                    self.assertEqual(m["unit"], declared[name], name)
                    self.assertIsInstance(m["value"], (int, float), name)
                    # printed by name with its unit above the last line
                    self.assertTrue(any(l.startswith(f"{name} ") and l.endswith(f" {m['unit']}")
                                        for l in out[:-1]), name)


if __name__ == "__main__":
    unittest.main()
