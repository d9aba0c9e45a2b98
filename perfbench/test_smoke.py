#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at a tiny size, untraced and
traced, must build, pass its output checks and print the result line that
BENCHMARK.json promises. Catches an engine API change that would break the
benchmark silently.

    python3 perfbench/test_smoke.py          # from the root of a checkout
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run(workload, trace):
    out = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "7",
                          "--seconds", "2", "--trace", str(trace), "--smoke", "1"],
                         cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, f"exit {out.returncode}:\n{out.stderr[-3000:]}"
    return json.loads(out.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):

    def check(self, workload, trace, key):
        res = run(workload, trace)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], res)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        want = {m["name"]: m["unit"] for m in BENCH[key]}
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, want)
        for name, m in res["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), name)
        return res


# ingest is not a BENCHMARK.json workload (its CPU figure is too noisy to
# gate on), but it stays runnable and covered here
for _w in [w["name"] for w in BENCH["workloads"]] + ["ingest"]:
    def _plain(self, w=_w):
        res = self.check(w, 0, "end_to_end")
        for name, m in res["metrics"].items():
            self.assertGreater(m["value"], 0, name)

    def _traced(self, w=_w):
        res = self.check(w, 1, "per_layer")
        self.assertGreater(res["metrics"]["op.wall_s"]["value"], 0)
        # the layer self times partition each operation's wall time
        layers = sum(v["value"] for k, v in res["metrics"].items()
                     if k.startswith("layer.") and k.endswith(".self_s"))
        self.assertAlmostEqual(layers, res["metrics"]["op.wall_s"]["value"], delta=1e-6)

    setattr(SmokeTest, f"test_{_w}_untraced", _plain)
    setattr(SmokeTest, f"test_{_w}_traced", _traced)


if __name__ == "__main__":
    unittest.main()
