"""Self-tests of the benchmark (not of the engine).

    python3 perfbench/selftest.py

- Tiny runs (inputs at scale 0.001, the shape of the sf0.001 fixture) of
  every workload with and without tracing print exactly the result keys
  and every metric BENCHMARK.json names, with its unit.
- The checkers flag a planted wrong CalcAvgLoan answer and a planted
  wrong query digest.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import harness  # noqa: E402

TINY = 0.001
SPEC = json.load(open(os.path.join(harness.ROOT, "BENCHMARK.json")))

_CHILD = """
import json, sys
sys.path.insert(0, {here!r})
import harness, serve, batch
serve.SCALE = batch.SCALE = {scale!r}
run = harness.Run({workload!r}, {seed}, 2, {trace})
run.prepare_env()
try:
    mod = serve if {workload!r} == "serve_zipf" else batch
    print(json.dumps(mod.run(run, 0.0)))
finally:
    run.cleanup()
"""


def tiny_run(workload: str, trace: bool, seed: int = 5) -> dict:
    code = _CHILD.format(here=HERE, scale=TINY, workload=workload, seed=seed, trace=trace)
    out = subprocess.run([sys.executable, "-c", code], cwd=harness.ROOT, check=True,
                         stdout=subprocess.PIPE, text=True, timeout=600).stdout
    return json.loads(out.strip().splitlines()[-1])


class TinyRuns(unittest.TestCase):
    def _check(self, result: dict, kind: str) -> None:
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], result)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        want = {m["name"]: m["unit"] for m in SPEC[kind]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for name, m in result["metrics"].items():
            self.assertTrue(math.isfinite(m["value"]), (name, m))

    def test_every_workload_prints_every_metric(self) -> None:
        for w in SPEC["workloads"]:
            for trace, kind in ((False, "end_to_end"), (True, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    self._check(tiny_run(w["name"], trace), kind)

    def test_planted_wrong_digest_fails_the_run(self) -> None:
        import batch

        tiny_run("batch_sf0.05", False, seed=6)  # caches the oracle digests
        data = [os.path.join(harness.WORK, "data", d)
                for d in os.listdir(os.path.join(harness.WORK, "data"))
                if d.startswith(f"seed6-scale{TINY:g}-")][0]
        cache = os.path.join(data, "oracle_digests.json")
        with open(cache) as f:
            digests = json.load(f)
        digests[batch.QUERIES[0]] = "0" * 64
        with open(cache, "w") as f:
            json.dump(digests, f)
        try:
            result = tiny_run("batch_sf0.05", False, seed=6)
        finally:
            os.remove(cache)
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)


class Checkers(unittest.TestCase):
    def test_planted_wrong_average_is_flagged(self) -> None:
        import serve

        samples = [
            {"kind": "avg", "key": 3, "resp": {"avg_loan": 100, "source": "reuse", "error": ""}},
            {"kind": "avg", "key": 4, "resp": {"avg_loan": 201, "source": "create", "error": ""}},
            {"kind": "avg", "key": 4, "resp": {"avg_loan": 0, "source": "",
                                               "error": "no rows for c_nationkey=4"}},
            {"kind": "block", "key": None, "resp": {"block_entries": {"localhost": 2},
                                                    "error": ""}},
        ]
        failed = serve._judge(samples, {3: 100, 4: 200}, {"localhost": 2})
        self.assertEqual(failed, 2)
        self.assertEqual([s["ok"] for s in samples], [True, False, False, True])

    def test_digest_is_by_value_and_order_insensitive(self) -> None:
        import pyarrow as pa

        a = pa.table({"k": pa.array([1, 2], pa.int32()), "v": [0.5, 2.0], "s": ["x", None]})
        b = pa.table({"S": ["x", None][::-1], "v": pa.array([2, 0.5]), "k": [2, 1]})
        b = b.select(["k", "v", "S"])
        self.assertEqual(check.digest(a), check.digest(b))
        wrong = pa.table({"k": pa.array([1, 2], pa.int32()), "v": [0.5, 2.5], "s": ["x", None]})
        self.assertNotEqual(check.digest(a), check.digest(wrong))


if __name__ == "__main__":
    unittest.main()
