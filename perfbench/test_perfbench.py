"""The benchmark's own tests, on small inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Each harness run starts one Spark JVM (~30 s), so the whole file takes a
few minutes; every run uses `--small` inputs.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def harness(*args, cwd=ROOT):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines else None), proc


class ContractTest(unittest.TestCase):
    def test_declared_metrics_match_the_harness(self):
        self.assertEqual({m["name"]: m["unit"] for m in BENCH["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in BENCH["per_layer"]},
                         run.PER_LAYER)
        self.assertEqual(set(WORKLOADS), set(run.WORKLOADS))

    def test_generator_is_a_function_of_the_seed(self):
        def digest(workload, seed):
            with tempfile.TemporaryDirectory() as d:
                gen.generate(workload, d, seed, small=True)
                h = hashlib.sha256()
                for root, _, files in sorted(os.walk(d)):
                    for f in sorted(files):
                        with open(os.path.join(root, f), "rb") as fh:
                            h.update(f.encode() + fh.read())
                return h.hexdigest()
        for w in gen.GENERATORS:
            self.assertEqual(digest(w, 5), digest(w, 5), w)
            self.assertNotEqual(digest(w, 5), digest(w, 6), w)

    def test_end_to_end_run(self):
        for w in WORKLOADS:
            code, res, proc = harness("--workload", w, "--seed", "3",
                                      "--seconds", "1", "--trace", "0",
                                      "--small")
            self.assertEqual(code, 0, proc.stderr[-2000:])
            self.assertEqual(set(res), {"correct", "attempted", "failed",
                                        "metrics"})
            self.assertTrue(res["correct"], w)
            self.assertEqual(res["failed"], 0, w)
            self.assertGreaterEqual(res["attempted"], 1)
            self.assertEqual(set(res["metrics"]), set(run.END_TO_END))
            for m in res["metrics"].values():
                self.assertGreater(m["value"], 0)

    def test_traced_run_publishes_every_layer(self):
        for w in WORKLOADS:
            code, res, proc = harness("--workload", w, "--seed", "3",
                                      "--seconds", "2", "--trace", "1",
                                      "--small")
            self.assertEqual(code, 0, proc.stderr[-2000:])
            self.assertTrue(res["correct"], w)
            self.assertEqual(set(res["metrics"]), set(run.PER_LAYER))
            self.assertGreater(res["metrics"]["spark.jobs"]["value"], 0)

    def test_wrong_expected_output_counts_as_failed(self):
        for w in WORKLOADS:
            code, res, proc = harness("--workload", w, "--seed", "3",
                                      "--seconds", "1", "--trace", "0",
                                      "--small", "--corrupt-expected")
            self.assertEqual(code, 0, proc.stderr[-2000:])
            self.assertFalse(res["correct"], w)
            self.assertGreaterEqual(res["failed"], 1, w)

    def test_fails_without_the_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            code, res, _ = harness("--workload", WORKLOADS[0], "--seed", "1",
                                   "--seconds", "1", "--trace", "0", cwd=d)
            self.assertNotEqual(code, 0)
            self.assertIsNone(res)


if __name__ == "__main__":
    unittest.main()
