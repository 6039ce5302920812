"""Self-tests of the benchmark harness.

Run from the repository root:  python3 -m unittest perfbench/test_perfbench.py
Each test launches benchmark runs (one JVM each, 5-100 s).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def bench(*args):
    """Run the benchmark; return (summary line, result line) parsed."""
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                         cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True,
                         timeout=900).stdout.strip().splitlines()
    return json.loads(out[-2]), json.loads(out[-1])


def plan(workload, seed):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", "1", "--plan-only"],
                         cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True,
                         timeout=900).stdout.strip().splitlines()
    return json.loads(out[-1])


class ReportTest(unittest.TestCase):
    def check_names(self, result, spec_key):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertIsInstance(result["attempted"], int)
        self.assertGreaterEqual(result["attempted"], 1)
        want = {m["name"]: m["unit"] for m in SPEC[spec_key]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for v in result["metrics"].values():
            self.assertIsInstance(v["value"], (int, float))

    def test_end_to_end_report_parses_and_names_every_metric(self):
        summary, result = bench("--workload", "analytics", "--seed", "3", "--seconds", "1",
                                "--trace", "0")
        self.check_names(result, "end_to_end")
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertIn("probes", summary)
        self.assertEqual(set(summary["probes"]["start"]), {"alu_s", "bw_s", "par_s", "par_over_alu"})

    def test_traced_report_names_every_layer_metric(self):
        summary, result = bench("--workload", "analytics", "--seed", "3", "--seconds", "1",
                                "--trace", "1")
        self.check_names(result, "per_layer")
        self.assertTrue(result["correct"])
        # the maintenance layer probe ran and its artifacts passed append = rebuild
        self.assertEqual(set(summary["checks"]["maintenance"]["append_equals_rebuild"].values()),
                         {True})
        self.assertGreater(result["metrics"]["dedup.minhash.append_ms"]["value"], 0.0)
        # each traced op's span self times add up to its wall time
        self.assertLess(result["metrics"]["trace.span_gap_ms"]["value"], 5.0)
        self.assertGreater(result["metrics"]["trace.overhead"]["value"], 0.0)


class FailureTest(unittest.TestCase):
    def test_op_that_throws_counts_as_failed(self):
        summary, result = bench("--workload", "analytics", "--seed", "3", "--seconds", "1",
                                "--inject-throw", "q02_type_rollup")
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertTrue(any(e.startswith("q02_type_rollup") for e in summary["errors"]))

    def test_corrupted_fingerprint_counts_as_failed(self):
        summary, result = bench("--workload", "curation", "--seed", "3", "--seconds", "1",
                                "--corrupt-fingerprint", "q22_simhash")
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertEqual(summary["errors"], [])


class SeedTest(unittest.TestCase):
    def test_seed_changes_order_and_batches_not_the_op_set(self):
        for w in run.WORKLOADS:
            a, b = plan(w, 1), plan(w, 2)
            self.assertEqual([sorted(p) for p in a["passes"]], [sorted(p) for p in b["passes"]])
            self.assertNotEqual(a["passes"], b["passes"])
            self.assertEqual(a, plan(w, 1))
            self.assertNotEqual(a["batches"][0], b["batches"][0])
            self.assertNotEqual(a["base"], b["base"])
            self.assertEqual(len(a["base"]), len(b["base"]))
            self.assertEqual([len(x) for x in a["batches"]], [len(x) for x in b["batches"]])


class PercentileTest(unittest.TestCase):
    def test_harrell_davis_quantiles(self):
        self.assertAlmostEqual(run.pct([1, 2, 3, 4], 0.5), 2.5, places=6)
        self.assertAlmostEqual(run.pct(range(101), 0.9), 90.0, delta=0.5)
        self.assertEqual(run.pct([], 0.9), 0.0)
        self.assertEqual(run.pct([7.0], 0.5), 7.0)


if __name__ == "__main__":
    unittest.main()
