#!/usr/bin/env python3
"""Tests of the benchmark itself (not of the engine). From the repository root:

    python3 -m unittest perfbench/test_bench.py

Each test runs perfbench/run.py on bulk_encode for a short loop (about a minute
per run on a 4-core host) and checks:
  - two seeds give different data and the same metric set;
  - one seed repeats its seed-determined figures exactly (input rows, bytes and
    hash, the first store's compression ratio, the codec picks of a traced run);
  - an injected expected-hash mismatch is counted as a failed op.
"""
import json
import os
import subprocess
import sys
import unittest

RUN = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")]


def run(seed, trace=0, *extra):
    p = subprocess.run(RUN + ["--workload", "bulk_encode", "--seed", str(seed), "--seconds", "2",
                              "--trace", str(trace), *extra],
                       capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    fp = [ln for ln in p.stderr.splitlines() if ln.startswith("fingerprint ")]
    return result, json.loads(fp[-1][len("fingerprint "):])


class BenchmarkTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.a1 = run(7)
        cls.a2 = run(7)
        cls.b = run(8)

    def test_seeds_differ_in_data_not_in_metric_set(self):
        (ra, fa), (rb, fb) = self.a1, self.b
        self.assertEqual(set(ra["metrics"]), set(rb["metrics"]))
        self.assertNotEqual(fa["input_hash"], fb["input_hash"])

    def test_one_seed_repeats_its_counts(self):
        (r1, f1), (r2, f2) = self.a1, self.a2
        self.assertEqual(f1, f2)
        self.assertEqual(r1["metrics"]["compression_ratio"]["value"],
                         r2["metrics"]["compression_ratio"]["value"])
        self.assertTrue(r1["correct"] and r2["correct"])
        self.assertEqual(r1["failed"], 0)

    def test_codec_picks_repeat_in_traced_runs(self):
        picks = []
        for _ in range(2):
            r, _ = run(7, 1)
            picks.append({k: v["value"] for k, v in r["metrics"].items() if ".blocks." in k})
        self.assertTrue(picks[0])
        self.assertEqual(picks[0], picks[1])

    def test_injected_mismatch_counts_as_failure(self):
        r, _ = run(7, 0, "--inject-mismatch")
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 1)
        self.assertGreater(r["attempted"], r["failed"])


if __name__ == "__main__":
    unittest.main()
