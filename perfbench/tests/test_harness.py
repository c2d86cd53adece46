#!/usr/bin/env python3
"""Tests of the benchmark harness, run against fixture queries
(perfbench/src/perfbench/Fixtures.scala) through run.py.

Usage (from the repository root): python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

ROOT = os.getcwd()
RUN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "run.py")
RESULT = os.path.join(ROOT, ".bench_build", "result-selftest.json")
SLOW_S = 250 * 4 / 1000  # Fixtures.SlowRows * Fixtures.SlowRowMs


def run(queries, *extra):
    p = subprocess.run([sys.executable, RUN, "--workload", "selftest", "--seed", "3",
                        "--seconds", "1", "--trace", "0", "--keep",
                        "--queries", ",".join(queries), *extra],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"run.py exited {p.returncode}:\n{p.stderr[-3000:]}")
    line = json.loads(p.stdout.strip().splitlines()[-1])
    with open(RESULT) as f:
        return line, json.load(f)


class CompleteResultTiming(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.line, cls.res = run(["fx_slow_projection", "fx_slow_projection_counted",
                                 "fx_values", "fx_values_one_changed"], "--record")

    def test_slow_projection_is_timed(self):
        q = self.res["queries"]["fx_slow_projection"]
        self.assertGreaterEqual(q["median_s"], SLOW_S)
        self.assertGreaterEqual(q["exec_s"], SLOW_S)

    def test_count_prunes_the_slow_projection(self):
        q = self.res["queries"]["fx_slow_projection_counted"]
        self.assertLess(q["median_s"], SLOW_S / 2)

    def test_one_changed_value_changes_digest(self):
        a = self.res["queries"]["fx_values"]
        b = self.res["queries"]["fx_values_one_changed"]
        self.assertEqual(a["rows"], b["rows"])
        self.assertNotEqual(a["digest"], b["digest"])

    def test_digest_is_stable_across_passes(self):
        # record mode fails a run whose digest differs from the first run
        self.assertEqual(self.res["failed_runs"], [])
        runs = self.res["header"]["timed_passes"] + 1
        for q, v in self.res["queries"].items():
            self.assertEqual(len(v["digests"]), runs, q)
            self.assertEqual(set(v["digests"]), {v["digest"]}, q)


class FailuresAreLoud(unittest.TestCase):
    def test_throw_and_mismatch_are_failures(self):
        _, rec = run(["fx_ok", "fx_values", "fx_unstable"], "--record")
        # an unstable digest fails every run after the first in record mode
        unstable = [r for r in rec["failed_runs"] if r["query"] == "fx_unstable"]
        self.assertEqual({r["query"] for r in rec["failed_runs"]}, {"fx_unstable"})
        self.assertEqual(len(unstable), rec["header"]["timed_passes"])
        self.assertTrue(all("digest mismatch" in r["error"] for r in unstable))
        expected = {q: {"rows": v["rows"], "digest": v["digest"]}
                    for q, v in rec["queries"].items() if q != "fx_unstable"}
        expected["fx_values"]["digest"] = str(int(expected["fx_values"]["digest"]) + 1)
        with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
            json.dump(expected, f)
        try:
            line, res = run(["fx_ok", "fx_values", "fx_throw"],
                            "--expected-override", f.name)
        finally:
            os.unlink(f.name)
        self.assertFalse(line["correct"])
        failed = {r["query"] for r in res["failed_runs"]}
        self.assertEqual(failed, {"fx_values", "fx_throw"})
        errors = " ".join(r["error"] for r in res["failed_runs"])
        self.assertIn("digest mismatch", errors)
        self.assertIn("fixture failure", errors)
        passes = res["header"]["timed_passes"]
        self.assertEqual(line["attempted"], 3 * passes)
        self.assertEqual(line["failed"], 2 * passes)
        e2e = res["end_to_end"]
        self.assertAlmostEqual(e2e["fail_ratio"], 2 / 3)
        # only fx_ok counts towards wall_s
        self.assertAlmostEqual(e2e["wall_s"], res["queries"]["fx_ok"]["median_s"])
        self.assertEqual(res["queries"]["fx_values"]["failed"], passes)


if __name__ == "__main__":
    unittest.main()
