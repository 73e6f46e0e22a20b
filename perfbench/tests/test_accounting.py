"""Tests of the benchmark's own failure accounting.

    python3 -m unittest discover -s perfbench/tests

The unit tests feed synthetic harness records to the accounting
functions. EndToEnd runs perfbench/run.py on three catalog keys with one
injected throwing call and one injected wrong-output call (about a
minute; set PERFBENCH_SKIP_E2E=1 to skip it).
"""
import json
import os
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402


def key(name, rows, fp, wall=0.5, error=None):
    return {"key": name, "error": error, "rows": rows, "fp": fp, "wall_s": wall,
            "build_s": 0.1, "plan_ms": 3}


class CatalogAccounting(unittest.TestCase):
    expected = {"a": {"rows": 2, "fp": "f1"}, "b": {"rows": 5, "fp": "f2"},
                "c": {"rows": 1, "fp": "f3"}}

    def test_throwing_key_is_a_failure_without_timing(self):
        ok, failures = run.account_catalog(
            [key("a", 2, "f1"), key("b", -1, "", wall=0.0, error="boom")], self.expected)
        self.assertEqual([r["key"] for r in ok], ["a"])
        self.assertEqual([f["call"] for f in failures], ["b@0"])
        self.assertIn("boom", failures[0]["reason"])

    def test_wrong_output_is_a_failure_without_timing(self):
        ok, failures = run.account_catalog(
            [key("a", 2, "f1", wall=0.01), key("b", 5, "other", wall=0.02),
             key("c", 0, "f3")], self.expected)
        self.assertEqual([r["key"] for r in ok], ["a"])
        self.assertEqual(sorted(f["call"] for f in failures), ["b@0", "c@0"])

    def test_unknown_key_is_a_failure(self):
        _, failures = run.account_catalog([key("zz", 1, "x")], self.expected)
        self.assertEqual(failures[0]["reason"], "no expected fingerprint")


class VaultAccounting(unittest.TestCase):
    def call(self, i, op, fp="f", error=None):
        return {"i": i, "op": op, "error": error, "rows": 1, "fp": fp, "wall_s": 0.3,
                "affected": 0, "plan_ms": 1}

    def test_thrown_and_stale_calls_are_failures(self):
        calls = [self.call(0, "point"), self.call(1, "append", error="disk full"),
                 self.call(2, "state", fp="cached"), self.call(3, "state", fp="same")]
        recheck = [{"i": 2, "at": "t", "fp": "uncached"}, {"i": 3, "at": "t", "fp": "same"}]
        ok, failures = run.account_vault(calls, recheck)
        self.assertEqual([c["i"] for c in ok], [0, 3])
        self.assertEqual([f["call"] for f in failures], ["append#1", "state#2"])


class PerKeyMedians(unittest.TestCase):
    def test_median_over_passes_per_key(self):
        ok = [dict(key("a", 2, "f1", wall=1.0), **{"pass": 0}),
              dict(key("a", 2, "f1", wall=3.0), **{"pass": 1}),
              dict(key("b", 5, "f2", wall=0.5), **{"pass": 1})]
        self.assertEqual(sorted(run.key_medians(ok)), [0.5, 2.0])


class Statistics(unittest.TestCase):
    def test_percentiles(self):
        self.assertEqual(run.pct([3, 1, 2], 50), 2)
        self.assertAlmostEqual(run.pct([0, 10], 90), 9.0)

    def test_tail_leaves_ten_beyond(self):
        xs = list(range(1, 41))
        p, v, n = run.tail(xs)
        self.assertEqual((p, n), (75, 40))
        self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)
        self.assertEqual(run.tail(list(range(10))), (None, None, 10))


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_E2E"), "PERFBENCH_SKIP_E2E is set")
class EndToEnd(unittest.TestCase):
    def test_injected_failures_are_counted_not_timed(self):
        p = subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(HERE), "run.py"),
             "--workload", "catalog_reopen", "--seed", "1", "--trace", "0",
             "--keys", "t1_asof_snapshot,q6_revenue_delta,s2_cms_topk",
             "--inject", "throw:t1_asof_snapshot,wrong:q6_revenue_delta"],
            cwd=run.ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 1, p.stderr[-2000:])
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertFalse(result["correct"])
        # three keys in each of the two passes, plus the check that the
        # primed warehouse is unchanged
        self.assertEqual(result["attempted"], 7)
        self.assertEqual(result["failed"], 4)
        failed = [l for l in lines if l.startswith("# FAILED")]
        for n in (0, 1):
            self.assertTrue(any(f"t1_asof_snapshot@{n}: threw" in l for l in failed), failed)
            self.assertTrue(any(f"q6_revenue_delta@{n}: output mismatch" in l for l in failed),
                            failed)
        # only the one good key is timed
        self.assertIn("# key_p50_s = ", p.stdout)
        self.assertTrue(any(l.startswith("# key_p50_s") and "(n=1)" in l for l in lines))


if __name__ == "__main__":
    unittest.main()
