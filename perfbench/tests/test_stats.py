"""Self-tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

The last test starts the harness JVM to check that the output checks
flag a perturbed output; it is skipped until `python3 perfbench/build.py`
has built the harness.
"""
import glob
import json
import os
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 201))  # 200 samples: p95 leaves exactly 10 above
        self.assertEqual(stats.tail(xs), (95.0, 190, 10))

    def test_steps_down_when_samples_are_few(self):
        self.assertEqual(stats.tail(list(range(1, 41))), (75.0, 30, 10))
        p, v, beyond = stats.tail(list(range(1, 31)))  # p66.6 leaves 10 of 30
        self.assertEqual((p, v, beyond), (66.6, 20, 10))

    def test_percentile_follows_the_guaranteed_count_not_the_pooled_one(self):
        # a run that pools 34 samples where 30 are guaranteed reports the
        # same percentile as one that pools exactly 30, with more beyond
        p, v, beyond = stats.tail(list(range(1, 35)), guaranteed=30)
        self.assertEqual((p, v, beyond), (66.6, 23, 11))
        self.assertEqual(stats.tail_percentile(30), stats.tail_percentile(30))

    def test_undersampled_falls_back_to_median_and_says_so(self):
        p, v, beyond = stats.tail([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertEqual((p, v), (50.0, 3.0))
        self.assertLess(beyond, stats.MIN_BEYOND)

    def test_ties_do_not_count_as_beyond(self):
        p, v, beyond = stats.tail([1.0] * 50 + [2.0] * 9)
        self.assertEqual((p, v, beyond), (83.0, 1.0, 9))


class FailureCounting(unittest.TestCase):
    def sample(self, error="", check_failed=False):
        return {"error": error, "check_failed": check_failed}

    def test_exceptions_timeouts_and_check_mismatches_all_count(self):
        samples = [self.sample(), self.sample(error="TimeoutException: cancelled"),
                   self.sample(check_failed=True), self.sample()]
        self.assertEqual(stats.failure_counts(samples), (4, 2))

    def test_clean_run_has_no_failures(self):
        self.assertEqual(stats.failure_counts([self.sample()] * 7), (7, 0))


class SpanAccounting(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        # children overlap (parallel jobs) and one spills past the parent
        self.assertEqual(stats.self_time(0, 100, [(10, 30), (20, 40), (90, 120)]), 60)

    def test_spread_is_interquartile_share_of_median(self):
        self.assertAlmostEqual(stats.spread([10.0] * 10), 0.0)
        self.assertGreater(stats.spread([8.0, 9.0, 10.0, 11.0, 12.0]), 0.0)


def harness_built():
    return glob.glob(os.path.join(ROOT, ".bench_build", "classes", "harness-*", ".complete"))


@unittest.skipUnless(harness_built(), "harness not built")
class OutputChecks(unittest.TestCase):
    def test_digest_and_freivalds_flag_perturbations(self):
        res = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                              "--mode", "selftest"], cwd=ROOT, capture_output=True,
                             text=True, timeout=600)
        self.assertEqual(res.returncode, 0, res.stderr[-2000:])
        verdicts = json.loads(res.stdout.strip().splitlines()[-1])
        self.assertTrue(verdicts.pop("digest_flags_one_row_change"))
        self.assertTrue(verdicts.pop("freivalds_flags_one_cell_change"))
        self.assertTrue(all(verdicts.values()), verdicts)


if __name__ == "__main__":
    unittest.main()
