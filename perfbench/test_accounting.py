"""Tests of the benchmark's own accounting.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The percentile rule, the failure tally, the traced run's span check and the
choice of each family's representative are checked here; the digest and
the per-query outcome classification are checked by the JVM self-test
(perfbench/src/perfbench/SelfTest.scala), which the last test builds and
runs.
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_median(self):
        self.assertEqual(run.percentile([3.0, 1.0, 2.0], 0.5), 2.0)
        self.assertEqual(run.percentile([4.0, 1.0, 3.0, 2.0], 0.5), 2.5)
        self.assertEqual(run.percentile([5.0], 0.5), 5.0)

    def test_p90_refuses_fewer_than_100_samples(self):
        for n in (1, 10, 50, 99):
            with self.assertRaises(run.TooFewSamples):
                run.percentile([float(i) for i in range(n)], 0.9)

    def test_p90_of_100_samples_leaves_10_beyond(self):
        xs = [float(i) for i in range(1, 101)]
        p90 = run.percentile(xs, 0.9)
        self.assertAlmostEqual(p90, 90.1)
        self.assertEqual(sum(1 for x in xs if x > p90), 10)

    def test_no_samples_refused(self):
        with self.assertRaises(run.TooFewSamples):
            run.percentile([], 0.5)


def sample(name, pass_, wall, outcome="ok"):
    return {"name": name, "pass": pass_, "wall_s": wall, "outcome": outcome}


def record(samples, warm_passes=(10.0,)):
    """A run record with a 5 s first pass and the given warm passes."""
    return {"samples": samples,
            "passes": [{"index": 0, "wall_s": 5.0}]
            + [{"index": i + 1, "wall_s": w} for i, w in enumerate(warm_passes)],
            "setup_s": 2.0}


class FailureTally(unittest.TestCase):
    def test_each_failure_counts_once(self):
        rec = record([sample("a", 1, 1.0), sample("b", 1, 60.0, "timeout"),
                      sample("c", 1, 0.1, "error"), sample("d", 1, 1.0, "wrong"),
                      sample("e", 1, 2.0)])
        r = run.result(rec, traced=False)
        self.assertEqual((r["attempted"], r["failed"], r["correct"]), (5, 3, False))

    def test_clean_run_is_correct(self):
        r = run.result(record([sample("a", 1, 1.0), sample("b", 1, 2.0)]), traced=False)
        self.assertEqual((r["attempted"], r["failed"], r["correct"]), (2, 0, True))

    def test_failed_and_first_pass_queries_leave_the_latency_sample(self):
        rec = record([sample("a", 0, 50.0), sample("a", 1, 1.0), sample("b", 1, 60.0, "timeout"),
                      sample("c", 1, 3.0), sample("a", 2, 2.0), sample("c", 2, 5.0)],
                     warm_passes=(64.0, 7.0, 9.0))
        m = run.result(rec, traced=False)["metrics"]
        # per-query medians over the warm passes: a 1.5, c 4.0
        self.assertAlmostEqual(m["query_gmean_s"]["value"], 6.0 ** 0.5)
        self.assertEqual(m["pass_s"]["value"], 9.0)
        self.assertEqual(m["setup_s"]["value"], 2.0 + 5.0)


def traced_record(reconcile_max):
    rec = record([sample("a", 1, 1.0), sample("a", 2, 1.2)], warm_passes=(1.0, 1.2))
    rec.update(layers={"trace.reconcile_max": reconcile_max}, tables_load_ms=[5.0, 7.0],
               storage={"blocks_after_query_max": 0, "growth_mb": 0.0, "held_mb": 0.0},
               jvm={"gc_s": 0.1, "jit_s": 1.0})
    return rec


class TracedRun(unittest.TestCase):
    def test_reconciled_spans_are_correct(self):
        self.assertTrue(run.result(traced_record(0.05), traced=True)["correct"])

    def test_unreconciled_spans_are_not_correct(self):
        r = run.result(traced_record(run.RECONCILE_LIMIT), traced=True)
        self.assertEqual((r["correct"], r["failed"]), (False, 0))
        self.assertEqual(r["metrics"]["trace.reconcile_max"]["value"], run.RECONCILE_LIMIT)


class SampleChoice(unittest.TestCase):
    def test_query_closest_to_its_family_mean(self):
        walls = {"a1_x": 1.0, "a2_x": 2.0, "a3_x": 9.0, "tj1_x": 3.0, "tj2_x": 5.0}
        rec = {"samples": [sample(n, p, w) for n, w in walls.items() for p in (0, 1)]
               + [sample("a9_x", 1, 2.1, "error")]}
        rows = run.choose_sample("w", rec)
        # a: mean 4.0 → a2_x; tj: mean 4.0, a tie → the first by name
        self.assertEqual([(r[1], r[2], r[3], r[4]) for r in rows],
                         [("a", 3, 4.0, "a2_x"), ("tj", 2, 4.0, "tj1_x")])

    def test_family_is_the_leading_letters(self):
        self.assertEqual([run.family(n) for n in ("tj1_asof_join", "ml_auc", "flagship_refined")],
                         ["tj", "ml", "flagship"])


class JvmSelfTest(unittest.TestCase):
    def test_digest_and_outcomes(self):
        cp = build.build()
        cmd, cwd = run.jvm_command(cp, [run.SAMPLE], main="perfbench.SelfTest")
        env = dict(os.environ, SPARK_GRAFT_QUERY_TIMEOUT_SEC="2")
        p = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=600)
        self.assertEqual(p.returncode, 0, p.stdout[-2000:] + p.stderr[-3000:])
        self.assertIn("checks passed", p.stdout)


if __name__ == "__main__":
    unittest.main()
