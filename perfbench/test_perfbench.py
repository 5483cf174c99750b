"""The benchmark's own tests: python3 perfbench/run.py --selftest

The JVM-side digest test builds the harness on first use."""

import os
import unittest

import compare
import metrics


class PercentileTest(unittest.TestCase):
    def test_tail_has_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)
        self.assertEqual(metrics.tail_percentile(200), 95.0)
        self.assertEqual(metrics.tail_percentile(199), 90.0)
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(40), 75.0)
        self.assertEqual(metrics.tail_percentile(20), 50.0)
        self.assertIsNone(metrics.tail_percentile(19))

    def test_quantile_interpolates(self):
        self.assertEqual(metrics.quantile([3, 1, 2], 0.5), 2)
        self.assertEqual(metrics.quantile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(metrics.quantile([], 0.5), 0.0)


def op_record(items):
    return {"workload": "analytic_mix", "items": items, "failures": [],
            "setup_s": 3.0, "wall_s": 2.0,
            "peak_rss_mb": 100.0}


def op(name, digest, s=0.5, error=None):
    return {"name": name, "pass": 0, "build_s": s / 2, "action_s": s / 2,
            "digest": digest, "error": error}


class FailureAccountingTest(unittest.TestCase):
    golden = {"analytic_mix": {"a": "1:2:3", "b": "4:5:6", "c": "7:8:9"}}

    def test_clean_run(self):
        rec = op_record([op("a", "1:2:3"), op("b", "4:5:6"),
                         op("c", "7:8:9")])
        _, failures, attempted, failed, lat = metrics.summarize(
            rec, self.golden)
        self.assertEqual((attempted, failed, failures), (3, 0, []))
        self.assertEqual(len(lat), 3)

    def test_throwing_op_counts_and_is_not_timed(self):
        rec = op_record([op("a", "1:2:3"), op("b", None, s=0.01,
                                                   error="boom"),
                         op("c", "7:8:9")])
        _, failures, attempted, failed, lat = metrics.summarize(
            rec, self.golden)
        self.assertEqual(failed, 1)
        self.assertTrue(failures[0].startswith("b:"))
        self.assertEqual(len(lat), 2)  # the failure is not a timing

    def test_wrong_digest_counts(self):
        rec = op_record([op("a", "1:2:3"), op("b", "4:5:7"),
                         op("c", "7:8:9")])
        _, failures, _, failed, _ = metrics.summarize(rec, self.golden)
        self.assertEqual(failed, 1)
        self.assertIn("golden", failures[0])

    def test_op_without_golden_digest_counts(self):
        rec = op_record([op("a", "1:2:3"), op("z", "0:0:0")])
        _, _, _, failed, _ = metrics.summarize(rec, self.golden)
        self.assertEqual(failed, 1)


class OpenLoopLatencyTest(unittest.TestCase):
    def test_latency_runs_from_the_scheduled_time(self):
        # events due every 100 ms; the consumer stalls and emits all three
        # at t = 1000 ms: every queued event pays for the stall
        items = [{"id": i, "sched_ms": 100 * i, "done_ms": 1000}
                 for i in range(3)]
        lat, missing = metrics.event_latencies(items)
        self.assertEqual(lat, [1.0, 0.9, 0.8])
        self.assertEqual(missing, 0)

    def test_unemitted_events_fail(self):
        items = [{"id": 0, "sched_ms": 0, "done_ms": 50},
                 {"id": 1, "sched_ms": 100, "done_ms": None}]
        rec = {"workload": "rc_stream", "items": items,
               "failures": ["1 events never emitted"],
               "setup_s": 1.0, "wall_s": 1.0, "peak_rss_mb": 1.0}
        _, _, attempted, failed, lat = metrics.summarize(rec, {})
        self.assertEqual((attempted, failed, lat), (2, 1, [0.05]))


class CompareTest(unittest.TestCase):
    def test_clear_gain(self):
        a = [1.00, 1.01, 0.99, 1.02, 1.00, 0.98, 1.01, 1.00, 0.99, 1.01]
        b = [x * 0.8 for x in a]
        self.assertEqual(compare.verdict(a, b, 0.1)[0], "improved")

    def test_regression(self):
        a = [1.00, 1.01, 0.99, 1.02, 1.00, 0.98, 1.01, 1.00, 0.99, 1.01]
        b = [x * 1.3 for x in a]
        self.assertEqual(compare.verdict(a, b, 0.1)[0], "regressed")

    def test_noise_is_unresolved(self):
        a = [1.0, 2.0, 1.0, 2.0, 1.5, 1.0, 2.0, 1.2, 1.8, 1.5]
        b = [1.1, 1.9, 1.2, 2.1, 1.4, 1.0, 2.0, 1.3, 1.7, 1.6]
        self.assertEqual(compare.verdict(a, b, 0.1)[0], "unresolved")

    def test_noisy_but_separated_is_decided(self):
        a = [1.0, 1.5, 1.0, 1.5, 1.2, 1.0, 1.5, 1.1, 1.4, 1.3]
        self.assertEqual(compare.verdict(a, [0.5] * 10, 0.1)[0], "improved")
        self.assertEqual(compare.verdict(a, [3.0] * 10, 0.1)[0], "regressed")

    def test_unchanged(self):
        a = [1.00, 1.01, 0.99, 1.02, 1.00, 0.98, 1.01, 1.00, 0.99, 1.01]
        self.assertEqual(compare.verdict(a, list(a), 0.1)[0], "unchanged")


class DigestJvmTest(unittest.TestCase):
    """Digest ignores row order, changes when one cell changes."""

    def test_digest(self):
        import run
        cp = run.build()
        run.jvm(cp, ["selftest", run.WORK], 300, "selftest.log")
        with open(os.path.join(run.WORK, "logs", "selftest.log")) as fh:
            self.assertIn("SELFTEST OK", fh.read())


if __name__ == "__main__":
    unittest.main()
