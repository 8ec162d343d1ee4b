"""Tests of the benchmark's own rules. Run from the checkout root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import metrics  # noqa: E402


class PercentileSupport(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertTrue(metrics.supported(100, 90))
        self.assertFalse(metrics.supported(99, 90))
        self.assertTrue(metrics.supported(20, 50))
        self.assertFalse(metrics.supported(19, 50))
        self.assertFalse(metrics.supported(999, 99))

    def test_highest_supported_level(self):
        self.assertEqual(metrics.highest_supported(1000), 99)
        self.assertEqual(metrics.highest_supported(200), 95)
        self.assertEqual(metrics.highest_supported(100), 90)
        self.assertEqual(metrics.highest_supported(20), 50)
        self.assertIsNone(metrics.highest_supported(19))

    def test_percentile_interpolates(self):
        xs = list(range(1, 11))  # 1..10
        self.assertEqual(metrics.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 9.1)
        self.assertEqual(metrics.percentile([3.0], 99), 3.0)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class OpenLoop(unittest.TestCase):
    def test_schedule_is_fixed_in_advance(self):
        plan = metrics.schedule([10, 20], 1.0, t0=100.0)
        self.assertEqual(len(plan), 30)
        self.assertEqual(plan[0], (0, 100.0))
        self.assertAlmostEqual(plan[9][1], 100.9)
        self.assertEqual(plan[10], (1, 101.0))
        self.assertAlmostEqual(plan[11][1], 101.05)
        self.assertEqual([d for _, d in plan], sorted(d for _, d in plan))

    def test_lateness(self):
        self.assertEqual(metrics.lateness([1.0, 2.0], [1.5, 1.9]), [0.5, 0.0])

    def _drive(self, send_s, n=10, rate=10.0):
        clock = [0.0]

        def sleep(s):
            clock[0] += s

        def send(i):
            clock[0] += send_s
            return 200

        plan = metrics.schedule([rate], n / rate)
        return plan, gen.drive(plan, send, now=lambda: clock[0], sleep=sleep)

    def test_fast_server_keeps_the_schedule(self):
        plan, log = self._drive(send_s=0.01)
        self.assertEqual(log["due"], [d for _, d in plan])
        self.assertEqual(max(metrics.lateness(log["due"], log["sent"])), 0.0)

    def test_slow_server_makes_the_generator_late_not_the_schedule(self):
        # each send takes 0.15 s but events are due every 0.1 s: due times
        # stay put and lateness grows by 0.05 s per event
        plan, log = self._drive(send_s=0.15)
        self.assertEqual(log["due"], [d for _, d in plan])
        late = metrics.lateness(log["due"], log["sent"])
        for i, x in enumerate(late):
            self.assertAlmostEqual(x, 0.05 * i)

    def test_every_rung_runs(self):
        clock = [0.0]
        plan = metrics.schedule([10, 20], 1.0)
        log = gen.drive(plan, lambda i: 200, now=lambda: clock[0],
                        sleep=lambda s: clock.__setitem__(0, clock[0] + s))
        self.assertEqual(log["rung"], [0] * 10 + [1] * 20)


class EventToBatch(unittest.TestCase):
    def test_cumulative_rows_in_acceptance_order(self):
        self.assertEqual(metrics.batch_of_events(6, [2, 0, 3]), [0, 0, 2, 2, 2, None])

    def test_more_rows_than_events_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.batch_of_events(2, [3])

    def test_backlog_after_each_commit(self):
        accepted = [0.1, 0.2, 0.3, 1.1, 1.2]
        commits = [(0.5, 3), (1.5, 1), (2.0, 1)]
        self.assertEqual(metrics.backlog(accepted, commits), [(0.5, 0), (1.5, 1), (2.0, 0)])


class Ladder(unittest.TestCase):
    def trace(self, rate, seconds, commit_every, capacity):
        """Accept times at `rate`; a commit every `commit_every` seconds
        takes what is waiting, up to `capacity` rows per second."""
        accepted = [i / rate for i in range(int(rate * seconds))]
        commits, done, t = [], 0, commit_every
        while t <= seconds:
            waiting = sum(1 for a in accepted if a <= t) - done
            rows = min(waiting, int(capacity * commit_every))
            commits.append((t, rows))
            done += rows
            t += commit_every
        return accepted, commits

    def test_sustained_rung_passes(self):
        acc, com = self.trace(10, 10, 0.5, 20)
        pts = metrics.rung_backlog(acc, com, 0, 10)
        self.assertFalse(metrics.backlog_grows(pts, 10, 0.1))
        self.assertTrue(metrics.rung_passes([0.5] * 100, pts, 10, 2.0, 90, 0.1))

    def test_overloaded_rung_fails_on_backlog(self):
        acc, com = self.trace(40, 10, 0.5, 20)
        pts = metrics.rung_backlog(acc, com, 0, 10)
        self.assertTrue(metrics.backlog_grows(pts, 40, 0.1))
        self.assertFalse(metrics.rung_passes([0.5] * 400, pts, 40, 2.0, 90, 0.1))

    def test_backlog_held_in_the_generator_counts_from_due_times(self):
        # 40/s due for 10 s; the front door takes 20/s (so the generator
        # finishes at 20 s) and each tweet commits as soon as it is taken
        due = [i / 40 for i in range(400)]
        taken = [i / 20 for i in range(400)]
        commits = [(t, 1) for t in taken]
        by_acceptance = metrics.rung_backlog(taken, commits, 0, 10)
        by_due = metrics.rung_backlog(due, commits, 0, 10)
        self.assertFalse(metrics.backlog_grows(by_acceptance, 40, 0.3))
        self.assertTrue(metrics.backlog_grows(by_due, 40, 0.3))

    def test_stalled_sink_fails(self):
        acc = [i / 10 for i in range(100)]
        pts = metrics.rung_backlog(acc, [], 0, 10)
        self.assertEqual(pts, [(0, 1), (10, 100)])
        self.assertTrue(metrics.backlog_grows(pts, 10, 0.1))

    def test_latency_limit_and_uncommitted_events(self):
        acc, com = self.trace(10, 10, 0.5, 20)
        flat = metrics.rung_backlog(acc, com, 0, 10)
        passes = metrics.rung_passes
        self.assertFalse(passes([0.5] * 80 + [3.0] * 20, flat, 10, 2.0, 90, 0.1))
        self.assertFalse(passes([0.5] * 99 + [None], flat, 10, 2.0, 90, 0.1))

    def test_max_rate_is_the_last_rung_before_the_first_failure(self):
        self.assertEqual(metrics.max_rate([(10, True), (20, True), (40, False)]), 20)
        self.assertEqual(metrics.max_rate([(10, True), (20, False), (40, True)]), 10)
        self.assertEqual(metrics.max_rate([(10, False)]), 0.0)


class Overload(unittest.TestCase):
    def test_back_to_back_batches_give_the_sink_rate(self):
        # top rung starts at 10; the batch that began before it is left out
        batches = [(9.0, 10.5, 30), (10.5, 12.5, 40), (12.5, 14.5, 40), (14.5, 15.0, 10)]
        self.assertAlmostEqual(metrics.overload_rate(batches, 10.0), 90 / 4.5)

    def test_a_sink_that_keeps_up_reads_near_the_offered_rate(self):
        # 40 rows/s offered for 2 s; a 0.1-s batch takes the 4 rows that
        # came during the one before, so the last 4 commit at 12.0
        batches = [(10.0 + i * 0.1, 10.1 + i * 0.1, 4) for i in range(20)]
        self.assertAlmostEqual(metrics.overload_rate(batches, 10.0), 40.0)

    def test_nothing_committed(self):
        self.assertEqual(metrics.overload_rate([(9.0, 9.5, 3)], 10.0), 0.0)
        self.assertEqual(metrics.overload_rate([], 10.0), 0.0)


if __name__ == "__main__":
    unittest.main()
