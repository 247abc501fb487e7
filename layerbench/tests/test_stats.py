"""Unit tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s layerbench/tests
"""
import os
import sys
import unittest
import zlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class LoopUnitsTest(unittest.TestCase):
    def test_count_follows_seconds_not_the_host(self):
        self.assertEqual(stats.loop_units(14, 0.6, False), 23)
        self.assertEqual(stats.loop_units(14, 1.0, False), 14)

    def test_traced_run_measures_half(self):
        self.assertEqual(stats.loop_units(14, 1.0, True), 7)

    def test_at_least_three_units(self):
        self.assertEqual(stats.loop_units(1, 1.0, False), 3)
        self.assertEqual(stats.loop_units(1, 1.0, True), 3)


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        value, pct, n = stats.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(value, 90)  # 91..100 are the ten beyond it
        self.assertAlmostEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_smallest_sample_with_a_percentile(self):
        value, pct, n = stats.tail(list(range(11)))
        self.assertEqual((value, n), (0, 11))
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))


def span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "name": name, "start_ns": start, "end_ns": end}


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertAlmostEqual(stats.self_times([span(1, 0, 0, 2_000_000_000)])[1], 2.0)

    def test_children_are_subtracted(self):
        spans = [span(1, 0, 0, 10_000_000_000),
                 span(2, 1, 1_000_000_000, 3_000_000_000),
                 span(3, 1, 5_000_000_000, 6_000_000_000),
                 span(4, 3, 5_000_000_000, 5_500_000_000)]
        s = stats.self_times(spans)
        self.assertAlmostEqual(s[1], 7.0)
        self.assertAlmostEqual(s[2], 2.0)
        self.assertAlmostEqual(s[3], 0.5)  # grandchild leaves only its own child
        self.assertAlmostEqual(s[4], 0.5)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 2, 6), span(3, 1, 4, 8)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 4 / 1e9)

    def test_children_outside_the_parent_are_clipped(self):
        spans = [span(1, 0, 10, 20), span(2, 1, 5, 15)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 5 / 1e9)


class IngestClosedFormTest(unittest.TestCase):
    def test_rows_by_hand(self):
        # folders INBOX, SENT, TRASH are d % 5 in {0, 1, 2}; d % 7 == 0 is poisoned
        n, total = stats.expected_landed(["a"], 0, 10, 7, 0)
        kept = [1, 2, 5, 6]
        self.assertEqual(n, len(kept))
        want = sum(zlib.crc32("\x1f".join(stats.mail_row("a", d)).encode()) for d in kept)
        self.assertEqual(total, want)

    def test_row_shape_matches_the_fake_transport(self):
        self.assertEqual(stats.mail_row("acct1", 1012), [
            "acct1", "1012", "msg1012", "t12", "TRASH", "subject 15",
            "user12@example.com", "dest4@example.org", "Mon, 5 Jan 2024 02:00:00 +0000"])

    def test_windows_add_up(self):
        live = ["x", "y"]
        whole = stats.expected_landed(live, 0, 900, 97, 13)
        parts = [stats.expected_landed(live, lo, hi, 97, 13)
                 for lo, hi in ((0, 500), (500, 540), (540, 900))]
        self.assertEqual(whole, tuple(map(sum, zip(*parts))))

    def test_every_live_account_lands_its_own_copy(self):
        one = stats.expected_landed(["x"], 0, 300, 89, 5)
        two = stats.expected_landed(["x", "y"], 0, 300, 89, 5)
        self.assertEqual(two[0], 2 * one[0])
        self.assertNotEqual(two[1], 2 * one[1])

    def test_no_poison_when_error_every_is_zero(self):
        self.assertEqual(stats.expected_landed(["x"], 0, 50, 0, 0)[0], 30)


class SinkBatchesTest(unittest.TestCase):
    def test_each_task_flushes_full_and_partial_batches(self):
        self.assertEqual(stats.sink_batches([0, 1, 1000, 1001, 2500], 1000), 0 + 1 + 1 + 2 + 3)


class UnitRefsTest(unittest.TestCase):
    def test_one_reference_per_unit_from_its_neighbourhood(self):
        # refs[u] runs before unit u, the last one after the last unit
        refs = [1.0, 1.0, 1.0, 9.0, 1.0, 2.0, 2.0, 2.0, 2.0]
        ref = stats.unit_refs(refs)
        self.assertEqual(len(ref), len(refs) - 1)
        self.assertEqual(ref[2], 1.0)  # one slow reference run is outvoted
        self.assertEqual(ref[7], 2.0)  # a slower stretch of the host is not

    def test_short_loop(self):
        self.assertEqual(stats.unit_refs([3.0, 5.0]), [4.0])


if __name__ == "__main__":
    unittest.main()
