"""Unit tests for the reporter: percentiles with sample counts, and self
time on hand-built span trees.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import report


def span(i, parent, start, end, name="s"):
    return {"id": i, "op": 1, "name": name, "parent": parent, "start_us": start, "end_us": end}


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks_and_counts_samples(self):
        self.assertEqual(report.percentile([4, 1, 3, 2], 50), (2.5, 4))
        self.assertEqual(report.percentile([10, 20, 30, 40, 50], 75), (40, 5))
        self.assertEqual(report.percentile([1, 2, 3, 4, 5, 6, 7, 8, 9, 10], 90), (9.1, 10))

    def test_edges(self):
        self.assertEqual(report.percentile([7], 95), (7, 1))
        self.assertEqual(report.percentile([3, 1], 0), (1, 2))
        self.assertEqual(report.percentile([3, 1], 100), (3, 2))
        v, n = report.percentile([], 50)
        self.assertTrue(v != v)
        self.assertEqual(n, 0)

    def test_end_to_end_reports_the_sample_count(self):
        raw = {"samples": {"latency_ms": [float(x) for x in range(1, 41)]},
               "values": {"setup_s": 2.0, "throughput_per_s": 5.0, "throughput_samples": 2},
               "attempted": 40, "failed": 2}
        m = report.end_to_end("ticket_scan", raw)
        self.assertEqual(m["latency_p50_ms"], (20.5, "ms", 40))
        self.assertEqual(report.tail("ticket_scan", raw), ("ticket.latency_p90_ms", 36.1, 40))
        self.assertEqual(m["ok_ratio"], (0.95, "ratio", 40))
        self.assertEqual(m["throughput_per_s"], (5.0, "1/s", 2))


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(report.self_times([span(1, 0, 0, 10)]), {1: 10})

    def test_sequential_children_are_subtracted(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60)]
        self.assertEqual(report.self_times(spans)[1], 70)

    def test_parallel_children_subtract_their_union_not_their_sum(self):
        # four tasks at once under one job: 40 of the job's 100 is covered
        spans = [span(1, 0, 0, 100)] + [span(i, 1, 20, 60) for i in range(2, 6)]
        self.assertEqual(report.self_times(spans)[1], 60)
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 40, 70)]
        self.assertEqual(report.self_times(spans)[1], 40)

    def test_children_outside_the_parent_are_clipped(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 130)]
        self.assertEqual(report.self_times(spans)[1], 90)

    def test_only_direct_children_count(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 0, 50)]
        self.assertEqual(report.self_times(spans), {1: 50, 2: 0, 3: 50})

    def test_report_groups_by_name_largest_self_first(self):
        spans = [span(1, 0, 0, 100_000, "ticket"), span(2, 1, 0, 80_000, "arrow"),
                 span(3, 2, 0, 60_000, "node"), span(4, 2, 60_000, 70_000, "node")]
        rows = report.self_time_report(spans)
        self.assertEqual([r[0] for r in rows], ["node", "ticket", "arrow"])
        self.assertEqual(rows[0], ("node", 2, 70.0, 70.0))
        self.assertEqual(rows[1], ("ticket", 1, 100.0, 20.0))
        self.assertEqual(rows[2], ("arrow", 1, 80.0, 10.0))


if __name__ == "__main__":
    unittest.main()
