"""Tests of the benchmark's metric computations.

Run: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics as M  # noqa: E402


class TailPercentileTest(unittest.TestCase):
    def test_quantile_is_capped_to_leave_ten_samples_beyond(self):
        self.assertAlmostEqual(M.tail_quantile(58, 0.9), 1 - 10 / 58)
        self.assertAlmostEqual(M.tail_quantile(240, 0.95), 0.95)
        self.assertAlmostEqual(M.tail_quantile(200, 0.95), 0.95)
        self.assertAlmostEqual(M.tail_quantile(100, 0.95), 0.9)

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(M.tail_quantile(8, 0.9), 0.5)
        self.assertEqual(M.tail_quantile(16, 0.9), 0.5)
        self.assertEqual(M.tail_percentile([5, 3, 9], 0.9), 5)

    def test_at_least_ten_samples_lie_beyond_the_value(self):
        for n in (21, 33, 58, 100, 240):
            values = list(range(n))
            v = M.tail_percentile(values, 0.9)
            self.assertGreaterEqual(sum(1 for x in values if x > v), 10 - 1)
            self.assertGreaterEqual(sum(1 for x in values if x >= v), 10)

    def test_percentile_interpolates(self):
        self.assertEqual(M.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(M.percentile([4, 1, 3, 2], 1.0), 4)
        self.assertEqual(M.percentile([7], 0.9), 7)


class SliceBatchTest(unittest.TestCase):
    def write_log(self, root, files):
        d = os.path.join(root, "sources", "0")
        os.makedirs(d)
        for name, entries in files.items():
            with open(os.path.join(d, name), "w") as f:
                f.write("v1\n")
                for path, batch in entries:
                    f.write(json.dumps({"path": path, "timestamp": 1,
                                        "batchId": batch}) + "\n")

    def test_compacted_and_plain_log_files_map_each_slice_once(self):
        with tempfile.TemporaryDirectory() as root:
            p = "file:///x/src/slice-{:04d}.json".format
            self.write_log(root, {
                "9.compact": [(p(i), i) for i in range(10)],
                "10": [(p(10), 10)],
                "11": [(p(11), 11)],
                ".11.crc": [],
            })
            names = [f"slice-{i:04d}.json" for i in range(12)]
            got = M.slice_offsets(M.read_source_log(root), names)
            self.assertEqual(got["slice-0000.json"], 0)
            self.assertEqual(got["slice-0011.json"], 11)

    def test_batches_that_read_nothing_shift_the_mapping(self):
        entries = [(f"file:///x/s{i}", i) for i in range(4)]
        # Batch 2 only advanced the watermark: its offset range is empty.
        progress = [
            {"batch_id": 0, "source_start": -1, "source_end": 0},
            {"batch_id": 1, "source_start": 0, "source_end": 1},
            {"batch_id": 2, "source_start": 1, "source_end": 1},
            {"batch_id": 3, "source_start": 1, "source_end": 2},
            {"batch_id": 4, "source_start": 2, "source_end": 3},
        ]
        got = M.slice_batches(entries, ["s0", "s1", "s2", "s3"], progress)
        self.assertEqual(got, {"s0": 0, "s1": 1, "s2": 3, "s3": 4})

    def test_a_slice_never_read_is_an_error(self):
        with self.assertRaises(ValueError):
            M.slice_offsets([("file:///a/s1", 0)], ["s1", "s2"])
        with self.assertRaises(ValueError):
            M.slice_batches([("file:///a/s1", 0)], ["s1"],
                            [{"batch_id": 0, "source_start": -1,
                              "source_end": -1}])

    def test_a_slice_read_twice_is_an_error(self):
        with self.assertRaises(ValueError):
            M.slice_offsets([("file:///a/s1", 0), ("file:///b/s1", 3)],
                            ["s1"])

    def test_latency_runs_from_visible_to_the_reading_batch_end(self):
        progress = [
            {"batch_id": 4, "start_ms": 1000,
             "duration_ms": {"triggerExecution": 250}},
            {"batch_id": 5, "start_ms": 1300,
             "duration_ms": {"triggerExecution": 400}},
        ]
        ends = M.batch_end_ms(progress)
        self.assertEqual(ends, {4: 1250, 5: 1700})
        lat = M.slice_latencies({"a": 900, "b": 1280}, {"a": 4, "b": 5}, ends)
        self.assertEqual(lat, [350, 420])

    def test_backlog_counts_visible_slices_the_slowest_chain_lacks(self):
        # Two slices visible before the first arrival; arrivals at 10, 20,
        # 30. Chain one keeps up; chain two falls behind.
        fast = [5, 6, 12, 22, 32]
        slow = [5, 8, 40, 50, 60]
        self.assertEqual(M.backlog_at([10, 20, 30], 2, [fast, slow]),
                         [1, 2, 3])

    def test_utilization_counts_live_batches_that_read_data(self):
        def batch(start, ms, rows):
            return {"start_ms": start, "rows": rows,
                    "duration_ms": {"triggerExecution": ms}}
        progress = [batch(0, 9000, 5), batch(100, 1000, 5),
                    batch(200, 3000, 5), batch(300, 50, 0)]
        # Live from t=100: two batches of 1 s and 3 s at one slice per 4 s.
        self.assertAlmostEqual(M.utilization(progress, 100, 0.25), 0.5)
        self.assertGreater(M.utilization(progress, 0, 0.25), 1)
        self.assertEqual(M.utilization(progress, 1000, 0.25), 0.0)


class SelfTimeTest(unittest.TestCase):
    def span(self, sid, parent, start, end):
        return {"id": sid, "parent": parent, "start_ms": start, "end_ms": end}

    def test_children_are_subtracted_from_their_parent_only(self):
        spans = [self.span("q", None, 0, 100),
                 self.span("b", "q", 0, 40), self.span("a", "q", 40, 100),
                 self.span("j1", "b", 10, 20), self.span("j2", "a", 50, 90)]
        got = M.self_times(spans)
        self.assertEqual(got, {"q": 0, "b": 30, "a": 20, "j1": 10, "j2": 40})

    def test_overlapping_children_count_once(self):
        spans = [self.span("p", None, 0, 100), self.span("c1", "p", 10, 50),
                 self.span("c2", "p", 30, 60), self.span("c3", "p", 40, 45)]
        self.assertEqual(M.self_times(spans)["p"], 50)

    def test_children_outside_the_parent_are_clipped(self):
        spans = [self.span("p", None, 10, 20), self.span("c", "p", 0, 15),
                 self.span("d", "p", 18, 30)]
        self.assertEqual(M.self_times(spans)["p"], 3)


if __name__ == "__main__":
    unittest.main()
