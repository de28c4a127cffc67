"""Tests of the benchmark's own math, input synthesis and metric list.

Run from the root of the checkout:  python3 -m unittest discover -s perfbench
"""
import hashlib
import json
import os
import struct
import tempfile
import unittest

import benchmath
import emdsynth
import run


class PercentileTest(unittest.TestCase):

    def test_tail_needs_ten_samples_beyond_it(self):
        self.assertIsNone(benchmath.tail_percentile(range(1, 100), 0.9))  # 9 beyond
        self.assertEqual(benchmath.tail_percentile(range(1, 101), 0.9), 90)  # 10 beyond
        self.assertIsNone(benchmath.tail_percentile(range(49), 0.8))
        self.assertEqual(benchmath.tail_percentile(range(1, 51), 0.8), 40)
        self.assertIsNone(benchmath.tail_percentile([], 0.5))

    def test_tail_is_order_independent(self):
        xs = [5, 1, 9, 3, 7] * 20
        self.assertEqual(benchmath.tail_percentile(xs, 0.8), benchmath.tail_percentile(sorted(xs), 0.8))


class SelfTimeTest(unittest.TestCase):

    def test_overlapping_children_count_once(self):
        self.assertEqual(benchmath.self_time(0, 10, [(1, 4), (3, 6)]), 5)

    def test_children_are_clipped_to_the_parent(self):
        self.assertEqual(benchmath.self_time(0, 10, [(-5, 2), (8, 20)]), 6)

    def test_disjoint_nested_and_empty(self):
        self.assertEqual(benchmath.self_time(0, 10, [(1, 2), (4, 5), (4.5, 4.7)]), 8)
        self.assertEqual(benchmath.self_time(0, 10, []), 10)
        self.assertEqual(benchmath.self_time(0, 10, [(0, 10), (2, 3)]), 0)
        self.assertEqual(benchmath.self_time(0, 10, [(11, 12)]), 10)


class LatenessTest(unittest.TestCase):

    def test_late_sends_count_and_early_ones_do_not(self):
        self.assertEqual(benchmath.lateness([(100, 100), (200, 235), (300, 299)]), [0, 35, 0])


class SynthTest(unittest.TestCase):

    def synth(self, kind, seed, dims):
        with tempfile.TemporaryDirectory() as d:
            rows = emdsynth.synthesize(kind, seed, 2, dims, d, "t")
            blobs = [open(r["path"], "rb").read() for r in rows]
        return rows, blobs

    def test_same_seed_same_bytes_other_seed_other_bytes_same_sizes(self):
        for kind, dims in (("hyperspectral", (8, 6, 40)), ("spatiotemporal", (4, 16, 12))):
            a, blobs = self.synth(kind, 1, dims)
            b, _ = self.synth(kind, 1, dims)
            c, _ = self.synth(kind, 2, dims)
            self.assertEqual([r["sha256"] for r in a], [r["sha256"] for r in b])
            self.assertEqual([r["sha256"] for r in a], [hashlib.sha256(x).hexdigest() for x in blobs])
            self.assertTrue(set(r["sha256"] for r in a).isdisjoint(r["sha256"] for r in c))
            self.assertEqual([r["bytes"] for r in a], [r["bytes"] for r in c])
            self.assertNotEqual(a[0]["sha256"], a[1]["sha256"])

    def test_container_header_and_payload(self):
        rows, blobs = self.synth("hyperspectral", 3, (8, 6, 40))
        data = blobs[0]
        self.assertEqual(data[:8], b"\x89HDF\r\n\x1a\n")
        self.assertEqual(struct.unpack_from("<Q", data, 40)[0], len(data))  # end-of-file address
        self.assertGreater(len(data), 8 * 6 * 40 * 2)  # the uint16 cube is stored whole
        self.assertGreater(rows[0]["cube_sum"], 0)


class CheckHelpersTest(unittest.TestCase):

    def test_java_string_hash(self):
        # media ids of detections pack String.hashCode of the experiment id
        self.assertEqual(run.java_hash("hello"), 99162322)
        self.assertEqual(run.java_hash("polygenelubricants"), 0x80000000)  # Integer.MIN_VALUE


class MetricListTest(unittest.TestCase):

    def test_benchmark_json_lists_what_run_py_reports(self):
        path = os.path.join(os.path.dirname(run.BENCH), "BENCHMARK.json")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], run.layer_units())
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.E2E_METRICS)
        self.assertEqual([w["name"] for w in spec["workloads"]], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
