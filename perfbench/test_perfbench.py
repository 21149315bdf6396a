"""Tests of the benchmark's own helpers.

  python3 perfbench/test_perfbench.py
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from metrics import measured  # noqa: E402
from probe import NOMINAL_UNIT_S, slowdown  # noqa: E402
from stats import percentile, self_time_ns  # noqa: E402

SMALL = {
    "pipeline_daily": dict(gen.PIPELINE, first_rows=300, incr_rows=150),
    "curation": dict(gen.CURATION, docs=100, vectors=50),
}


def digest(root):
    """Hash of every file's relative path and bytes under root."""
    h = hashlib.sha256()
    for d, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            path = os.path.join(d, f)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def generate(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.GENERATORS[workload](d, seed, SMALL[workload])
            return digest(d)

    def test_same_seed_same_bytes(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                self.assertEqual(self.generate(w, 7), self.generate(w, 7))

    def test_other_seed_other_bytes(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                self.assertNotEqual(self.generate(w, 7), self.generate(w, 8))


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        values = list(range(1, 20))       # p50 is 10, with 9 beyond it
        self.assertIsNone(percentile(values, 50))
        values = list(range(1, 21))       # p50 is 10, with 10 beyond it
        self.assertEqual(percentile(values, 50), 10)

    def test_tail_needs_more_samples(self):
        self.assertIsNone(percentile(list(range(199)), 95))
        self.assertEqual(percentile(list(range(1, 201)), 95), 190)

    def test_empty(self):
        self.assertIsNone(percentile([], 50))


def span(start, end):
    return {"start_ns": start, "end_ns": end}


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(self_time_ns(span(0, 100), []), 100)

    def test_disjoint_children(self):
        self.assertEqual(self_time_ns(span(0, 100), [span(10, 20), span(50, 80)]), 60)

    def test_overlapping_children_counted_once(self):
        kids = [span(10, 40), span(30, 60), span(55, 70)]
        self.assertEqual(self_time_ns(span(0, 100), kids), 100 - 60)

    def test_children_clipped_to_parent(self):
        self.assertEqual(self_time_ns(span(0, 100), [span(-20, 10), span(90, 150)]), 80)


class MeasuredPassesTest(unittest.TestCase):
    def ops(self, passes):
        return {"ops": [{"pass": p, "index": i, "ok": True}
                        for p in range(1, passes + 1) for i in range(2)]}

    def test_later_half_is_measured(self):
        for passes, first in ((3, 2), (4, 3), (5, 3), (6, 4)):
            with self.subTest(passes=passes):
                got = {o["pass"] for o in measured(self.ops(passes))}
                self.assertEqual(got, set(range(first, passes + 1)))

    def test_failed_operations_are_left_out(self):
        res = self.ops(3)
        res["ops"][-1]["ok"] = False
        self.assertEqual(len(measured(res)), 3)


class SlowdownTest(unittest.TestCase):
    unit_ns = round(NOMINAL_UNIT_S * 1e9)

    def samples(self, n, scale):
        step = round(self.unit_ns * scale)
        return [(i * step, (i + 1) * step) for i in range(n)]

    def test_nominal_host(self):
        self.assertAlmostEqual(slowdown(self.samples(100, 1.0), 0, 100 * self.unit_ns), 1.0)

    def test_slow_host(self):
        s = self.samples(100, 1.5)
        self.assertAlmostEqual(slowdown(s, 10 * 3 * self.unit_ns // 2, 50 * 3 * self.unit_ns // 2), 1.5)

    def test_units_cut_by_the_interval_count_in_part(self):
        s = self.samples(10, 1.0)
        half = self.unit_ns // 2
        self.assertAlmostEqual(slowdown(s, half, 3 * self.unit_ns + half), 1.0)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            slowdown([], 0, 10)


if __name__ == "__main__":
    unittest.main()
