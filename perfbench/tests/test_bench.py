"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen      # noqa: E402
import metrics  # noqa: E402


def tree(root):
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.relpath(os.path.join(d, f), root) for f in fs]
    return sorted(out)


class GeneratorTest(unittest.TestCase):
    def assertSameBytes(self, a, b):
        self.assertEqual(tree(a), tree(b))
        _, mismatch, errors = filecmp.cmpfiles(a, b, tree(a), shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_provider_inputs_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            ea = gen.provider_inputs(5, a)
            eb = gen.provider_inputs(5, b)
            gen.provider_inputs(6, c)
            self.assertEqual(ea, eb)
            self.assertSameBytes(a, b)
            with open(os.path.join(a, "full", "nvd", "page-0.json"),
                      "rb") as fa, \
                    open(os.path.join(c, "full", "nvd", "page-0.json"),
                         "rb") as fc:
                self.assertNotEqual(fa.read(), fc.read())

    def test_final_state_is_full_sync_plus_refresh_batch(self):
        with tempfile.TemporaryDirectory() as t:
            e = gen.provider_inputs(5, t)
            self.assertEqual(e["nvd_rows"], gen.NVD_PAGE * gen.NVD_FULL_PAGES
                             + gen.NVD_INCR_NEW)
            with open(os.path.join(t, "round", "nvd", "page.json"),
                      encoding="utf-8") as f:
                page = json.load(f)
            self.assertEqual(len(page["vulnerabilities"]), gen.NVD_INCR_CVES)

    def test_catalog_tables_are_byte_identical(self):
        with tempfile.TemporaryDirectory() as t:
            a, b = os.path.join(t, "a"), os.path.join(t, "b")
            gen.catalog_tables(a)
            gen.catalog_tables(b)
            self.assertSameBytes(a, b)


class PercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        for n in range(20, 400):
            xs = [float(i) for i in range(n)]
            p = metrics.tail_percentile(n)
            beyond = sum(1 for x in xs if x > metrics.percentile(xs, p))
            self.assertGreaterEqual(beyond, 10, n)
            if p < 100:
                nxt = metrics.percentile(xs, p + 1)
                self.assertLess(sum(1 for x in xs if x > nxt), 10, n)

    def test_known_values(self):
        self.assertEqual(metrics.tail_percentile(62), 83)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(1000), 99)

    def test_small_samples_fall_back_to_the_median(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0, 6.0]
        self.assertEqual(metrics.tail_percentile(len(xs)), 50)
        self.assertEqual(metrics.tail(xs)[0], metrics.median(xs))


def span(i, parent, start, end, trace=None, layer="queries"):
    return {"id": i, "parent": parent, "trace": trace or i, "name": f"s{i}",
            "layer": layer, "start_ms": start, "end_ms": end, "attrs": {}}


class SelfTimeTest(unittest.TestCase):
    def test_nested_children(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40, 1),
                 span(3, 2, 15, 25, 1), span(4, 1, 50, 90, 1)]
        s = metrics.self_times(spans)
        self.assertEqual(s, {1: 30, 2: 20, 3: 10, 4: 40})
        self.assertEqual(metrics.self_time_violations(spans), [])

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 60, 1),
                 span(3, 1, 40, 80, 1)]
        s = metrics.self_times(spans)
        self.assertEqual(s[1], 30)          # 100 - |[10, 80]|
        # overlapping siblings cover [40, 60] twice, so the subtree's
        # self times overstate the wall and the identity check says so
        self.assertEqual(len(metrics.self_time_violations(spans)), 1)

    def test_children_clipped_to_parent(self):
        spans = [span(1, 0, 0, 50), span(2, 1, 40, 70, 1)]
        self.assertEqual(metrics.self_times(spans)[1], 40)


if __name__ == "__main__":
    unittest.main()
