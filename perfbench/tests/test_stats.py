"""Unit tests for the benchmark's statistics (no Spark needed).

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


def span(i, start, end, parent=-1, name="s", kind="phase"):
    return {"id": i, "parent": parent, "name": name, "kind": kind, "start_ns": start, "end_ns": end,
            "jobs": 0, "stages": 0, "tasks": 0, "task_ms": 0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "spill_bytes": 0, "codegen_compiles": 0, "codegen_ms": 0,
            "gc_ms": 0, "attrs": {}}


class TailTest(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = stats.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(value, 90)  # 91..100 lie beyond it
        self.assertAlmostEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter_and_percentile_follows_n(self):
        xs = [5, 3, 9, 1, 7, 2, 8, 6, 4, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19, 20]
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, n), (10, 20))
        self.assertAlmostEqual(pct, 50.0)

    def test_eleven_samples_is_the_minimum(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertEqual(stats.tail(list(range(11)))[0], 0)

    def test_ties_count_as_samples(self):
        xs = [1.0] * 30 + [2.0] * 10
        self.assertEqual(stats.tail(xs)[0], 1.0)


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time(span(0, 0, 100), []), 100)

    def test_overlapping_children_count_once(self):
        parent = span(0, 0, 100)
        kids = [span(1, 10, 50, 0), span(2, 30, 70, 0)]  # union covers 10..70
        self.assertEqual(stats.self_time(parent, kids), 40)

    def test_nested_and_disjoint_children(self):
        parent = span(0, 0, 100)
        kids = [span(1, 10, 40, 0), span(2, 15, 20, 0), span(3, 60, 80, 0)]
        self.assertEqual(stats.self_time(parent, kids), 100 - 30 - 20)

    def test_children_are_clipped_to_the_parent(self):
        parent = span(0, 100, 200)
        kids = [span(1, 50, 150, 0), span(2, 190, 260, 0)]
        self.assertEqual(stats.self_time(parent, kids), 100 - 50 - 10)


class PhaseSplitTest(unittest.TestCase):
    def test_phases_and_gaps_sum_to_the_wall_time(self):
        spans = [span(0, 0, 1000, name="q", kind="op"),
                 span(1, 0, 100, 0, "parse"), span(2, 100, 500, 0, "build"),
                 span(3, 510, 600, 0, "optimize"), span(4, 600, 650, 0, "plan"),
                 span(5, 650, 990, 0, "execute")]
        spans[2]["jobs"] = 3
        raw = {"spans": spans, "measure_start_ns": 0, "layer": {}, "cores": 4}
        rec = stats.op_records(raw)[0]
        self.assertEqual(sum(rec["phase_ns"].values()) + rec["self_ns"], rec["wall_ns"])
        self.assertEqual(rec["self_ns"], 20)
        self.assertEqual(rec["build_jobs"], 3)
        layer = stats.per_layer(raw)
        self.assertAlmostEqual(layer["engine.build_s"], 300e-9)
        self.assertAlmostEqual(layer["trace.unattributed_pct"], 2.0)


if __name__ == "__main__":
    unittest.main()
