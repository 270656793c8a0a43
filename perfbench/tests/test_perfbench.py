"""Tests of the benchmark's own arithmetic and input generator.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import math
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402


def tree_digest(path):
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class PercentileTest(unittest.TestCase):
    def test_matches_statistics_inclusive(self):
        import statistics
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
        q = statistics.quantiles(xs, n=10, method="inclusive")
        self.assertAlmostEqual(metrics.percentile(xs, 0.9), q[8])
        self.assertAlmostEqual(metrics.percentile(xs, 0.5), statistics.median(xs))

    def test_ten_samples_beyond_p90(self):
        # interpolated p90: 92 distinct samples leave 10 above it, 91 leave 9
        self.assertEqual(metrics.min_samples(0.9, beyond=10), 92)
        xs = [float(i) for i in range(100)]
        self.assertEqual(metrics.samples_beyond(xs[:92], 0.9), 10)
        self.assertEqual(metrics.samples_beyond(xs[:91], 0.9), 9)
        self.assertEqual(metrics.samples_beyond(xs, 0.9), 10)

    def test_single_sample(self):
        self.assertEqual(metrics.percentile([2.5], 0.9), 2.5)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(metrics.union([(5, 7), (0, 2), (1, 3), (3, 4), (9, 9)]), [(0, 4), (5, 7)])

    def test_covered_counts_overlap_once(self):
        self.assertEqual(metrics.covered([(0, 10), (2, 5), (8, 12), (20, 21)]), 13)

    def test_gap_is_wall_not_covered_by_jobs(self):
        op = {"start": 0, "build_end": 4, "end": 20, "plans": [],
              "jobs": [{"start": 2, "end": 6}, {"start": 5, "end": 9}, {"start": 15, "end": 25}]}
        lay = metrics.op_layers(op)
        self.assertEqual(lay["jobs"], 12)  # [2, 9] and [15, 20] after clipping
        self.assertEqual(lay["wall"] - lay["jobs"], 8)
        self.assertEqual(lay["outside"], 5)  # (20, 25] lay past the op's end
        self.assertEqual(metrics.layer_sum_error(lay), 0.25)


class SelfTimeTest(unittest.TestCase):
    def test_span_minus_children(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 3), (2, 4), (8, 15)]), 5)
        self.assertEqual(metrics.self_time((0, 10), []), 10)

    def test_layers_partition_the_op(self):
        op = {"start": 100, "build_end": 130, "end": 200,
              "jobs": [{"start": 110, "end": 120}, {"start": 140, "end": 180}],
              "plans": [{"phases": [{"name": "analysis", "start": 101, "end": 105},
                                    {"name": "planning", "start": 135, "end": 145}]}]}
        lay = metrics.op_layers(op)
        self.assertEqual(lay, {"wall": 100, "jobs": 50, "plan": 9, "build": 16, "gap": 25, "outside": 0})
        self.assertEqual(lay["jobs"] + lay["plan"] + lay["build"] + lay["gap"], lay["wall"])


class TracingOverheadTest(unittest.TestCase):
    def execs(self, overhead, drift):
        """Two ops, A and B, over two passes; pass 2 runs `drift` times as
        long; A is traced in pass 1, B in pass 2."""
        base = {"A": 1.0, "B": 3.0}
        out = []
        for p, traced in ((1, "A"), (2, "B")):
            for n, w in base.items():
                w = w * (drift if p == 2 else 1.0) * (1 + overhead if n == traced else 1.0)
                out.append({"pass": p, "name": n, "traced": n == traced, "wall_s": w})
        return out

    def test_drift_between_passes_cancels(self):
        for drift in (0.7, 1.0, 1.3):
            self.assertAlmostEqual(metrics.tracing_overhead(self.execs(0.05, drift)), 0.05)

    def test_no_pair_no_estimate(self):
        self.assertTrue(math.isnan(metrics.tracing_overhead(self.execs(0.05, 1.0)[:2])))


class DigestTest(unittest.TestCase):
    def test_rows_are_a_multiset_and_columns_match_by_name(self):
        a = oracle.digest(["b", "a"], [(1, "x"), (2, "y")])
        self.assertEqual(a, oracle.digest(["a", "b"], [("y", 2), ("x", 1)]))
        self.assertNotEqual(a, oracle.digest(["b", "a"], [(1, "x"), (2, "z")]))
        self.assertEqual(a[0], 2)

    def test_numbers_compare_by_value_across_types(self):
        from decimal import Decimal
        self.assertEqual(oracle.canonical(5), oracle.canonical(5.0))
        self.assertEqual(oracle.canonical(Decimal("5.00")), "5")
        self.assertEqual(oracle.canonical(Decimal("0.25")), oracle.canonical(0.25))
        self.assertEqual(oracle.canonical(-0.0), "0")
        self.assertNotEqual(oracle.canonical(0.1), oracle.canonical(0.1 + 1e-17 * 2))

    def test_a_date_equals_its_midnight(self):
        import datetime as dt
        self.assertEqual(oracle.canonical(dt.date(2019, 5, 27)), oracle.canonical(dt.datetime(2019, 5, 27)))
        self.assertEqual(oracle.canonical(dt.datetime(1970, 1, 1, 0, 0, 1, 5)), "1000005")


class GeneratorTest(unittest.TestCase):
    def generate(self, seed):
        d = tempfile.mkdtemp()
        gen.generate(d, seed, scale=0.05, zolo_rows=20, files=2)
        return tree_digest(d)

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.generate(3), self.generate(3))

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(self.generate(3), self.generate(4))

    def oracle_digest(self, seed):
        d = tempfile.mkdtemp()
        gen.generate(d, seed, scale=0.05, zolo_rows=0, files=2)
        return oracle.digest(*oracle._query(oracle._corpus(d), "SELECT * FROM lineitem"))

    def test_same_seed_same_digests(self):
        self.assertEqual(self.oracle_digest(3), self.oracle_digest(3))
        self.assertNotEqual(self.oracle_digest(3), self.oracle_digest(4))


if __name__ == "__main__":
    unittest.main()
