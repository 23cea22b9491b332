"""Tests of the benchmark's own arithmetic, plus its smoke mode.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import metrics as M  # noqa: E402
import workloads  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertEqual(M.tail_percentile(100), 90)   # 10 beyond p90
        self.assertEqual(M.tail_percentile(99), 89)    # p90 would leave 9
        self.assertEqual(M.tail_percentile(40), 75)
        self.assertEqual(M.tail_percentile(1000), 90)  # capped

    def test_never_below_median(self):
        self.assertEqual(M.tail_percentile(20), 50)
        self.assertEqual(M.tail_percentile(5), 50)
        self.assertEqual(M.tail([1.0, 2.0, 3.0, 4.0]), (2.5, 50))

    def test_nearest_rank_returns_a_measured_value(self):
        v = [float(i) for i in range(1, 101)]
        self.assertEqual(M.nearest_rank(v, 90), 90.0)
        self.assertEqual(M.nearest_rank(v, 50), 50.0)
        self.assertEqual(M.tail(v), (90.0, 90))
        self.assertEqual(M.nearest_rank([3.0, 1.0, 2.0], 50), 2.0)


class BusyAndGap(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(M.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(M.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(M.union_length([]), 0)

    def test_union_is_clipped_to_the_window(self):
        self.assertEqual(M.union_length([(-5, 5), (8, 30)], 0, 10), 7)

    def test_gap_plus_busy_is_wall(self):
        busy, gap = M.busy_and_gap(1000, 3000, 2.0, [(1100, 1600), (1500, 2000)])
        self.assertAlmostEqual(busy, 0.9)
        self.assertAlmostEqual(gap, 1.1)
        self.assertAlmostEqual(busy + gap, 2.0)

    def test_busy_never_exceeds_wall(self):
        # job times are whole milliseconds; the wall is measured finer
        busy, gap = M.busy_and_gap(0, 10, 0.0095, [(0, 10)])
        self.assertEqual((busy, gap), (0.0095, 0.0))


class Amplification(unittest.TestCase):
    def test_write_and_space_amp(self):
        self.assertEqual(M.write_amp(300, 100), 3.0)
        self.assertEqual(M.space_amp(150, 100), 1.5)
        self.assertEqual(M.write_amp(300, 0), 0.0)

    def test_skew(self):
        self.assertEqual(M.skew([10, 10, 40]), 4.0)
        self.assertEqual(M.skew([]), 1.0)
        self.assertEqual(M.skew([0, 0]), 1.0)
        self.assertEqual(M.skew([0, 0, 5]), 5.0)  # median floored at 1 ms


class Digest(unittest.TestCase):
    def setUp(self):
        import duckdb
        self.con = duckdb.connect()

    def test_order_and_column_order_do_not_matter(self):
        a = check.digest(self.con, "SELECT * FROM (VALUES (1, 'x'), (2, 'y')) v(a, b)")
        b = check.digest(self.con, "SELECT b, a FROM (VALUES (2, 'y'), (1, 'x')) v(a, b)")
        self.assertEqual(a, b)

    def test_duplicates_and_float_bits_matter(self):
        one = check.digest(self.con, "SELECT 0.1::DOUBLE AS x")
        self.assertNotEqual(one, check.digest(
            self.con, "SELECT * FROM (VALUES (0.1::DOUBLE), (0.1::DOUBLE)) v(x)"))
        self.assertNotEqual(one, check.digest(
            self.con, "SELECT 0.1::DOUBLE + 1e-17 * 2 AS x"))


class Workloads(unittest.TestCase):
    def test_seed_fixes_the_order_not_the_set(self):
        a = workloads.shuffled(workloads.ANALYTICS_SCAN, 1)
        b = workloads.shuffled(workloads.ANALYTICS_SCAN, 2)
        self.assertEqual(a, workloads.shuffled(workloads.ANALYTICS_SCAN, 1))
        self.assertEqual(sorted(o["name"] for o in a), sorted(o["name"] for o in b))

    def test_kernels_read_their_own_fixture_on_measured_runs(self):
        import run
        self.assertEqual(run.fixture(run.SCALE, "d10_near_dup_lsh"), workloads.KERNEL_FIXTURE)
        self.assertEqual(run.fixture(run.SCALE, "documents"), workloads.KERNEL_FIXTURE)
        self.assertEqual(run.fixture(run.SCALE, "q01_agg_pricing_summary"), run.SCALE)
        self.assertEqual(run.fixture(run.SMOKE_SCALE, "d10_near_dup_lsh"), run.SMOKE_SCALE)

    def test_lake_mix_is_fixed(self):
        kinds = [sorted(o["kind"] for o in workloads.lake_script(s, 1, 60000))
                 for s in range(5)]
        self.assertTrue(all(k == kinds[0] for k in kinds))
        ops = workloads.lake_script(3, 1, 60000)
        vias = [o["args"]["via"] for o in ops if "via" in o["args"]]
        self.assertEqual(sorted(vias), ["api"] * 3 + ["sql"] * 3)


class Smoke(unittest.TestCase):
    def test_every_workload_once_on_sf0_001(self):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
                           stdout=subprocess.PIPE, text=True, timeout=900)
        results = [json.loads(line) for line in r.stdout.splitlines()
                   if line.startswith("{")]
        self.assertEqual(len(results), len(workloads.NAMES), r.stdout[-2000:])
        for res in results:
            self.assertTrue(res["correct"], r.stdout[-2000:])
            self.assertEqual(res["failed"], 0)
        self.assertEqual(r.returncode, 0)


if __name__ == "__main__":
    unittest.main()
