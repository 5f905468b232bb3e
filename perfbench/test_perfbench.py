"""Tests of the benchmark's own code.

Run from the repository root: python3 -m unittest discover -s perfbench
"""
import filecmp
import os
import re
import tempfile
import unittest

import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

import fixture
import stats
import tables


def read_csv(path):
    return pacsv.read_csv(path, convert_options=pacsv.ConvertOptions(
        column_types=fixture.CSV_SCHEMA, strings_can_be_null=True,
        quoted_strings_can_be_null=False))  # nulls are unquoted empty fields, as Spark reads them


class FixtureTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_inputs(self):
        with tempfile.TemporaryDirectory() as d:
            a = fixture.generate(os.path.join(d, "a"), 5, 2)
            b = fixture.generate(os.path.join(d, "b"), 5, 2)
            c = fixture.generate(os.path.join(d, "c"), 6, 2)
            for x, y, z in zip(a, b, c):
                self.assertTrue(filecmp.cmp(x, y, shallow=False))
                self.assertFalse(filecmp.cmp(x, z, shallow=False))
            ta = tables.generate(os.path.join(d, "ta"), 5)
            tb = tables.generate(os.path.join(d, "tb"), 5)
            names = sorted(os.listdir(ta))
            self.assertEqual(len(names), 10)
            self.assertEqual(filecmp.cmpfiles(ta, tb, names, shallow=False)[0], names)

    def test_null_pattern_and_domains_at_scale_one(self):
        with tempfile.TemporaryDirectory() as d:
            csv_path, parquet_path = fixture.generate(d, 3)
            csv, extra = read_csv(csv_path), pq.read_table(parquet_path)
        self.assertEqual((csv.num_rows, extra.num_rows), (20_000, 231_522))
        self.assertEqual(csv["Date"].null_count, 39)
        self.assertEqual(csv["Weekly_Sales"].null_count, 38)
        self.assertEqual(extra["CPI"].null_count, 47)
        self.assertEqual(extra["Unemployment"].null_count, 37)
        self.assertEqual(extra.schema.field("IsHoliday").type, pa.int64())
        self.assertEqual(set(extra["IsHoliday"].to_pylist()), {0, 1})
        self.assertEqual(set(csv["Store_ID"].to_pylist()), {1, 2})
        dates = [x for x in csv["Date"].to_pylist() if x is not None]
        self.assertTrue(all(re.fullmatch(r"\d{4}-\d\d-\d\dT00:00:00\.000", x) for x in dates))
        self.assertEqual((min(dates)[:10], max(dates)[:10]), ("2010-02-05", "2012-10-26"))
        keys = set(extra["index"].to_pylist())
        self.assertTrue(set(csv["index"].to_pylist()) <= keys)  # every row joins
        self.assertEqual(len(set(csv["index"].to_pylist())), 20_000)

    def test_replicas_have_disjoint_keys(self):
        with tempfile.TemporaryDirectory() as d:
            csv_path, parquet_path = fixture.generate(d, 3, 3)
            csv, extra = read_csv(csv_path), pq.read_table(parquet_path)
        self.assertEqual(len(set(csv["index"].to_pylist())), 60_000)
        self.assertEqual(len(set(extra["index"].to_pylist())), 3 * 231_522)
        self.assertTrue(set(csv["index"].to_pylist()) <= set(extra["index"].to_pylist()))
        self.assertEqual(extra["CPI"].null_count, 3 * 47)


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(range(10)))
        self.assertEqual(stats.tail_percentile(range(11)), (9, 0))
        self.assertEqual(stats.tail_percentile(range(20)), (50, 9))
        self.assertEqual(stats.tail_percentile(range(100)), (90, 89))
        self.assertEqual(stats.tail_percentile(range(1000)), (99, 989))

    def test_orders_samples(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 4  # 20 samples, p50 = 10th smallest
        self.assertEqual(stats.tail_percentile(xs), (50, 3.0))


class SelfTimeTest(unittest.TestCase):
    def test_children_cover_part_of_the_parent(self):
        spans = [
            {"id": 0, "parent": -1, "t0": 0.0, "t1": 10.0},
            {"id": 1, "parent": 0, "t0": 1.0, "t1": 3.0},
            {"id": 2, "parent": 0, "t0": 2.0, "t1": 5.0},   # overlaps span 1
            {"id": 3, "parent": 0, "t0": 8.0, "t1": 12.0},  # runs past the parent
            {"id": 4, "parent": 2, "t0": 2.5, "t1": 3.5},
        ]
        got = stats.self_times(spans)
        self.assertAlmostEqual(got[0], 10.0 - 4.0 - 2.0)
        self.assertAlmostEqual(got[1], 2.0)
        self.assertAlmostEqual(got[2], 3.0 - 1.0)
        self.assertAlmostEqual(got[3], 4.0)
        self.assertAlmostEqual(got[4], 1.0)

    def test_subtree(self):
        spans = [{"id": 0, "parent": -1}, {"id": 1, "parent": 0}, {"id": 2, "parent": 1},
                 {"id": 3, "parent": -1}]
        self.assertEqual(sorted(s["id"] for s in stats.subtree(spans, 0)), [0, 1, 2])


if __name__ == "__main__":
    unittest.main()
