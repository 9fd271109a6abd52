"""Tests of the benchmark's own code.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import csv
import filecmp
import json
import os
import re
import tempfile
import unittest

import gen
import run
import stats
import workloads as W

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class GeneratorTest(unittest.TestCase):
    def test_tables_are_identical_per_seed(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_tables(f"{d}/a", 5, 0.001)
            gen.write_tables(f"{d}/b", 5, 0.001)
            gen.write_tables(f"{d}/c", 6, 0.001)
            names = sorted(os.listdir(f"{d}/a"))
            self.assertEqual(len(names), 10)
            _, mismatch, errors = filecmp.cmpfiles(f"{d}/a", f"{d}/b", names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            _, mismatch, _ = filecmp.cmpfiles(f"{d}/a", f"{d}/c", names, shallow=False)
            self.assertIn("lineitem.parquet", mismatch)

    def test_zori_csv_is_identical_per_seed(self):
        with tempfile.TemporaryDirectory() as d:
            n1 = gen.write_zori_csv(f"{d}/a.csv", 3, 500)
            n2 = gen.write_zori_csv(f"{d}/b.csv", 3, 500)
            gen.write_zori_csv(f"{d}/c.csv", 4, 500)
            self.assertEqual(n1, n2)
            self.assertTrue(filecmp.cmp(f"{d}/a.csv", f"{d}/b.csv", shallow=False))
            self.assertFalse(filecmp.cmp(f"{d}/a.csv", f"{d}/c.csv", shallow=False))

    def test_zori_csv_shape(self):
        with tempfile.TemporaryDirectory() as d:
            kept = gen.write_zori_csv(f"{d}/z.csv", 9, 4000)
            with open(f"{d}/z.csv") as f:
                rows = list(csv.reader(f))
        header, body = rows[0], rows[1:]
        self.assertEqual(header[:5], ["RegionID", "SizeRank", "RegionName", "RegionType", "StateName"])
        months = header[5:]
        self.assertEqual(len(months), 120)
        self.assertTrue(all(re.fullmatch(r"\d{4}-\d{2}", m) for m in months))
        ids = [r[0] for r in body]
        dup_share = (len(ids) - len(set(ids))) / len(set(ids))
        self.assertTrue(0.005 < dup_share < 0.015, dup_share)
        distinct = {r[0]: r for r in body}.values()
        cells = [c for r in distinct for c in r[5:]]
        null_share = cells.count("") / len(cells)
        self.assertTrue(0.045 < null_share < 0.055, null_share)
        self.assertEqual(kept, len(cells) - cells.count(""))
        sizes = {}
        for r in distinct:
            sizes[r[4]] = sizes.get(r[4], 0) + 1
        ranked = sorted(sizes.values(), reverse=True)
        # Zipf(1) over 51 states: the largest holds ~22%, the second ~half of it
        self.assertTrue(0.17 < ranked[0] / len(distinct) < 0.27, ranked[:3])
        self.assertTrue(1.6 < ranked[0] / ranked[1] < 2.6, ranked[:3])


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_percentile_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 99.9), 100)
        self.assertEqual(stats.percentile([7], 50), 7)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(list(range(19))))
        self.assertEqual(stats.tail(list(range(1, 21))), (50, 10))
        self.assertEqual(stats.tail(list(range(1, 41))), (75, 30))
        self.assertEqual(stats.tail(list(range(1, 101))), (90, 90))
        self.assertEqual(stats.tail(list(range(1, 1001))), (99, 990))
        t = stats.timing([2.0] * 5)
        self.assertEqual((t["median"], t["n"], t["tail_p"]), (2.0, 5, None))

    def test_self_time_subtracts_union_of_children(self):
        spans = [
            {"id": 0, "parent": -1, "start": 0.0, "end": 10.0},
            {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
            {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},   # overlaps 1
            {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # clipped to 10
            {"id": 4, "parent": 1, "start": 2.0, "end": 3.0},   # grandchild
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 10 - (4 + 1))
        self.assertAlmostEqual(st[1], 3 - 1)
        self.assertAlmostEqual(st[2], 2)
        self.assertAlmostEqual(st[4], 1)


def registered(pattern, subdir):
    """Query names registered by the sources under src/main/scala/graft/<subdir>."""
    names = set()
    for d, _, files in os.walk(os.path.join(ROOT, "src", "main", "scala", "graft", subdir)):
        for f in files:
            with open(os.path.join(d, f)) as fh:
                names |= set(re.findall(r'QueryDef\(\s*"(' + pattern + r')"', fh.read()))
    return names


class MappingTest(unittest.TestCase):
    def test_each_connector_query_has_exactly_one_family(self):
        listed = [q for qs in W.DSV2_FAMILIES.values() for q in qs]
        self.assertEqual(len(listed), len(set(listed)))
        self.assertFalse(set(listed) & set(W.DSV2_EXCLUDED))
        self.assertEqual(set(listed) | set(W.DSV2_EXCLUDED), registered(r"dsv2_\w+", "sources"))
        self.assertTrue(set(W.LAKEHOUSE_QUERIES) <= set(listed))
        self.assertEqual({W.span_of(W.DSV2_FAMILIES)[q] for q in W.LAKEHOUSE_QUERIES},
                         set(W.DSV2_FAMILIES))

    def test_each_mix_query_has_exactly_one_group_matching_its_module(self):
        listed = [q for qs in W.MIX_GROUPS.values() for q in qs]
        self.assertEqual(len(listed), 22)
        self.assertEqual(len(listed), len(set(listed)))
        for group, qs in W.MIX_GROUPS.items():
            self.assertTrue(set(qs) <= registered(r"\w+", group), group)
        self.assertTrue(set(W.MIX_QUERIES) <= set(listed))
        self.assertEqual({W.span_of(W.MIX_GROUPS)[q] for q in W.MIX_QUERIES}, set(W.MIX_GROUPS))


class ContractTest(unittest.TestCase):
    def test_benchmark_json_lists_what_the_runner_reports(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         run.per_layer_metrics())


if __name__ == "__main__":
    unittest.main()
