"""Tests for the benchmark's own code: input generation and the numeric
helpers. Run with `python3 -m unittest discover -s perfbench -p 'test_*.py'`
from the root of the repository."""
import hashlib
import os
import statistics
import tempfile
import unittest
from pathlib import Path

import pyarrow.parquet as pq

import gen
import stats


def tree_digest(d):
    h = hashlib.sha256()
    for f in sorted(Path(d).rglob("*")):
        if f.is_file():
            h.update(str(f.relative_to(d)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def row_counts(d):
    return {f.name: pq.read_metadata(f).num_rows for f in sorted(Path(d).glob("*.parquet"))}


class GeneratorTest(unittest.TestCase):
    def test_tables_same_seed_same_bytes_other_seed_other_rows(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            for d, seed in ((a, 7), (b, 7), (c, 8)):
                gen.gen_tables(d, seed, 0.0005, 60, 40)
                gen.replicate_corpus(d, 2)
            self.assertEqual(tree_digest(a), tree_digest(b))
            self.assertNotEqual(tree_digest(a), tree_digest(c))
            self.assertEqual(row_counts(a), row_counts(c))
            self.assertEqual(row_counts(a)["documents.parquet"], 120)
            la = pq.read_table(os.path.join(a, "lineitem.parquet")).to_pylist()
            lc = pq.read_table(os.path.join(c, "lineitem.parquet")).to_pylist()
            self.assertNotEqual(la, lc)

    def test_replicas_share_no_tokens(self):
        with tempfile.TemporaryDirectory() as d:
            gen.gen_tables(d, 3, 0.0005, 50, 20)
            gen.replicate_corpus(d, 2)
            docs = pq.read_table(os.path.join(d, "documents.parquet")).to_pydict()
            r0 = {w for t, i in zip(docs["text"], docs["doc_id"]) if i < 10_000_000
                  for w in t.split()}
            r1 = {w for t, i in zip(docs["text"], docs["doc_id"]) if i >= 10_000_000
                  for w in t.split()}
            self.assertFalse(r0 & r1)

    def test_medallion_same_seed_same_feeds_and_truth(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            ta = gen.gen_medallion(a, 5, 30, 30, 4)
            tb = gen.gen_medallion(b, 5, 30, 30, 4)
            tc = gen.gen_medallion(c, 6, 30, 30, 4)
            self.assertEqual(tree_digest(a), tree_digest(b))
            self.assertEqual(ta, tb)
            self.assertNotEqual(tree_digest(a), tree_digest(c))
            self.assertEqual(ta["staged_rows"], tc["staged_rows"])
            self.assertEqual(ta["staged_rows"], (30 + 30) * 4)
            # dirty rows exist and are quarantined from the closed form
            self.assertLess(len(ta["silver"]), ta["staged_rows"])


class StatsTest(unittest.TestCase):
    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([5], 75), 5)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 75), 3.25)
        self.assertEqual(stats.percentile([10, 20], 0), 10)
        self.assertEqual(stats.percentile([10, 20], 100), 20)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_quartiles_and_spread_match_statistics(self):
        xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.6, 5.3, 5.8, 9.7]
        q = statistics.quantiles(xs, n=4)
        self.assertEqual(stats.quartiles(xs), tuple(q))
        self.assertAlmostEqual(stats.spread(xs), (q[2] - q[0]) / q[1])

    def test_self_time_subtracts_child_coverage(self):
        spans = [
            {"id": 0, "parent": -1, "start_ns": 0, "end_ns": 100},
            {"id": 1, "parent": 0, "start_ns": 10, "end_ns": 30},
            {"id": 2, "parent": 0, "start_ns": 20, "end_ns": 50},   # overlaps 1
            {"id": 3, "parent": 0, "start_ns": 70, "end_ns": 80},
            {"id": 4, "parent": 2, "start_ns": 25, "end_ns": 35},   # grandchild
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 100 - 40 - 10)
        self.assertEqual(st[1], 20)
        self.assertEqual(st[2], 30 - 10)
        self.assertEqual(st[3], 10)
        self.assertEqual(st[4], 10)


class BenchmarkFileTest(unittest.TestCase):
    def test_per_query_and_kernel_metrics_match_what_runs(self):
        import json
        import re
        import run
        here = Path(__file__).resolve().parent
        names = [m["name"] for m in json.loads(
            (here.parent / "BENCHMARK.json").read_text())["per_layer"]]
        ops = {n[3:-2] for n in names if n.startswith("op.")}
        self.assertEqual(ops, set(run.OPERATOR_MIX + run.CURATION))
        kernels = {n.split(".")[1] for n in names if n.startswith("catalyst.")}
        scala = (here / "scala" / "graft" / "perfbench" / "Kernels.scala").read_text()
        self.assertEqual(kernels, set(re.findall(r'"(\w+)" -> "\w+\(', scala)))


if __name__ == "__main__":
    unittest.main()
