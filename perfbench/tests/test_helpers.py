"""Tests for the benchmark's own helpers.

Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import chainmap  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertEqual(stats.valid_percentile(list(range(100)), 0.9), 89)
        self.assertIsNone(stats.valid_percentile(list(range(99)), 0.9))

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.highest_percentile(1000), 0.99)
        self.assertEqual(stats.highest_percentile(200), 0.95)
        self.assertEqual(stats.highest_percentile(100), 0.9)
        self.assertEqual(stats.highest_percentile(99), 0.75)
        self.assertEqual(stats.highest_percentile(20), 0.5)
        self.assertIsNone(stats.highest_percentile(19))

    def test_quartile_spread(self):
        # quantiles of 1..10 (exclusive method): 2.75, 5.5, 8.25
        self.assertAlmostEqual(stats.quartile_spread(list(range(1, 11))), 5.5 / 5.5)


class FileToBatchMapping(unittest.TestCase):
    """A checkpoint with a no-data batch (1) between two data batches: the
    file source's own batchId (its log offset) runs one behind the query's
    batch id from there on."""

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        c = self.dir.name
        for sub in ("offsets", "commits", "sources/0"):
            os.makedirs(os.path.join(c, sub))

        def write(rel, rows):
            with open(os.path.join(c, rel), "w") as f:
                f.write("v1\n" + "\n".join(json.dumps(r) for r in rows))

        meta = {"batchWatermarkMs": 0, "batchTimestampMs": 0, "conf": {}}
        for batch, log_offset in [(0, 0), (1, 0), (2, 1), (3, 2)]:
            write(f"offsets/{batch}", [meta, {"logOffset": log_offset}])
            write(f"commits/{batch}", [{"nextBatchWatermarkMs": 0}])
        entry = lambda p, b: {"path": f"file:///stage/{p}", "timestamp": 0, "batchId": b}
        write("sources/0/0", [entry("a.parquet", 0)])
        write("sources/0/1", [entry("b.parquet", 1)])
        # a compacted log file carries every earlier entry, each with its own batchId
        write("sources/0/2.compact", [entry("a.parquet", 0), entry("b.parquet", 1),
                                      entry("c.parquet", 2), entry("d%20e.parquet", 2)])
        write("sources/0/3", [entry("late.parquet", 3)])
        with open(os.path.join(c, "sources/0/.2.compact.crc"), "w") as f:
            f.write("x")

    def tearDown(self):
        self.dir.cleanup()

    def test_maps_through_offsets_log_offset(self):
        m = chainmap.file_batches(self.dir.name)
        self.assertEqual(m["/stage/a.parquet"], 0)
        self.assertEqual(m["/stage/b.parquet"], 2)  # not 1: batch 1 read no data
        self.assertEqual(m["/stage/c.parquet"], 3)
        self.assertEqual(m["/stage/d e.parquet"], 3)

    def test_file_past_the_last_batch_maps_to_none(self):
        self.assertIsNone(chainmap.file_batches(self.dir.name)["/stage/late.parquet"])

    def test_commit_times_cover_every_committed_batch(self):
        self.assertEqual(sorted(chainmap.commit_times_ms(self.dir.name)), [0, 1, 2, 3])


class GeneratorDeterminism(unittest.TestCase):
    TABLES = dict(customer=30, supplier=5, part=20, orders=50, lineitem=200,
                  events=100, users=10, documents=10, embeddings=5)
    EDGES = dict(pages=20, edges=40)

    def generate(self, seed):
        import pyarrow.parquet as pq
        out = {}
        with tempfile.TemporaryDirectory() as d:
            gen.tables(f"{d}/t", seed, self.TABLES)
            gen.edges(f"{d}/e.parquet", seed, self.EDGES)
            gen.chain(f"{d}/c", seed, 1)
            for root, _, files in os.walk(d):
                for f in files:
                    p = os.path.join(root, f)
                    with open(p, "rb") as fh:
                        raw = fh.read()
                    out[os.path.relpath(p, d)] = (
                        pq.read_table(p).to_pylist() if f.endswith(".parquet") else raw)
        return out

    def test_same_seed_same_inputs(self):
        a, b = self.generate(7), self.generate(7)
        self.assertEqual(sorted(a), sorted(b))
        for k in a:
            self.assertEqual(a[k], b[k], k)

    def test_other_seed_other_inputs(self):
        a, b = self.generate(7), self.generate(8)
        self.assertNotEqual(a["t/lineitem.parquet"], b["t/lineitem.parquet"])
        self.assertNotEqual(a["e.parquet"], b["e.parquet"])
        self.assertNotEqual(a["c/cdc/f00003.parquet"], b["c/cdc/f00003.parquet"])


if __name__ == "__main__":
    unittest.main()
