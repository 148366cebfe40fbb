"""Self-tests for the benchmark's pure helpers.

    python3 perfbench/test_bench.py
"""
import json
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_percentile_leaves_ten_samples_beyond(self):
        for n in (20, 21, 37, 100, 101, 1000, 5000):
            p = stats.tail_percentile(n)
            xs = list(range(n))
            v = stats.nearest_rank(xs, p)
            self.assertGreaterEqual(n - 1 - v, 10, (n, p))
            if p < 99:
                # the next percentile up would leave fewer than ten
                w = stats.nearest_rank(xs, p + 1)
                self.assertLess(n - 1 - w, 10, (n, p))

    def test_known_values(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(200), 95)

    def test_few_samples_fall_back_to_the_median(self):
        for n in (1, 3, 10, 19):
            self.assertEqual(stats.tail_percentile(n), 50)
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (50, 2.0, 3))

    def test_tail_is_order_free(self):
        xs = [float(i % 17) for i in range(300)]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_growth(self):
        self.assertEqual(stats.growth([2.0]), 1.0)
        self.assertEqual(stats.growth([1.0, 3.0, 2.0]), 2.0)
        self.assertAlmostEqual(stats.growth([1, 1, 2, 2, 3, 3, 4, 4]), 4.0)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in gen.WORKLOADS:
            a = gen.generate(w, 7, 2)
            b = gen.generate(w, 7, 2)
            self.assertEqual([x.records for x in a], [x.records for x in b])
            self.assertEqual([x.fail for x in a], [x.fail for x in b])

    def test_other_seed_or_stream_other_inputs(self):
        for w in gen.WORKLOADS:
            base = gen.generate(w, 7, 1)[0].records
            self.assertNotEqual(base, gen.generate(w, 8, 1)[0].records)
            self.assertNotEqual(
                base, gen.generate(w, 7, 1, stream="warmup")[0].records)

    def test_every_seed_gives_the_same_batch_shape(self):
        for seed in range(5):
            for w, spec in gen.WORKLOADS.items():
                for b in gen.generate(w, seed, 2):
                    self.assertEqual(len(b.records), spec["records"])
                    self.assertEqual(len(b.undecodable), spec["undecodable"])
                    self.assertEqual(len(b.rejected), spec["nokey"])
                    self.assertEqual(len(b.permanent), spec["perm"])
                    self.assertEqual(len(b.fail), spec["perm"] + spec["once"])
                    self.assertEqual(b.deliveries(),
                                     3 if spec["kind"] == "trickle" else 1)

    def test_event_ids_sort_in_arrival_order_per_shard(self):
        b = gen.generate("consumer_trickle", 3, 2)
        eids = [r[0] for batch in b for r in batch.records]
        for shard in {r[1] for batch in b for r in batch.records}:
            mine = [e for e in eids if e.startswith(shard)]
            self.assertEqual(mine, sorted(mine))


class TablesTest(unittest.TestCase):
    def read(self, seed):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen.write_tables(seed, d, 300, 40)
            return [pq.read_table(os.path.join(d, f"{t}.parquet")).to_pylist()
                    for t in ("events", "documents")]

    def test_same_seed_same_tables(self):
        self.assertEqual(self.read(4), self.read(4))

    def test_other_seed_other_tables(self):
        self.assertNotEqual(self.read(4), self.read(5))

    def test_every_query_reads_a_generated_table(self):
        self.assertEqual(set(gen.ANALYTICS["tables"].values()),
                         {"events", "documents"})


class OracleTest(unittest.TestCase):
    """The comparison flags a wrong value, a missing row and a wrong
    column, and passes an exact match."""

    def compare(self, rows):
        import pandas as pd
        with tempfile.TemporaryDirectory() as d:
            gen.write_tables(1, d, 50, 5)
            os.makedirs(os.path.join(d, "q"))
            pd.DataFrame(rows).to_parquet(os.path.join(d, "q", "part-0.parquet"))
            with open(os.path.join(d, "oracle_sql.json"), "w") as f:
                json.dump({"q": "SELECT event_id, user_id FROM events "
                                "WHERE event_id < 3 ORDER BY event_id"}, f)
            return oracle.compare(d, d)["q"]

    def test_match_and_mismatches(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen.write_tables(1, d, 50, 5)
            users = pq.read_table(os.path.join(d, "events.parquet")) \
                .column("user_id").to_pylist()[:3]
        good = {"event_id": [0, 1, 2], "user_id": users}
        self.assertIsNone(self.compare(good))
        self.assertIn("row 1", self.compare(
            {"event_id": [0, 5, 2], "user_id": users}))
        self.assertIn("rows", self.compare(
            {"event_id": [0, 1], "user_id": users[:2]}))
        self.assertIn("columns", self.compare(
            {"event_id": [0, 1, 2], "user": users}))


if __name__ == "__main__":
    unittest.main()
