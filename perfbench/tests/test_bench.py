"""Self-tests of the benchmark's own code.

    python3 -m unittest discover -s perfbench/tests

The traced end-to-end check (layer self times plus driver gap add up to
each op's wall time) runs a short traced benchmark and is skipped unless
PERFBENCH_INTEGRATION=1.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from bench import feed, stats, tables  # noqa: E402


def pages(seed, days=3):
    f = feed.Feed(seed, seed_rows=500, pages=3)
    return [f.next_day() for _ in range(days)]


class FeedTest(unittest.TestCase):
    def test_same_seed_gives_identical_pages(self):
        self.assertEqual(json.dumps(pages(5)).encode(), json.dumps(pages(5)).encode())

    def test_other_seed_gives_other_pages(self):
        self.assertNotEqual(pages(5), pages(6))

    def test_seed_table_is_deterministic(self):
        a = feed.Feed(3, 200, 2).seed_table("popular")
        b = feed.Feed(3, 200, 2).seed_table("popular")
        self.assertTrue(a.equals(b))

    def test_page_shape(self):
        day = pages(1, days=1)[0]
        self.assertEqual(set(day), set(feed.ENDPOINTS))
        rows, body = day["popular"][0]
        doc = json.loads(body)
        self.assertEqual(rows, len(doc["results"]))
        self.assertEqual(doc["total_pages"], 3)

    def test_drift_days(self):
        f = feed.Feed(1, 200, 2)
        d1 = json.loads(f.next_day()["popular"][0][1])["results"][0]
        d2 = json.loads(f.next_day()["popular"][0][1])["results"][0]
        d3 = json.loads(f.next_day()["popular"][0][1])["results"][0]
        d4 = json.loads(f.next_day()["popular"][0][1])["results"][0]
        self.assertNotIn("revenue", d1)
        self.assertIn("revenue", d2)
        self.assertIn("revenue", d4)
        self.assertIsInstance(d2["vote_count"], int)
        self.assertIsInstance(d3["vote_count"], float)
        self.assertIsInstance(d4["vote_count"], int)
        self.assertEqual(f.columns()[-2:], ["revenue", "vote_count_double"])

    def test_render_off_keeps_state_identical(self):
        a, b = feed.Feed(9, 300, 2), feed.Feed(9, 300, 2)
        for _ in range(4):
            a.next_day()
            b.next_day(render=False)
        self.assertEqual(feed.content_hash(a.expected("upcoming")),
                         feed.content_hash(b.expected("upcoming")))

    def test_unchanged_resend_keeps_old_stamp(self):
        f = feed.Feed(2, 300, 2)
        f.next_day()
        stamps = f.expected("popular")["record_loaded_at"]
        self.assertIn(feed.stamp_us(0), stamps)  # seeded rows not touched on day 1
        self.assertIn(feed.stamp_us(1), stamps)
        self.assertEqual(f.changed[(1, "popular")], int(2 * feed.PER_PAGE * 0.6))


class TablesTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            tables.generate(a, 4, 0.001)
            tables.generate(b, 4, 0.001)
            tables.generate(c, 5, 0.001)
            for name in ("orders", "documents", "embeddings"):
                ta = pq.read_table(os.path.join(a, f"{name}.parquet"))
                self.assertTrue(ta.equals(pq.read_table(os.path.join(b, f"{name}.parquet"))))
                self.assertFalse(ta.equals(pq.read_table(os.path.join(c, f"{name}.parquet"))))


class StatsTest(unittest.TestCase):
    def test_tail_has_ten_samples_beyond(self):
        xs = list(range(1, 101))
        value, pct, beyond = stats.tail(xs)
        self.assertEqual(beyond, 10)
        self.assertEqual(value, 90)
        self.assertAlmostEqual(pct, 100 * 89 / 99)

    def test_tail_never_below_median(self):
        value, pct, beyond = stats.tail([5, 1, 3, 2, 4])
        self.assertEqual(value, 3)
        self.assertEqual(pct, 50.0)
        self.assertEqual(beyond, 2)

    def test_tail_single_and_empty(self):
        self.assertEqual(stats.tail([7.0]), (7.0, 100.0, 0))
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))

    def test_quartiles_match_statistics(self):
        import statistics
        xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0]
        q = statistics.quantiles(xs, n=4)
        self.assertEqual(stats.quartiles(xs), (q[0], q[1], q[2]))

    def test_union_and_subtract(self):
        self.assertEqual(stats.union_length([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(stats.subtract((0, 10), [(2, 3), (5, 7)]), [(0, 2), (3, 5), (7, 10)])


class AccountingTest(unittest.TestCase):
    op = {"id": 1, "layer": "op", "name": "q", "parent": 0, "op": 1, "t0": 0, "t1": 1000}
    spans = [
        op,
        {"id": 2, "layer": "queries", "name": "build", "parent": 1, "op": 1, "t0": 10, "t1": 400},
        {"id": 3, "layer": "operators", "name": "merge", "parent": 2, "op": 1, "t0": 100, "t1": 200},
        {"id": 4, "layer": "queries", "name": "exec", "parent": 1, "op": 1, "t0": 400, "t1": 990},
    ]

    def test_layers_plus_gap_equal_wall(self):
        jobs = [{"t0": 150, "t1": 180}, {"t0": 250, "t1": 300}, {"t0": 420, "t1": 900}]
        acc = stats.account(self.op, self.spans, jobs)
        self.assertEqual(acc["gap"], 1000 - 30 - 50 - 480)
        self.assertEqual(acc["layers"], {"operators": 30, "queries": 530})
        self.assertEqual(acc["residual"], 0)
        self.assertTrue(stats.within_tolerance(acc))

    def test_job_outside_layer_spans_is_residual(self):
        jobs = [{"t0": 420, "t1": 900}, {"t0": 991, "t1": 1000}]
        acc = stats.account(self.op, self.spans, jobs)
        self.assertEqual(acc["residual"], 9)

    def test_tolerance(self):
        wall = 10_000_000  # 10 s
        self.assertTrue(stats.within_tolerance({"wall": wall, "residual": 150_000}))
        self.assertFalse(stats.within_tolerance({"wall": wall, "residual": 250_000}))


@unittest.skipUnless(os.environ.get("PERFBENCH_INTEGRATION") == "1", "needs a JVM build and ~1 min")
class TracedRunTest(unittest.TestCase):
    def test_traced_run_accounts_for_wall_time(self):
        root = os.path.dirname(os.path.dirname(HERE))
        proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "etl_upsert",
                               "--seed", "1", "--seconds", "1", "--trace", "1"],
                              cwd=root, capture_output=True, text=True, timeout=600)
        self.assertEqual(proc.returncode, 0, proc.stderr[-2000:])
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        self.assertTrue(result["correct"], proc.stderr[-2000:])
        accounts = [line for line in proc.stderr.splitlines() if " account " in line]
        self.assertTrue(accounts)
        self.assertNotIn("outside tolerance", proc.stderr)
        for name in ("sources.ingest_s", "operators.build_s", "sinks.write_s",
                     "pipeline.overlap", "execution.driver_gap_s", "storage.persisted_rdds"):
            self.assertIn(name, result["metrics"])


if __name__ == "__main__":
    unittest.main()
