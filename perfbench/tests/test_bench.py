"""Unit tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

No engine is needed: failure counting runs against a refused port and a
small pyarrow Flight server that errors, and the oracle rule runs
against a throwaway DuckDB dataset.
"""
import sys
import tempfile
import threading
import unittest
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyarrow import flight

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import flightsql  # noqa: E402
import procs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from datagen import TABLES  # noqa: E402
from oracle import Oracle  # noqa: E402
from stats import Tally, beyond, covered, percentile, self_times, tail_percentile  # noqa: E402
from workloads import Statement  # noqa: E402


class TailRule(unittest.TestCase):
    def test_nearest_rank(self):
        self.assertEqual(percentile(list(range(1, 11)), 50), 5)
        self.assertEqual(percentile(list(range(1, 101)), 90), 90)
        self.assertEqual(percentile([7], 99), 7)
        with self.assertRaises(ValueError):
            percentile([], 50)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(tail_percentile(1000), 99)
        self.assertEqual(tail_percentile(999), 95)   # p99 leaves only 9 beyond
        self.assertEqual(tail_percentile(200), 95)
        self.assertEqual(tail_percentile(199), 90)
        self.assertEqual(tail_percentile(100), 90)
        self.assertIsNone(tail_percentile(99))
        self.assertEqual(beyond(100, 90), 10)
        self.assertEqual(beyond(99, 90), 9)


class Counting(unittest.TestCase):
    def test_tally(self):
        t = Tally()
        t.ok()
        t.fail("a", "refused")
        t.fail("a", "again")
        self.assertEqual((t.attempted, t.failed), (3, 2))
        self.assertEqual(t.failures, {"a": "refused"})
        t.wrong("b", "diff")
        self.assertEqual((t.attempted, t.failed), (3, 3))
        self.assertAlmostEqual(t.error_rate, 1.0)

    def test_refused_connection_counts_as_failed(self):
        port = procs.free_port()  # nothing listens there
        stream = [Statement("refused", "direct", "SELECT 1 AS a")] * 3
        records, _ = run.closed_loop(port, [stream], 30)
        tally = Tally()
        run.count(records, tally)
        self.assertEqual((tally.attempted, tally.failed), (3, 3))
        self.assertIn("refused", tally.failures)

    def test_rpc_error_counts_as_failed(self):
        class Failing(flight.FlightServerBase):
            def do_get(self, context, ticket):
                raise flight.FlightServerError("boom")

        server = Failing("grpc://127.0.0.1:0")
        threading.Thread(target=server.serve, daemon=True).start()
        try:
            stream = [Statement("rpc_error", "direct", "SELECT 1 AS a"),
                      Statement("rpc_error_2step", "twostep", "SELECT 1 AS a")]
            records, _ = run.closed_loop(server.port, [stream], 30)
        finally:
            server.shutdown()
        tally = Tally()
        run.count(records, tally)
        self.assertEqual((tally.attempted, tally.failed), (2, 2))
        self.assertIn("boom", tally.failures["rpc_error"])
        self.assertIn("rpc_error_2step", tally.failures)


def _served(table):
    return flightsql.Result(table, 0, 0, 0, 1)


class OracleRule(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.dir = tempfile.TemporaryDirectory()
        for t in TABLES:
            pq.write_table(pa.table({"k": pa.array([1, 2, 3], pa.int64()),
                                     "v": ["x", "y", "z"]}), f"{cls.dir.name}/{t}.parquet")
        cls.oracle = Oracle(cls.dir.name)

    @classmethod
    def tearDownClass(cls):
        cls.dir.cleanup()

    def check(self, table, sql="SELECT k, v FROM orders"):
        tally = Tally()
        tally.ok()
        run.check_distinct([(Statement("stmt", "direct", sql), _served(table))],
                           self.oracle, tally)
        return tally

    def test_equal_in_any_order_and_width(self):
        got = pa.table({"v": ["z", "x", "y"], "k": pa.array([3, 1, 2], pa.int32())})
        self.assertEqual(self.check(got).failed, 0)

    def test_hash_mismatch_counts_as_failed(self):
        got = pa.table({"k": pa.array([1, 2, 4], pa.int64()), "v": ["x", "y", "z"]})
        tally = self.check(got)
        self.assertEqual((tally.attempted, tally.failed), (1, 1))
        self.assertIn("wrong result", tally.failures["stmt"])

    def test_duplicates_and_kinds_matter(self):
        dup = pa.table({"k": pa.array([1, 1, 3], pa.int64()), "v": ["x", "x", "z"]})
        self.assertEqual(self.check(dup).failed, 1)
        floats = pa.table({"k": pa.array([1.0, 2.0, 3.0]), "v": ["x", "y", "z"]})
        self.assertEqual(self.check(floats).failed, 1)
        fewer = pa.table({"k": pa.array([1, 2], pa.int64()), "v": ["x", "y"]})
        self.assertEqual(self.check(fewer).failed, 1)

    def test_prepared_binds_its_parameter(self):
        stmt = Statement("prep", "prepared", "SELECT v FROM orders WHERE k = $1", param=2)
        self.assertIsNone(self.oracle.check(stmt, pa.table({"v": ["y"]})))
        self.assertIsNotNone(self.oracle.check(stmt, pa.table({"v": ["x"]})))


class SpanArithmetic(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        self.assertEqual(covered((0, 100), [(10, 40), (30, 60)]), 50)
        self.assertEqual(covered((0, 100), [(90, 120), (-5, 5)]), 15)
        self.assertEqual(covered((0, 100), [(10, 20), (10, 20)]), 10)
        self.assertEqual(covered((0, 100), []), 0)

    def test_self_times(self):
        spans = [
            {"name": "stmt", "start": 0, "end": 100, "parent": None},
            {"name": "gateway.sql", "start": 10, "end": 40, "parent": "stmt"},
            {"name": "arrow.stream", "start": 30, "end": 60, "parent": "stmt"},
            {"name": "arrow.first_batch", "start": 30, "end": 50, "parent": "arrow.stream"},
        ]
        got = self_times(spans)
        self.assertEqual(got["stmt"], 50)
        self.assertEqual(got["gateway.sql"], 30)
        self.assertEqual(got["arrow.stream"], 10)
        self.assertEqual(got["arrow.first_batch"], 20)


class Staleness(unittest.TestCase):
    def test_source_hash_follows_content(self):
        with tempfile.TemporaryDirectory() as d:
            root = Path(d)
            (root / "src" / "a").mkdir(parents=True)
            (root / "src" / "a" / "X.scala").write_text("object X")
            (root / "build.sbt").write_text("name := \"x\"")
            inputs = ["build.sbt", "src", "missing"]
            k1 = procs.tree_hash(root, inputs)
            self.assertEqual(k1, procs.tree_hash(root, inputs))
            (root / "src" / "a" / "X.scala").write_text("object X { }")
            k2 = procs.tree_hash(root, inputs)
            self.assertNotEqual(k1, k2)
            (root / "src" / "a" / "X.scala").rename(root / "src" / "a" / "Y.scala")
            self.assertNotEqual(k2, procs.tree_hash(root, inputs))

    def test_dataset_rewritten_when_marker_is_stale(self):
        import datagen
        with tempfile.TemporaryDirectory() as d:
            done = Path(d) / "_COMPLETE"
            done.write_text("an older generator\n")
            datagen.ensure(d)
            self.assertNotEqual(done.read_text(), "an older generator\n")
            self.assertTrue((Path(d) / "region.parquet").exists())
            (Path(d) / "region.parquet").unlink()
            datagen.ensure(d)  # marker current: reused as it is
            self.assertFalse((Path(d) / "region.parquet").exists())


class GcLog(unittest.TestCase):
    LOG = """\
[1.0s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause) 150M->20M(3072M) 3.1ms
[2.0s][info][gc] GC(1) Pause Young (Normal) (G1 Evacuation Pause) 2400M->310M(3072M) 9.0ms
[2.1s][info][gc] GC(2) Concurrent Mark Cycle
[2.2s][info][gc] GC(2) Pause Remark 900M->880M(3072M) 2.0ms
[2.3s][info][gc] GC(2) Pause Cleanup 880M->880M(3072M) 0.1ms
[3.0s][info][gc] GC(3) Pause Full (System.gc()) 1G->120M(3072M) 80.0ms
"""

    def test_young_and_full_pauses_since_mark(self):
        with tempfile.TemporaryDirectory() as d:
            s = procs.Server.__new__(procs.Server)
            s.gc_log = Path(d) / "x.gc.log"
            s.gc_log.write_text(self.LOG)
            self.assertEqual(s.heap_after_gc_mb(0),
                             [("Young", 20), ("Young", 310), ("Full", 120)])
            mark = self.LOG.index("[2.0s]")
            self.assertEqual(s.heap_after_gc_mb(mark), [("Young", 310), ("Full", 120)])
            self.assertEqual(s.heap_after_gc_mb(len(self.LOG)), [])


class Inputs(unittest.TestCase):
    def test_protobuf_round_trip(self):
        msg = flightsql.pb_ld(1, "x") + flightsql.pb_ld(2, b"y" * 300)
        self.assertEqual(flightsql.pb_fields(msg), {1: b"x", 2: b"y" * 300})
        self.assertEqual(flightsql.varint(300), b"\xac\x02")

    def test_seeded_and_distinct(self):
        a = workloads.streams("interactive", 5, 4, 200)
        self.assertEqual(a, workloads.streams("interactive", 5, 4, 200))
        self.assertNotEqual(a, workloads.streams("interactive", 6, 4, 200))
        texts = [s.key for stream in a for s in stream]
        self.assertGreater(len(set(texts)) / len(texts), 0.8)
        kinds = {s.kind for stream in a for s in stream}
        self.assertEqual(kinds, {"direct", "twostep", "prepared", "metadata"})

    def test_warm_up_covers_every_template(self):
        import random
        names = {s.name for c in workloads.warm("interactive", random.Random(1), 4) for s in c}
        self.assertEqual(names, {n for _, n, _, _ in workloads.INTERACTIVE})
        names = {s.name for c in workloads.warm("export", random.Random(1), 1) for s in c}
        self.assertEqual(names, {n for n, _, _ in workloads.EXPORT})

    def test_seed_moves_keys_not_the_mix(self):
        a = workloads.streams("interactive", 1, 4, 300)
        b = workloads.streams("interactive", 2, 4, 300)
        self.assertEqual([[s.name for s in c] for c in a], [[s.name for s in c] for c in b])
        self.assertNotEqual(a, b)

    def test_pipeline_sample(self):
        fams = {"a": ["a1", "a2"], "b": ["b1"]}
        s = workloads.pipeline_sample(3, fams, 1)
        self.assertEqual(s, workloads.pipeline_sample(3, fams, 1))
        self.assertEqual(len(s), 2)


if __name__ == "__main__":
    unittest.main()
