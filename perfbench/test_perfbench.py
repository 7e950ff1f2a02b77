"""Checks of the benchmark's own math and of the seed-to-inputs mapping,
on tiny inputs. Run: python3 perfbench/test_perfbench.py"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        value, pct, n = stats.tail(list(range(1, 21)))  # 1..20
        self.assertEqual(value, 10)  # 11..20 lie beyond it
        self.assertEqual((pct, n), (50.0, 20))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 0.5, 11.0]
        self.assertEqual(stats.tail(xs)[0], 1.0)  # 12 samples: 2nd smallest

    def test_eleven_is_the_minimum(self):
        self.assertEqual(stats.tail(list(range(11)))[0], 0)
        with self.assertRaises(ValueError):
            stats.tail(list(range(10)))

    def test_hundred_samples_is_p90(self):
        value, pct, _ = stats.tail([float(i) for i in range(100)])
        self.assertEqual((value, pct), (89.0, 90.0))


class Geomean(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0, 16.0]), 4.0)
        self.assertAlmostEqual(stats.geomean([2.0]), 2.0)
        self.assertAlmostEqual(stats.geomean([0.1, 10.0]), 1.0)

    def test_rejects_non_positive(self):
        for xs in ([], [1.0, 0.0], [-1.0]):
            with self.assertRaises(ValueError):
                stats.geomean(xs)


class Median(unittest.TestCase):
    def test_values(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


class IntervalUnion(unittest.TestCase):
    def test_overlaps_merge(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)], 0, 100), 20)

    def test_nested_and_touching(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)], 0, 100), 12)

    def test_clipped_to_window(self):
        self.assertEqual(stats.union_length([(-5, 5), (95, 120)], 0, 100), 10)
        self.assertEqual(stats.union_length([(200, 300)], 0, 100), 0)

    def test_driver_gap(self):
        self.assertEqual(stats.driver_gap([(10, 40), (30, 50), (70, 80)], 0, 100), 50)
        self.assertEqual(stats.driver_gap([], 0, 100), 100)


class SeedMapping(unittest.TestCase):
    """Same seed gives byte-identical inputs; another seed gives others."""

    def setUp(self):
        self.base = os.path.join(build.testdata_dir(), "sf0.001")
        if not os.path.isdir(self.base):
            self.skipTest("no sf0.001 tables")
        self.tmp = tempfile.TemporaryDirectory(dir=os.path.join(run.WORK))

    def tearDown(self):
        self.tmp.cleanup()

    def digest(self, workload, seed, tag):
        out = os.path.join(self.tmp.name, tag)
        gen.generate(self.base, out, workload, seed)
        return gen.digest(out)

    def test_seed_decides_inputs(self):
        for workload in ("corpus", "stream"):
            a = self.digest(workload, 11, f"{workload}-a")
            self.assertEqual(a, self.digest(workload, 11, f"{workload}-b"))
            self.assertNotEqual(a, self.digest(workload, 12, f"{workload}-c"))

    def test_document_and_embedding_ids_kept(self):
        # queries read vec_id < 10 as ANN queries and the first vec_ids as
        # centroid seeds; shifted ids left them with no rows
        import pyarrow.parquet as pq
        out = os.path.join(self.tmp.name, "ids")
        gen.generate(self.base, out, "corpus", 11)
        for table, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
            base = pq.read_table(f"{self.base}/{table}.parquet").column(key).to_pylist()
            got = pq.read_table(f"{out}/{table}.parquet").column(key).to_pylist()
            self.assertEqual(sorted(got), sorted(base))

    def test_split_points_cover_every_row(self):
        import numpy as np
        for files in (1, 3, 12):
            cuts = gen.split_points(np.random.default_rng(5), 1000, files)
            self.assertEqual((cuts[0], cuts[-1], len(cuts)), (0, 1000, files + 1))
            self.assertTrue(all(a < b for a, b in zip(cuts, cuts[1:])))


class MetricNames(unittest.TestCase):
    """run.py reports exactly the metrics BENCHMARK.json names, in its units."""

    COUNTS = {"jobs": 1, "stages": 2, "tasks": 4, "failed_tasks": 0, "run_ms": 800,
              "cpu_ns": 7e8, "gc_ms": 5, "input_bytes": 2 ** 20, "input_records": 100,
              "shuffle_write_bytes": 10, "shuffle_write_records": 2, "shuffle_read_bytes": 10,
              "shuffle_read_records": 2, "spill_bytes": 0, "job_intervals_ms": [[100, 600]]}

    def setUp(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            self.spec = json.load(fh)

    def op(self, i, traced, stream):
        o = {"name": f"op{i}", "family": "dedup", "rows": 50, "latency_s": 1.0 + i}
        if stream:
            o["batches"] = [{"trigger_s": 0.5 + b / 10, "add_batch_s": 0.3, "plan_s": 0.05,
                             "commit_s": 0.02, "state_rows": 10, "state_memory_bytes": 2 ** 20,
                             "state_commit_s": 0.01} for b in range(5)]
        else:
            o.update(build_s=0.2, plan_s=0.01, exec_s=0.8 + i)
        if traced:
            o.update(exec_start_ms=0, exec_end_ms=1000, memo_builds=1, memo_reuses=1,
                     build=self.COUNTS, plan=self.COUNTS, exec=self.COUNTS)
        return o

    def record(self, trace, stream=False):
        return {"heap_retained_mb": 70.0, "passes": [
            {"traced": trace and p % 2 == 1, "wall_s": 3.0 + p, "gc_s": 0.1,
             "heap_peak_mb": 500.0,
             "ops": [self.op(i, trace and p % 2 == 1, stream) for i in range(4)]}
            for p in range(4)]}

    def test_end_to_end(self):
        want = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        for workload in ("corpus", "stream"):
            got = run.end_to_end(self.record(False, workload == "stream"), workload, 20.0)
            self.assertEqual({k: u for k, (_, u) in got.items()}, want)
            self.assertTrue(all(v > 0 for v, _ in got.values()))

    def test_batch_metrics_scale_per_op(self):
        rec = self.record(False, stream=True)
        for i, op in enumerate(rec["passes"][0]["ops"]):
            op["batches"][0]["trigger_s"] = 0.5 * (i + 1)  # ops of different speeds
        got = run.end_to_end(rec, "stream", 20.0)
        # every op's median batch is 0.7 s; 80 batches, so the tail rule
        # takes the 70th smallest scaled value, 0.9 / 0.7
        self.assertAlmostEqual(got["batch_p50_s"][0], 0.7)
        self.assertAlmostEqual(got["batch_tail_s"][0], 0.9)

    def test_per_layer(self):
        want = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
        for stream in (False, True):
            got = run.per_layer(self.record(True, stream), 4)
            self.assertEqual({k: run.unit_of(k) for k in got}, want)

    def test_driver_gap_and_busy_ratio(self):
        got = run.per_layer(self.record(True), 4)
        self.assertAlmostEqual(got["exec.driver_gap_s"], 4 * 0.5)  # 1 s action, 0.5 s of jobs
        self.assertAlmostEqual(got["memo.reuse_ratio"], 0.5)


if __name__ == "__main__":
    os.makedirs(run.WORK, exist_ok=True)
    unittest.main()
