"""Tests of the benchmark's own logic (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime as dt
import filecmp
import json
import os
import statistics
import tempfile
import unittest

import numpy as np

import bench
import datagen

PHASES = [("cold", 30), ("live", 20), ("warm1", 10), ("warm2", 10)]


def stored_rows(plan):
    """The warehouse a correct pipeline would leave: every valid payload
    once, with a job id and a load stamp."""
    rows = []
    for i, (_, _, _, _, row) in enumerate(plan):
        if row is not None:
            rows.append(dict(row, job_id=f"{i:08x}-0000-4000-8000-000000000000",
                             last_updated="2026-01-01 00:00:00"))
    return rows


class DatagenTest(unittest.TestCase):

    def test_same_seed_gives_identical_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            datagen.write_bpi(a, 7, PHASES, 10.0)
            datagen.write_bpi(b, 7, PHASES, 10.0)
            names = sorted(os.listdir(os.path.join(a, "stage")))
            self.assertEqual(names, sorted(os.listdir(os.path.join(b, "stage"))))
            _, mismatch, errors = filecmp.cmpfiles(
                os.path.join(a, "stage"), os.path.join(b, "stage"), names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            for f in ("schedule.tsv", "expected.jsonl", "rates.parquet"):
                self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False), f)

    def test_other_seed_gives_other_payloads(self):
        p1, _ = datagen.bpi_plan(1, PHASES, 10.0)
        p2, _ = datagen.bpi_plan(2, PHASES, 10.0)
        self.assertNotEqual([x[3] for x in p1], [x[3] for x in p2])

    def test_tables_are_deterministic(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            datagen.write_tables(a, 0.001)
            datagen.write_tables(b, 0.001)
            for name in sorted(os.listdir(a)):
                self.assertTrue(filecmp.cmp(os.path.join(a, name), os.path.join(b, name),
                                            shallow=False), name)

    def test_payload_shape(self):
        plan, fx = datagen.bpi_plan(3, [("cold", 200), ("live", 100), ("warm1", 200)], 10.0)
        corrupt = [p for p in plan if p[4] is None]
        self.assertTrue(0 < len(corrupt) < 0.05 * len(plan))
        offsets = set()
        for phase, name, offset_ms, text, row in plan:
            if row is None:
                with self.assertRaises(json.JSONDecodeError):
                    json.loads(text)
                continue
            body = json.loads(text)
            iso = dt.datetime.fromisoformat(body["time"]["updatedISO"])
            offsets.add(iso.utcoffset())
            utc = iso.astimezone(dt.timezone.utc)
            self.assertEqual(utc.strftime("%Y-%m-%d %H:%M:%S"), row["time_updated_iso"])
            self.assertTrue(body["time"]["updated"].endswith(" UTC"))
            self.assertIn(",", body["bpi"]["USD"]["rate"])
            self.assertEqual(row["bpi_idr_rate_float"], row["bpi_usd_rate_float"] * fx[utc.date()])
        self.assertGreater(len(offsets), 2)
        live = [p[2] for p in plan if p[0] == "live"]
        self.assertEqual(live, [1000.0 * i / 10.0 for i in range(100)])


class BpiCheckTest(unittest.TestCase):

    def setUp(self):
        self.plan, _ = datagen.bpi_plan(11, PHASES, 10.0)
        self.expected = [{"name": n, "phase": ph, "row": row} for ph, n, _, _, row in self.plan]
        self.rows = stored_rows(self.plan)

    def check(self, rows):
        _, failures, _ = bench.check_bpi(self.expected, {"part-0.parquet": rows})
        return [f["problem"] for f in failures]

    def test_correct_warehouse_passes(self):
        attempted, failures, stored = bench.check_bpi(self.expected, {"part-0.parquet": self.rows})
        self.assertEqual(failures, [])
        self.assertEqual(attempted, len(self.plan))
        self.assertEqual(len(stored), len(self.rows))

    def test_dropped_row_is_detected(self):
        self.assertEqual(self.check(self.rows[1:]), ["missing"])

    def test_duplicated_row_is_detected(self):
        self.assertEqual(self.check(self.rows + [self.rows[5]]), ["duplicated"])

    def test_altered_row_is_detected(self):
        rows = [dict(r) for r in self.rows]
        rows[3]["bpi_idr_rate_float"] += 0.01
        self.assertEqual(self.check(rows), ["wrong values"])
        rows = [dict(r) for r in self.rows]
        rows[4]["job_id"] = "not-a-uuid"
        self.assertEqual(self.check(rows), ["wrong values"])

    def test_unknown_row_is_detected(self):
        stray = dict(self.rows[0], time_updated_iso="1999-01-01 00:00:00")
        self.assertEqual(self.check(self.rows + [stray]), ["unexpected row"])


class PercentileTest(unittest.TestCase):

    def test_matches_numpy(self):
        rng = np.random.default_rng(0)
        for n in (1, 2, 3, 10, 101):
            xs = list(rng.exponential(10.0, n))
            for q in (0, 1, 25, 50, 90, 99, 100):
                self.assertAlmostEqual(bench.percentile(xs, q), float(np.percentile(xs, q)))

    def test_median(self):
        self.assertEqual(bench.median([3, 1, 2]), 2)
        self.assertEqual(bench.median([4, 1, 2, 3]), statistics.median([4, 1, 2, 3]))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            bench.percentile([], 50)


class QueryCheckTest(unittest.TestCase):

    expected = {"a": {"fp": "3:1:2", "rows": 3, "oracle": True},
                "b": {"fp": "5:7:7", "rows": 5, "oracle": False}}

    def failures(self, queries):
        return bench.check_queries([{"kind": "warm", "queries": queries}], self.expected)

    def test_matching_results_pass(self):
        self.assertEqual(self.failures([{"name": "a", "fp": "3:1:2", "rows": 3},
                                        {"name": "b", "fp": "5:0:0", "rows": 5}]), (2, []))

    def test_wrong_and_failed_queries_are_named(self):
        attempted, failures = self.failures([
            {"name": "a", "fp": "3:1:3", "rows": 3},
            {"name": "b", "fp": "4:7:7", "rows": 4},
            {"name": "a", "error": {"class": "java.lang.RuntimeException", "message": "boom"}},
            {"name": "c", "fp": "1:1:1", "rows": 1}])
        self.assertEqual(attempted, 4)
        self.assertEqual([(f["query"], f["class"]) for f in failures], [
            ("a", "WrongResult"), ("b", "WrongResult"), ("a", "java.lang.RuntimeException"),
            ("c", "NoExpectation")])

    def test_every_workload_query_has_an_expectation(self):
        recorded = bench.load_expected()
        for n in bench.QUERIES:
            self.assertIn(n, recorded)


class QueryMetricsTest(unittest.TestCase):

    @staticmethod
    def fork(setup_s, pass_ms, heap_mb):
        """A harness output whose passes (cold first, then warm) time
        queries a and b at the given milliseconds."""
        passes = [{"kind": "cold" if i == 0 else "warm",
                   "total_s": (a + b) / 1e3,
                   "queries": [{"name": "a", "ms": a, "rows": 2}, {"name": "b", "ms": b, "rows": 3}]}
                  for i, (a, b) in enumerate(pass_ms)]
        return {"setup_s": [{"total_s": setup_s}], "passes": passes, "heap_mb": heap_mb}

    def test_figures_pool_the_forks(self):
        forks = [self.fork(8.0, [(900, 1100), (300, 500), (400, 200)], 90.0),
                 self.fork(10.0, [(1000, 1200), (500, 700), (250, 600)], 94.0)]
        m = bench.query_metrics(forks)
        self.assertEqual(m["setup_s"], 9.0)
        self.assertEqual(m["cold_s"], 2.0)
        # each query's fastest warm execution over both forks: a 250, b 200
        self.assertAlmostEqual(m["warm_s"], 0.45)
        self.assertAlmostEqual(m["latency_p50_ms"], 225.0)
        self.assertAlmostEqual(m["latency_p90_ms"], 245.0)
        self.assertAlmostEqual(m["flush_rows_per_s"], 5 / 0.45)
        self.assertEqual(m["heap_mb"], 92.0)


class BpiMetricsTest(unittest.TestCase):

    @staticmethod
    def fork(setup_s, cold_s, warm_s, live_ms, heap_mb):
        """A harness output whose live payloads p0, p1, ... were due at 0 ms
        and stored by batches returning at the given milliseconds."""
        return {"setup_s": [{"total_s": setup_s}], "drains": {"cold": cold_s, "warm": warm_s},
                "landed": [{"name": f"p{i}", "due_ms": 0.0} for i in range(len(live_ms))],
                "batches": [{"return_ms": ms, "files": [f"part-{i}"]} for i, ms in enumerate(live_ms)],
                "heap_mb": heap_mb}

    def test_figures_pool_the_forks(self):
        expected = ([{"name": f"p{i}", "phase": "live", "row": {}} for i in range(3)]
                    + [{"name": "bad", "phase": "live", "row": None}]
                    + [{"name": f"w{i}", "phase": "warm", "row": {}} for i in range(4)])
        stored = {f"p{i}": f"part-{i}" for i in range(3)}
        forks = [self.fork(8.0, 5.0, 2.0, [100.0, 200.0, 300.0], 70.0),
                 self.fork(9.0, 6.0, 1.6, [400.0, 500.0, 600.0], 72.0)]
        m = bench.bpi_metrics(forks, expected, [stored, stored])
        self.assertEqual(m["setup_s"], 8.5)
        self.assertEqual((m["cold_s"], m["warm_s"]), (5.0, 1.6))
        # percentiles over the six live latencies of both forks
        self.assertAlmostEqual(m["latency_p50_ms"], 350.0)
        self.assertAlmostEqual(m["latency_p90_ms"], 550.0)
        self.assertAlmostEqual(m["flush_rows_per_s"], 4 / 1.6)
        self.assertEqual(m["heap_mb"], 71.0)


class ContractTest(unittest.TestCase):

    def test_benchmark_json_matches_the_code(self):
        with open(os.path.join(bench.HERE, "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]], bench.workloads())
        self.assertEqual([m["name"] for m in spec["end_to_end"]], bench.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, bench.UNITS)
        self.assertEqual([m["name"] for m in spec["per_layer"]], bench.PER_LAYER)
        self.assertEqual([m["unit"] for m in spec["per_layer"]],
                         [bench.layer_unit(n) for n in bench.PER_LAYER])


if __name__ == "__main__":
    unittest.main()
