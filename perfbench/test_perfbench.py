"""Tests of the benchmark's own code: statistics, span self time, failure
accounting, seeded inputs and the metric names BENCHMARK.json declares.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import collections
import hashlib
import json
import os
import shutil
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import oracle
import run
import stats


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        for n, pct in ((1000, 99.0), (200, 95.0), (100, 90.0), (40, 75.0),
                       (20, 50.0)):
            v, p, beyond = stats.tail([float(i) for i in range(n)])
            self.assertEqual(p, pct, n)
            self.assertGreaterEqual(beyond, stats.TAIL_MIN_BEYOND)
            self.assertEqual(beyond, sum(1 for i in range(n) if i > v))

    def test_small_sample_falls_back_to_median_with_its_count(self):
        v, p, beyond = stats.tail([5.0, 1.0, 3.0, 2.0, 4.0])
        self.assertEqual((v, p, beyond), (3.0, 50.0, 2))

    def test_tail_never_below_median(self):
        xs = [0.1 * ((i * 7) % 23) for i in range(37)]
        self.assertGreaterEqual(stats.tail(xs)[0], stats.p50(xs))


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [(1, 0, 1, "op", 0, 100),
                 (2, 1, 1, "build", 10, 30),
                 (3, 1, 1, "action", 20, 50),     # overlaps build
                 (4, 1, 1, "exec.job", 90, 120),  # runs past the parent
                 (5, 3, 1, "exec.job", 25, 35)]
        own = stats.self_times(spans)
        self.assertEqual(own[1], 100 - 40 - 10)
        self.assertEqual(own[3], 30 - 10)
        self.assertEqual(own[2], 20)
        table = stats.self_time_table(spans)
        self.assertAlmostEqual(table["exec.job"][0], 40e-6)

    def test_covered_clips_and_merges(self):
        self.assertEqual(stats.covered([(5, 8), (0, 3), (2, 6)], 1, 7), 6)
        self.assertEqual(stats.covered([], 0, 10), 0)


class FailureTest(unittest.TestCase):
    def test_thrown_checked_and_oracle_failures_count_once(self):
        ops = [{"name": "q_a", "error": ""},
               {"name": "q_b", "error": "NullPointerException: x"},
               {"name": "q_c", "error": ""},
               {"name": "q_b", "error": "answer differs"}]
        self.assertEqual(stats.failures(ops, {"q_c"}), (4, 3))
        self.assertEqual(stats.failures(ops[:1], {}), (1, 0))

    def op(self, name, secs, error=""):
        return {"kind": "query", "name": name, "t0_us": 0,
                "t1_us": int(secs * 1e6), "cpu_s": secs, "error": error,
                "traced": False}

    def test_failed_ops_are_not_timings_of_success(self):
        result = {"setup_s": 2.0, "rss_peak_mb": 1.0, "workload": "olap_mix"}
        good = [self.op(f"q_{i}", 1.0 + i) for i in range(25)]
        base, _ = stats.end_to_end(good, result)
        for bad in (self.op("q_x", 0.001, "NullPointerException: x"),
                    self.op("q_y", 500.0, "answer differs"),
                    self.op("q_wrong", 0.001)):
            e2e, notes = stats.end_to_end(good + [bad], result, {"q_wrong"})
            self.assertEqual(e2e, base)
            self.assertEqual(notes["ops"], 25)
        self.assertEqual(base["setup_s"], 2.0)

    def test_olap_hot_median_weighs_every_query_alike(self):
        result = {"setup_s": 1.0, "rss_peak_mb": 1.0, "workload": "olap_hot"}
        ops = [self.op(q, t * (1 + 0.01 * i))
               for q, t in (("q_a", 1.0), ("q_b", 2.0), ("q_c", 3.0),
                            ("q_d", 40.0))
               for i in range(10)]
        e2e, notes = stats.end_to_end(ops, result)
        self.assertAlmostEqual(e2e["op_p50_s"], (2.0 + 3.0) / 2 * 1.045)
        self.assertEqual(notes["samples_per_query"], 10)


class OverheadTest(unittest.TestCase):
    def op(self, name, secs, traced):
        return {"kind": "k" + name[-1], "name": name, "t0_us": 0,
                "t1_us": int(secs * 1e6), "traced": traced}

    def test_overhead_compares_one_mix(self):
        # the traced half holds more of the slow op; each op is 10 % slower
        # traced, and that is all the overhead reports
        traced = [self.op("q_a", 1.1, True)] + [self.op("q_b", 0.11, True)]
        plain = [self.op("q_a", 1.0, False)] + [
            self.op("q_b", 0.1, False) for _ in range(3)]
        self.assertAlmostEqual(stats.trace_overhead(traced, plain), 0.1)

    def test_overhead_falls_back_to_kinds(self):
        traced = [self.op("q_1", 2.0, True)]
        plain = [self.op("q_2", 1.0, False)]
        for o in traced + plain:
            o["kind"] = "query"
        self.assertAlmostEqual(stats.trace_overhead(traced, plain), 1.0)
        self.assertEqual(stats.trace_overhead(traced, []), 0.0)


class OracleTest(unittest.TestCase):
    def test_wrong_answers_are_reported(self):
        d = tempfile.mkdtemp()
        try:
            for q in ("q_ok", "q_value", "q_rows"):
                os.makedirs(os.path.join(d, "answers", q))
                pq.write_table(pa.table({"x": pa.array([1, 2], pa.int64())}),
                               os.path.join(d, "answers", q, "part.parquet"))
            rows = "SELECT x::BIGINT AS x FROM (VALUES {}) t(x)"
            registry = {"q_ok": rows.format("(1), (2)"),
                        "q_value": rows.format("(1), (3)"),
                        "q_rows": rows.format("(1)")}
            wrong = oracle.check_answers(os.path.join(d, "answers"), d,
                                         registry, d)
            self.assertEqual(sorted(wrong), ["q_rows", "q_value"])
        finally:
            shutil.rmtree(d)


class SeedTest(unittest.TestCase):
    def digest(self, seed):
        d = tempfile.mkdtemp()
        try:
            datagen.generate(d, seed, 0.001, ["orders", "documents", "events"])
            h = hashlib.sha256()
            for f in sorted(os.listdir(d)):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
            return h.hexdigest()
        finally:
            shutil.rmtree(d)

    def test_same_seed_same_tables(self):
        self.assertEqual(self.digest(3), self.digest(3))
        self.assertNotEqual(self.digest(3), self.digest(4))

    def plan(self, workload, seed):
        registry = {f"q_x{i}": "SELECT 1" for i in range(40)}
        registry.update({run.WARMUP: "SELECT 1", "q_table_t": "SELECT 1",
                         "cap_c": None})
        return run.make_plan(workload, seed, 10, 0, registry, "d", "w")

    def test_same_seed_same_plan(self):
        for w in run.WORKLOADS:
            self.assertEqual(self.plan(w, 5), self.plan(w, 5), w)
            self.assertNotEqual(self.plan(w, 5), self.plan(w, 6), w)

    def test_olap_mix_cycles_one_query_per_stratum(self):
        cycles = self.plan("olap_mix", 1)["cycles"]
        flat = [q for c in cycles for q in c]
        self.assertEqual(len(flat), len(set(flat)))
        self.assertTrue(all(len(c) == run.OLAP_STRATA for c in cycles))
        self.assertNotIn(run.WARMUP, flat)
        self.assertNotIn("q_table_t", flat)

    def test_lakehouse_prefixes_share_one_mix(self):
        cycles = self.plan("lakehouse", 1)["lake"]["cycles"]
        special = {"compact", "vacuum"}
        self.assertEqual({o["kind"] for o in cycles[0]},
                         set(run.LAKE_MIX) | special)
        self.assertTrue(all(len(c) == 1 for c in cycles[1:]))
        stream = [c[0]["kind"] for c in cycles[1:]]
        first = collections.Counter(stream[:run.LAKE_CYCLE])
        self.assertEqual(first, collections.Counter(
            run.LAKE_MIX, compact=len(run.LAKE_COMPACT_AT),
            vacuum=len(run.LAKE_VACUUM_AT)))
        reads = {"range_read", "needle", "sql_read", "time_travel", "changes"}
        share = sum(run.LAKE_MIX[k] for k in reads) / sum(run.LAKE_MIX.values())
        for n in (30, 45, 60, 150):
            ops = [k for k in stream[:n] if k not in special]
            self.assertAlmostEqual(sum(k in reads for k in ops) / len(ops),
                                   share, delta=0.06)
            for k, w in run.LAKE_MIX.items():
                self.assertLessEqual(
                    abs(ops.count(k) - w * len(ops) / sum(run.LAKE_MIX.values())),
                    2, (n, k))

    def test_cdc_batch_shares(self):
        cycles = self.plan("lakehouse", 2)["lake"]["cycles"]
        batch = next(o for c in cycles[1:] for o in c if o["kind"] == "merge")
        self.assertEqual(len(batch["rows"]), run.LAKE_BATCH)
        ops = collections.Counter(r[6] for r in batch["rows"])
        # 200 rows in the shares 1/5 : 1/11 : 1/19 -> 116 : 53 : 31
        self.assertEqual(ops, {"U": 116 + 31, "D": 53})
        self.assertEqual(len({r[0] for r in batch["rows"]}), run.LAKE_BATCH)


class SpecTest(unittest.TestCase):
    def test_benchmark_json_metrics_are_produced(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        ops = [{"kind": k, "name": "q_graph_x", "t0_us": 0,
                "t1_us": 10 ** 6 * (i + 1), "cpu_s": 1.0, "error": "",
                "traced": i % 2 == 0}
               for i, k in enumerate(["query", "merge", "needle"])]
        result = {"setup_s": 1.0, "rss_peak_mb": 1.0, "cores": 4,
                  "workload": "olap_mix", "counters": {}, "spans": [],
                  "code_cache_mb": 1.0}
        e2e, _ = stats.end_to_end(ops, result)
        layers = stats.per_layer(ops, result)
        for m in spec["end_to_end"]:
            self.assertIn(m["name"], e2e)
        for m in spec["per_layer"]:
            self.assertIn(m["name"], layers)
        self.assertLessEqual({w["name"] for w in spec["workloads"]},
                             set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
