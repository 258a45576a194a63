"""Tests of the benchmark itself (no Spark needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import decimal
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import diff  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


class SeededPlanTest(unittest.TestCase):
    single = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture", "sf0.01")

    def plan(self, name, seed):
        return workloads.plan(workloads.WORKLOADS[name], seed, self.single)

    def test_same_seed_same_plan(self):
        for name in workloads.WORKLOADS:
            a, b = self.plan(name, 7), self.plan(name, 7)
            self.assertEqual(a, b)

    def test_seed_fixes_order_pages_and_kernel_inputs(self):
        a, b = self.plan("reader", 1), self.plan("reader", 2)
        self.assertNotEqual(a["passes"][0], b["passes"][0])
        lookups = lambda p: [o for o in p["passes"][0] if o.startswith("lookup:")]  # noqa: E731
        self.assertNotEqual(lookups(a), lookups(b))
        self.assertEqual(lookups(a), lookups(self.plan("reader", 1)))
        for k in ("micro_docs", "micro_pairs", "micro_vecs"):
            self.assertNotEqual(a[k], b[k])
            self.assertEqual(a[k], self.plan("reader", 1)[k])

    def test_every_pass_runs_every_op_once(self):
        p = self.plan("reader", 3)
        wl = workloads.WORKLOADS["reader"]
        want = sorted([f"q:{q}" for q in wl.queries] + list(wl.direct))
        self.assertEqual(len(p["warm"]), workloads.WARM_PASSES)
        for ps in p["warm"] + p["passes"]:
            seeded = {"lookup": 1, "range": 2, "write": 3}
            got = sorted(":".join(o.split(":")[:len(o.split(":")) - seeded.get(o.split(":")[0], 0)])
                         for o in ps)
            self.assertEqual(got, want)

    def test_skewed_pairs_pair_short_with_long(self):
        import pyarrow.parquet as pq
        d = pq.read_table(os.path.join(self.single, "documents.parquet")).to_pydict()
        n_chars = dict(zip(d["doc_id"], d["n_chars"]))
        pairs = [tuple(map(int, x.split(","))) for x in self.plan("pipeline", 5)["micro_pairs"]]
        skewed = pairs[workloads.MICRO_PAIRS:]
        self.assertEqual(len(skewed), workloads.MICRO_SKEWED)
        self.assertTrue(all(n_chars[a] < n_chars[b] for a, b in skewed))


class StatsTest(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))
        value, pct, beyond = stats.tail(xs)
        self.assertEqual((value, pct, beyond), (90, 90.0, 10))
        value, pct, beyond = stats.tail(list(range(11)))
        self.assertEqual((value, beyond), (0, 10))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_tail_unresolved_below_eleven_samples(self):
        self.assertEqual(stats.tail([3, 1, 2]), (3, 100.0, 0))

    def test_union_length_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_children_once(self):
        spans = [(1, -1, 1, "op", 0, 100),
                 (2, 1, 1, "action", 10, 90),
                 (3, 2, 1, "spark.job", 20, 50),
                 (4, 2, 1, "spark.job", 40, 70),   # overlaps job 3
                 (5, 3, 1, "spark.stage", 20, 30)]
        st = stats.self_times(spans)
        self.assertEqual(st, {1: 20, 2: 30, 3: 20, 4: 30, 5: 10})
        self.assertEqual(stats.self_time_by_name(spans)["spark.job"], 50)

    def test_quartile_spread(self):
        self.assertAlmostEqual(stats.quartile_spread([10] * 10), 0.0)
        self.assertGreater(stats.quartile_spread(list(range(1, 11))), 0.5)


class ChecksTest(unittest.TestCase):
    def test_render_matches_the_jvm_encoding(self):
        self.assertEqual(checks.render(1.0), "d3ff0000000000000")
        self.assertEqual(checks.render(5), "5")
        self.assertEqual(checks.render(True), "true")
        self.assertEqual(checks.render(None), "<null>")
        self.assertEqual(checks.render(decimal.Decimal("0.000000")), "0.000000")
        self.assertEqual(checks.render(datetime.datetime(1970, 1, 1, 0, 0, 1)), "t1000000")
        self.assertEqual(checks.render(datetime.date(1970, 1, 11)), "D10")
        self.assertEqual(checks.render({"b": 1, "a": [1.0, None]}),
                         "{a:[d3ff0000000000000,<null>],b:1}")

    def test_digest_ignores_row_order(self):
        self.assertEqual(checks.digest_lines(["a", "b"]), checks.digest_lines(["b", "a"]))
        self.assertNotEqual(checks.digest_lines(["a"]), checks.digest_lines(["a", "a"]))

    def test_verdicts(self):
        oracle = {"x1": {"digest": "d", "rows": 2}}
        expected = {"rows": {"x2": 3}, "digests": {"footer:lineitem": "f"}}
        ok = {"cache_before": 0}
        v = lambda **o: checks.verdict({**ok, **o}, oracle, expected)  # noqa: E731
        self.assertIsNone(v(op="q:x1", digest="d", rows=2))
        self.assertIn("DuckDB", v(op="q:x1", digest="e", rows=2))
        self.assertIsNone(v(op="q:x2", digest="z", rows=3))
        self.assertIn("pinned", v(op="q:x2", digest="z", rows=4))
        self.assertIn("no oracle", v(op="q:x3", digest="z", rows=4))
        self.assertIsNone(v(op="footer:lineitem", digest="f", rows=1))
        self.assertIsNotNone(v(op="footer:lineitem", digest="g", rows=1))
        self.assertIsNone(v(op="lookup:lineitem:0.5", digest="g", rows=1, self_ok=True))
        self.assertIn("self-check", v(op="range:lineitem:0.5:1.0", digest="g", rows=1,
                                      self_ok=False))
        self.assertEqual("IllegalStateException: boom (root cause java.io.EOFException)",
                         v(op="q:x1", error_class="IllegalStateException", error="boom",
                           root_class="java.io.EOFException"))
        self.assertIn("CacheManager", v(op="q:x1", digest="d", rows=2, cache_before=1))

    def test_accumulator_errors_are_charged_to_the_last_op(self):
        log = ["[perfbench] op-begin 1", "x ERROR DAGScheduler: Failed to update accumulator 7",
               "[perfbench] op-end 1", "y ERROR DAGScheduler: Failed to update accumulator 8",
               "[perfbench] op-begin 2", "z WARN something", "[perfbench] op-end 2"]
        self.assertEqual(checks.accumulator_errors(log), {1: 2})


class DiffTest(unittest.TestCase):
    def test_ratio_printed_with_base(self):
        art = lambda v: {"workload": "reader", "trace": 0,  # noqa: E731
                         "metrics": {"ops_per_s": {"value": v, "unit": "1/s"}}}
        lines = diff.diff({("reader", 0): [art(2.0), art(4.0)]}, {("reader", 0): [art(6.0)]})
        self.assertIn("ops_per_s: 6 1/s vs base 3 1/s = 2.000x (medians of 1 and 2 runs)",
                      lines[1])
        lines = diff.diff({("reader", 0): [art(2.0), art(2.0)]},
                          {("reader", 0): [art(4.0), art(4.0)]})
        self.assertIn("2.000x (medians of 2 and 2 runs; spreads 0.000 and 0.000)", lines[1])


class ContractTest(unittest.TestCase):
    """The report emits exactly the metrics BENCHMARK.json declares."""

    def samples(self):
        trace = {"jobs": 1, "stages": 1, "tasks": 4, "job_intervals": [[2, 8]],
                 "task_cpu_s": 1.0, "task_run_s": 1.0, "gc_s": 0.0, "spill_bytes": 0,
                 "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "fetch_wait_s": 0.0,
                 "qe_count": 1, "scan_files": 1,
                 "scan_bytes": 1, "scan_rows": 1, "scan_time_s": 0.1, "build_cpu_s": 0.0}
        micro = {k: 1.0 for k in ("ws_tokens_ns", "minhash_ns", "portable_minhash_ns",
                                  "simhash_ns", "ngram_hashes_ns", "dot_ns",
                                  "jaccard_sorted_ns")}
        return {"launch_epoch_s": 100.0, "setup_end_epoch_s": 103.5, "session_s": 1.0,
                "mirror_s": 0.5, "warmup_s": 2.0, "peak_rss_kb": 2048,
                "loop_wall_s": 1.0, "passes": 1, "cores": 4,
                "micro": {**micro, "jaccard_sorted_agrees": True},
                "spans": [[1, -1, 1, "op", 0, 10], [2, 1, 1, "action", 1, 9]],
                "ops": [{"id": 1, "pass": 0, "op": "q:x1", "wall_s": 1.0, "cpu_s": 2.0,
                         "rchar": 0, "cache_before": 0, "cache_after": 0, "digest": "d",
                         "rows": 1, "bytes": 0, "files": 0, "in_bytes": 0,
                         "trace": trace}]}

    def declared(self, section):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
        with open(path) as f:
            return {m["name"]: m["unit"] for m in json.load(f)[section]}

    def emitted(self, traced):
        rep = checks.report(self.samples(),
                            {"x1": {"digest": "d", "rows": 1}}, {"rows": {}, "digests": {}},
                            {}, traced)
        self.assertTrue(rep["correct"])
        return {k: v["unit"] for k, v in rep["metrics"].items()}

    def test_end_to_end_metrics(self):
        self.assertEqual(self.emitted(False), self.declared("end_to_end"))

    def test_per_layer_metrics(self):
        self.assertEqual(self.emitted(True), self.declared("per_layer"))

    def report(self, samples):
        return checks.report(samples, {"x1": {"digest": "d", "rows": 1}},
                             {"rows": {}, "digests": {}}, {}, False)

    def test_setup_runs_from_launch_to_the_first_measured_op(self):
        self.assertEqual(self.report(self.samples())["metrics"]["setup_s"]["value"], 3.5)

    def test_latency_percentiles_use_every_measured_op(self):
        s = self.samples()
        op = s["ops"][0]
        # 3 passes of 10 op kinds: kind k takes k seconds in passes 0 and 1
        # and 10k seconds in pass 2; 30 samples leave 19 below the tail
        s["ops"] = [{**op, "id": 10 * p + k + 1, "pass": p, "op": "q:x1",
                     "wall_s": float(k if p < 2 else 10 * k)}
                    for p in range(3) for k in range(1, 11)]
        rep = self.report(s)
        want = sorted(o["wall_s"] for o in s["ops"])
        self.assertEqual(rep["metrics"]["op_tail_s"]["value"], want[19])
        self.assertEqual(rep["detail"]["op_tail_samples_beyond"], 10)
        self.assertAlmostEqual(rep["detail"]["op_tail_percentile"], 100 * 20 / 30)
        self.assertEqual(rep["metrics"]["op_p50_s"]["value"], (want[14] + want[15]) / 2)
        self.assertEqual(rep["detail"]["op_samples"], 30)


if __name__ == "__main__":
    unittest.main()
