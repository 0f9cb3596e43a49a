"""Tests of the benchmark's statistics and of the record schema.

Run: python3 -m unittest discover -s perfbench/tests
"""
import json
import math
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
import run    # noqa: E402
import stats  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


class StatsTest(unittest.TestCase):
    def test_median_and_quartiles(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(stats.median(xs), 3.0)
        self.assertEqual(stats.median([1.0, 2.0]), 1.5)
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / 3.0)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(stats.geomean([3.0]), 3.0)
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail([float(i) for i in range(1, 101)]),
                         {"value": 90.0, "percentile": 90, "samples": 100})
        self.assertEqual(stats.tail([float(i) for i in range(1, 21)]),
                         {"value": 10.0, "percentile": 50, "samples": 20})
        # ten samples: no percentile has ten samples above it
        self.assertIsNone(stats.tail([float(i) for i in range(10)]))
        # ties are not "beyond"
        self.assertIsNone(stats.tail([1.0] * 50))

    def test_growth(self):
        self.assertEqual(stats.growth([1.0, 1.0, 1.0, 1.0, 2.0, 2.0, 2.0, 2.0]), 2.0)
        self.assertEqual(stats.growth([3.0, 4.0, 3.0]), 1.0)
        self.assertEqual(stats.growth([2.0]), 1.0)

    def test_regression_bound(self):
        self.assertTrue(stats.regressed(1.0, 1.2, 0.15, "lower"))
        self.assertFalse(stats.regressed(1.0, 1.1, 0.15, "lower"))
        self.assertFalse(stats.regressed(1.0, 0.5, 0.15, "lower"))
        self.assertTrue(stats.regressed(100.0, 80.0, 0.15, "higher"))
        self.assertFalse(stats.regressed(100.0, 90.0, 0.15, "higher"))
        with self.assertRaises(ValueError):
            stats.regressed(1.0, 1.0, 0.1, "sideways")

    def test_union_and_self_time(self):
        self.assertEqual(run._union_ms([(0, 2), (1, 3), (5, 6)], 0, 10), 4)
        self.assertEqual(run._union_ms([(0, 20)], 5, 10), 5)
        spans = [{"id": 0, "parent": -1, "kind": "run", "start": 0, "end": 10000},
                 {"id": 1, "parent": 0, "kind": "pass", "start": 0, "end": 8000},
                 {"id": 2, "parent": 1, "kind": "job", "start": 1000, "end": 3000},
                 {"id": 3, "parent": 1, "kind": "job", "start": 2000, "end": 4000}]
        self.assertEqual(run.self_times(spans), {"run": 2.0, "pass": 5.0, "job": 4.0})


def _spans_and_record(kind):
    """A minimal traced record + span list of each workload shape."""
    spans = [{"id": 0, "parent": -1, "kind": "run", "name": "run", "start": 0, "end": 1e5,
              "attrs": {}}]

    def span(i, parent, k, name, start, end, **attrs):
        spans.append({"id": i, "parent": parent, "kind": k, "name": name,
                      "start": start, "end": end, "attrs": attrs})

    stage_attrs = {"tasks": 4, "cpu_ns": 10**9, "run_ms": 1000, "gc_ms": 10,
                   "shuffle_write_bytes": 1 << 20, "shuffle_read_bytes": 1 << 20,
                   "fetch_wait_ms": 5, "spill_bytes": 0, "input_bytes": 1 << 20,
                   "input_rows": 1000, "task_wait_ms": 20}
    if kind == "queries":
        span(1, 0, "pass", "cold-0", 0, 3000)
        span(2, 0, "pass", "warm-1", 3000, 5500)
        span(3, 2, "query", "q", 3000, 5500)
        span(4, 3, "build", "q", 3000, 4000)
        span(5, 3, "exec", "q", 4000, 5000)
        span(6, 0, "hash-pass", "hash", 6000, 7000)
        span(7, 6, "hash", "q", 6000, 7000)
        span(1000000, 4, "job", "job 0", 3100, 3500, call_site="count at NearDup.scala:1")
        span(1000001, 5, "job", "job 1", 4100, 4900, call_site="save at Main.scala:1")
        span(1000002, 7, "job", "job 2", 6100, 6900, call_site="count at NearDup.scala:1")
        span(2000000, 1000001, "stage", "s", 4100, 4900, **stage_attrs)
        span(2000001, 1000002, "stage", "s", 6100, 6900, **stage_attrs)
        q = {"name": "q", "span": 3, "wall_s": 2.5, "build_s": 1.0,
             "ok": True, "leaked_rdds": 1, "leaked_bytes": 1024}
        rec = {"session_start_s": 1.0, "jit_cold_s": 2.0, "setup_s": 4.0,
               "attempted": 3, "failed": 0, "storage_peak_mb": 1.0,
               "rdd_block_peak_mb": 1.0,
               "passes": [{"kind": "cold", "span": 1, "wall_s": 3.0, "codegen_s": 0.5,
                           "codegen_classes": 7, "queries": [dict(q, span=1)]},
                          {"kind": "warm", "span": 2, "wall_s": 2.5, "codegen_s": 0.0,
                           "codegen_classes": 0, "queries": [q]}],
               "plan_events": [{"start": 4100, "analysis_ms": 1, "optimize_ms": 2,
                                "physical_ms": 3},
                               {"start": 6100, "analysis_ms": 9, "optimize_ms": 9,
                                "physical_ms": 9}]}
    else:
        ticks = []
        for k in range(4):
            t0 = 10000 * k
            span(10 + k, 0, "tick", f"tick-{k}", t0, t0 + 4000)
            for j, st in enumerate(("lsh", "pq", "nb", "pca")):
                span(100 + 10 * k + j, 10 + k, "sink", st, t0 + 1000 * j, t0 + 1000 * j + 900,
                     run_id=f"r{k}{j}")
            span(1000000 + k, 100 + 10 * k, "job", f"job {k}", t0 + 100, t0 + 800,
                 call_site="save at LabelStore.scala:9")
            span(2000000 + k, 1000000 + k, "stage", "s", t0 + 100, t0 + 800, **stage_attrs)
            ticks.append({"index": k, "span": 10 + k, "wall_s": 4.0 + k / 10, "ok": True,
                          "stages": {}, "codegen_s": 0.1, "codegen_classes": 3,
                          "written_bytes": 100, "leaked_rdds": 0, "leaked_bytes": 0})
        rec = {"session_start_s": 1.0, "jit_cold_s": 2.0, "setup_s": 4.0,
               "attempted": 12, "failed": 0, "storage_peak_mb": 1.0,
               "rdd_block_peak_mb": 1.0, "ticks": ticks,
               "serves": [{"index": k, "read": j, "wall_s": 0.5 + k / 10,
                           "pq_probe_s": 0.2, "labels_s": 0.3, "files_read": 2,
                           "pq_files": 8, "ok": True} for k in range(4) for j in range(2)],
               "docs_ingested": 1600, "written_bytes": 1000, "input_bytes": 800,
               "store_bytes": 900,
               "stores": {"sig_files": 10, "sig_bytes": 1 << 20, "labels_bytes": 1 << 10,
                          "labels_rewritten_bytes": 1 << 11, "pq_files": 32, "pairs": 50},
               "stream_events": [{"run_id": "r20", "duration_ms": {
                   "triggerExecution": 500, "queryPlanning": 50, "walCommit": 10,
                   "commitOffsets": 10}}]}
    return rec, spans


class SchemaTest(unittest.TestCase):
    def test_benchmark_json_contract(self):
        self.assertEqual(set(BENCH), {"command", "paths", "run_seconds", "workloads",
                                      "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(BENCH["workloads"]) <= 8)
        names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]] + \
            [w["name"] for w in BENCH["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for w in BENCH["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)
        bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))

    def test_layers_map_every_per_layer_metric(self):
        with open(os.path.join(BENCH_DIR, "layers.json")) as fh:
            layers = json.load(fh)
        self.assertEqual(set(layers), {m["name"] for m in BENCH["per_layer"]})
        e2e = {m["name"] for m in BENCH["end_to_end"]}
        wls = {w["name"] for w in BENCH["workloads"]}
        for name, l in layers.items():
            self.assertTrue(set(l["moves"]) <= e2e, name)
            self.assertTrue(set(l["on"]) <= wls, name)

    def test_every_metric_with_its_unit_for_every_workload(self):
        for w in BENCH["workloads"]:
            rec, spans = _spans_and_record(run.WORKLOADS[w["name"]]["kind"])
            unit = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
            for trace, metrics in ((0, run.end_to_end(rec, [4.0, 5.0, 6.0])),
                                   (1, run.per_layer(rec, spans, rec))):
                result = {"correct": True, "attempted": 1, "failed": 0,
                          "metrics": {k: {"value": v, "unit": unit[k]}
                                      for k, v in metrics.items()}}
                self.assertEqual(stats.check_result(result, BENCH, trace), [], (w, trace))

    def test_per_layer_attribution(self):
        rec, spans = _spans_and_record("queries")
        m = run.per_layer(rec, spans, rec)
        # the warm pass has one build job and one exec job; the untimed
        # hash pass after it is in no layer
        self.assertEqual(m["sched.jobs"], 2)
        self.assertEqual(m["queries.build_jobs"], 1)
        self.assertAlmostEqual(m["mod.NearDup.job_share"], 0.4 / 2.5)
        self.assertAlmostEqual(m["driver.gap_s"], (2500 - 400 - 800) / 1000)
        self.assertAlmostEqual(m["exec.cpu_s"], 1.0)
        self.assertEqual(m["codegen.classes"], 7)
        self.assertAlmostEqual(m["plan.physical_s"], 0.003)
        rec, spans = _spans_and_record("ticks")
        m = run.per_layer(rec, spans, rec)
        # warm ticks 2-3: tick 1, the first merge, is a warm-up
        self.assertEqual(run.WARM_TICK, 2)
        self.assertEqual(run.end_to_end(rec, [4.0])["warm_pass_s"], 4.25)
        self.assertAlmostEqual(m["tick.lsh_share"], 0.9 * 2 / (4.2 + 4.3))
        self.assertAlmostEqual(m["mod.LabelStore.job_share"], 0.7 * 2 / (4.2 + 4.3))
        self.assertAlmostEqual(m["probe.files_read_ratio"], 0.25)
        self.assertAlmostEqual(m["serve.pq_probe_share"], 0.2 / 0.7)
        self.assertAlmostEqual(m["stream.trigger_share"], 0.5 / (4.2 + 4.3))

    def test_serve_latency_and_overhead(self):
        def passes(times):
            return {"passes": [{"kind": "cold", "wall_s": 9.0, "queries": []}] + [
                {"kind": "warm", "wall_s": sum(ts.values()),
                 "queries": [{"name": q, "wall_s": t} for q, t in ts.items()]}
                for ts in times]}
        plain = passes([{"a": 1.0, "b": 4.0}, {"a": 3.0, "b": 4.0}])
        # per query median: a 2.0, b 4.0; geometric mean sqrt(8)
        self.assertAlmostEqual(run.serve_latency(plain), math.sqrt(8.0))
        traced = passes([{"a": 2.2, "b": 4.4}])
        o = run.overhead(traced, plain)
        self.assertAlmostEqual(o["ratio"], 6.6 / 6.0 - 1.0)
        self.assertEqual(o["ops"], 2)
        self.assertAlmostEqual(o["per_op_quartiles"][1], 0.1)
        rec, _ = _spans_and_record("ticks")
        # reads after ticks 1-3, not after the cold tick 0
        self.assertAlmostEqual(run.serve_latency(rec), 0.7)

    def test_check_result_flags_bad_records(self):
        unit = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
        good = {"correct": True, "attempted": 3, "failed": 0,
                "metrics": {k: {"value": 1.5, "unit": u} for k, u in unit.items()}}
        self.assertEqual(stats.check_result(good, BENCH, 0), [])
        name = next(iter(unit))
        bad = json.loads(json.dumps(good))
        del bad["metrics"][name]
        self.assertTrue(stats.check_result(bad, BENCH, 0))
        bad = json.loads(json.dumps(good))
        bad["metrics"][name]["unit"] = "furlongs"
        self.assertTrue(stats.check_result(bad, BENCH, 0))
        bad = json.loads(json.dumps(good))
        bad["metrics"][name]["value"] = math.nan
        self.assertTrue(stats.check_result(bad, BENCH, 0))
        bad = dict(good, attempted=True)
        self.assertTrue(stats.check_result(bad, BENCH, 0))
        bad = dict(good, extra=1)
        self.assertTrue(stats.check_result(bad, BENCH, 0))
        self.assertTrue(stats.check_result(good, BENCH, 1))


if __name__ == "__main__":
    unittest.main()
