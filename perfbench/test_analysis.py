"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import unittest

import analysis


def span(id_, parent, start, end, name="x", trace="rep0", attrs=None):
    return {"id": id_, "parent": parent, "trace": trace, "name": name,
            "start_ns": int(start * 1e9), "end_ns": int(end * 1e9), "attrs": attrs or {}}


class SelfTime(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertAlmostEqual(analysis.self_times([span(0, -1, 1, 3)])[0], 2.0)

    def test_sequential_children_are_subtracted(self):
        spans = [span(0, -1, 0, 10), span(1, 0, 1, 3), span(2, 0, 4, 8)]
        selfs = analysis.self_times(spans)
        self.assertAlmostEqual(selfs[0], 4.0)
        self.assertAlmostEqual(selfs[1], 2.0)
        self.assertAlmostEqual(selfs[2], 4.0)

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0, 10), span(1, 0, 1, 5), span(2, 0, 3, 7)]
        self.assertAlmostEqual(analysis.self_times(spans)[0], 4.0)

    def test_grandchildren_do_not_reduce_the_grandparent_twice(self):
        spans = [span(0, -1, 0, 10), span(1, 0, 2, 8), span(2, 1, 3, 5)]
        selfs = analysis.self_times(spans)
        self.assertAlmostEqual(selfs[0], 4.0)
        self.assertAlmostEqual(selfs[1], 4.0)
        self.assertAlmostEqual(selfs[2], 2.0)

    def test_child_running_past_its_parent_is_clipped(self):
        spans = [span(0, -1, 0, 4), span(1, 0, 3, 6)]
        self.assertAlmostEqual(analysis.self_times(spans)[0], 3.0)

    def test_self_times_per_trace_sum_to_the_root_wall(self):
        spans = [span(0, -1, 0, 10, "ingest"), span(1, 0, 1, 4, "fanout_write"),
                 span(2, 0, 5, 6, "checkpoint.commit_group"), span(3, -1, 11, 12, "metrics.observed")]
        t = analysis.per_trace(spans, analysis.self_times(spans), "rep")["rep0"]
        self.assertAlmostEqual(t["_wall"], 11.0)
        self.assertAlmostEqual(sum(v for k, v in t.items() if k != "_wall"), 11.0)


class Tail(unittest.TestCase):
    def test_no_tail_below_twenty_samples(self):
        self.assertIsNone(analysis.tail([float(i) for i in range(19)]))

    def test_twenty_samples_give_the_median(self):
        xs = [float(i) for i in range(1, 21)]
        self.assertEqual(analysis.tail(xs), (50, 10.0))

    def test_highest_percentile_with_ten_beyond(self):
        xs = [float(i) for i in range(1, 101)]
        # p90 leaves exactly 10 samples beyond, p95 only 5
        self.assertEqual(analysis.tail(xs), (90, 90.0))
        xs = [float(i) for i in range(1, 1001)]
        self.assertEqual(analysis.tail(xs), (99, 990.0))

    def test_ties_at_the_percentile_are_not_beyond_it(self):
        xs = [1.0] * 15 + [2.0] * 15
        # p50 is 1.0 with 15 beyond; p75 is 2.0 with none beyond
        self.assertEqual(analysis.tail(xs), (50, 1.0))

    def test_percentile_is_nearest_rank(self):
        self.assertEqual(analysis.percentile([3.0, 1.0, 2.0, 4.0], 50), 2.0)
        self.assertEqual(analysis.percentile([3.0, 1.0, 2.0, 4.0], 75), 3.0)


SPEC = {
    "end_to_end": [
        {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
        {"name": "ingest_turns_per_s", "unit": "turns/s", "better": "higher", "bound": 0.1},
        {"name": "sink_scan_turns_per_s", "unit": "turns/s", "better": "higher", "bound": 0.1},
        {"name": "metrics_read_s", "unit": "s", "better": "lower", "bound": 0.1},
        {"name": "write_amplification", "unit": "ratio", "better": "lower", "bound": 0.05},
    ],
    "per_layer": [],
}

RAW = {
    "trace": 0, "turns": 1000, "input_bytes": 500, "write_bytes": 1000,
    "attempted": 7, "failed": 0,
    "expected": {"sink_es": {"rows": 600}, "sink_ls": {"rows": 300},
                 "dropped": {"rows": 50}, "filtered": {"rows": 50}},
    "setup": {"session_start_s": 1.0, "warmup_input_s": 4.0, "build_s": [3.0, 2.0, 9.0],
              "warmup_s": [1.5, 0.5]},
    "series": {"run_s": [2.0, 1.0, 4.0], "metrics_read_s": [0.5, 0.25, 0.75],
               "sink_scan_s": [0.1, 0.2, 0.3], "probe_s": [analysis.PROBE_REF_S] * 3},
    "checks": [{"name": "c", "ok": True, "detail": ""}],
}


class Summary(unittest.TestCase):
    def test_summary_line_parses_as_json_with_exactly_the_contract_keys(self):
        summary, _ = analysis.reduce(RAW, SPEC)
        parsed = json.loads(analysis.summary_line(summary))
        self.assertEqual(set(parsed), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(parsed["correct"])
        self.assertEqual(parsed["attempted"], 7)
        self.assertEqual(set(parsed["metrics"]), {m["name"] for m in SPEC["end_to_end"]})
        for m in parsed["metrics"].values():
            self.assertEqual(set(m), {"value", "unit"})
        self.assertNotIn("\n", analysis.summary_line(summary))

    def test_end_to_end_values(self):
        summary, _ = analysis.reduce(RAW, SPEC)
        m = {k: v["value"] for k, v in summary["metrics"].items()}
        self.assertAlmostEqual(m["setup_s"], 1.0 + 4.0 + 3.0 + 2.0)
        self.assertAlmostEqual(m["ingest_turns_per_s"], 500.0)
        self.assertAlmostEqual(m["sink_scan_turns_per_s"], 950 / 0.2)
        self.assertAlmostEqual(m["metrics_read_s"], 0.5)
        self.assertAlmostEqual(m["write_amplification"], 2.0)

    def test_times_are_stated_at_the_reference_host_speed(self):
        # a host twice as fast as the reference: the probe and every time halve
        fast = dict(RAW, series={k: [x / 2 for x in v] for k, v in RAW["series"].items()},
                    setup={k: ([x / 2 for x in v] if isinstance(v, list) else v / 2)
                           for k, v in RAW["setup"].items()})
        self.assertAlmostEqual(analysis.host_speed(fast), 2.0)
        slow_summary, _ = analysis.reduce(RAW, SPEC)
        fast_summary, full = analysis.reduce(fast, SPEC)
        for name, m in slow_summary["metrics"].items():
            self.assertAlmostEqual(fast_summary["metrics"][name]["value"], m["value"])
        self.assertAlmostEqual(full["unscaled_metrics"]["ingest_turns_per_s"], 1000.0)

    def test_failed_check_or_error_is_not_correct(self):
        summary, _ = analysis.reduce(dict(RAW, failed=1), SPEC)
        self.assertFalse(summary["correct"])
        summary, _ = analysis.reduce({"trace": 0, "error": "boom"}, SPEC)
        self.assertFalse(summary["correct"])
        self.assertEqual(summary["failed"], 1)
        json.loads(analysis.summary_line(summary))


def traced_raw():
    """one traced rep and one round of cumulative plans"""
    spans = [
        span(0, -1, 0, 10, "ingest"),
        span(1, 0, 0, 0.5, "checkpoint.state_read"),
        span(2, 0, 0.5, 9.5, "group"),
        span(3, 2, 0.5, 6.5, "fanout_write"),
        span(4, 2, 6.5, 7.5, "checkpoint.commit_sinks"),
        span(5, 2, 7.5, 9.0, "checkpoint.merge_offsets", attrs={"bytes_rewritten": 300}),
        span(6, 2, 9.0, 9.5, "checkpoint.commit_group"),
        span(7, 0, 9.5, 10, "checkpoint.cleanup"),
        span(8, -1, 10, 11, "metrics.observed"),
        span(9, -1, 11, 13, "metrics.sink_scan"),
    ]
    walls = {"scan": 1.0, "parse": 3.0, "enrich_route": 3.5, "materialize": 5.0, "sort": 6.0, "encode": 9.0}
    t, i = 20.0, 10
    for step, w in walls.items():
        attrs = {"bytes_written": 2000, "files_written": 3} if step == "encode" else {}
        spans.append(span(i, -1, t, t + w, "plan." + step, trace="plans0", attrs=attrs))
        t, i = t + w, i + 1
    engine = {"s3": {"tasks": 4, "executor_busy_ms": 8000, "input_bytes_read": 500, "gc_ms": 100},
              "s5": {"tasks": 2, "executor_busy_ms": 1000, "input_bytes_read": 500},
              "s8": {"tasks": 5, "input_bytes_read": 400},
              "s14": {"spill_bytes": 7}, "": {"tasks": 99}}
    return {
        "trace": 1, "turns": 1000, "input_bytes": 500, "write_bytes": 1000,
        "attempted": 10, "failed": 0, "old_gen_peak_mb": 64.0,
        "series": {"run_s": [9.5], "metrics_read_s": [1.0], "sink_scan_s": [2.0], "n.run_s": [19.0]},
        "spans": spans, "engine": engine,
    }


class PerLayer(unittest.TestCase):
    def test_layer_metrics_from_spans_plans_and_engine(self):
        m = analysis.per_layer(traced_raw())
        self.assertAlmostEqual(m["scan.s"], 1.0)
        self.assertAlmostEqual(m["scan.mb_per_s"], 500 / 1e6)
        self.assertAlmostEqual(m["parse.self_s"], 2.0)
        self.assertAlmostEqual(m["parse.turns_per_s"], 500.0)
        self.assertAlmostEqual(m["enrich_route.self_s"], 0.5)
        self.assertAlmostEqual(m["materialize.self_s"], 1.5)
        self.assertAlmostEqual(m["sort.self_s"], 1.0)
        self.assertAlmostEqual(m["encode.self_s"], 3.0)
        self.assertEqual(m["encode.bytes_written"], 2000)
        self.assertEqual(m["sort.spill_bytes"], 7)
        self.assertAlmostEqual(m["fanout_write.s"], 6.0)
        self.assertAlmostEqual(m["checkpoint.merge_offsets.s"], 1.5)
        self.assertEqual(m["checkpoint.merge_bytes_rewritten"], 300)
        # state_read 0.5 + commit_sinks 1 + merge 1.5 + commit_group 0.5 + cleanup 0.5
        self.assertAlmostEqual(m["checkpoint.share"], 4.0 / 10)
        self.assertAlmostEqual(m["fanout_write.share"], 0.6)
        self.assertAlmostEqual(m["metrics.observed_s"], 1.0)
        self.assertAlmostEqual(m["metrics.sink_scan_s"], 2.0)
        self.assertAlmostEqual(m["trace.wall_s"], 10.0)
        self.assertAlmostEqual(m["trace.overhead_s"], 0.5)
        # only jobs under the traced ingest count: not the untraced ones (""),
        # nor the metrics read (s8)
        self.assertEqual(m["engine.tasks"], 6)
        self.assertAlmostEqual(m["engine.executor_busy_s"], 9.0)
        self.assertEqual(m["engine.input_bytes_read"], 1000)
        self.assertAlmostEqual(m["engine.scan_useful_ratio"], 0.5)
        self.assertAlmostEqual(m["scaling_eff_n_to_4n"], 19.0 / (4 * 9.5))
        self.assertEqual(m["failed_ops_frac"], 0.0)

    def test_every_per_layer_metric_of_the_benchmark_is_reported(self):
        with open(analysis.SPEC_PATH) as f:
            spec = json.load(f)
        summary, _ = analysis.reduce(traced_raw(), spec)
        self.assertTrue(summary["correct"])
        self.assertEqual(set(summary["metrics"]), {m["name"] for m in spec["per_layer"]})


if __name__ == "__main__":
    unittest.main()
