"""Reduces the harness's raw JSON document to the benchmark's named metrics.

Timings are medians over every rep of a run; tails are the highest
percentile with at least ten samples beyond it. Span self time is the
span's duration minus the part of it that its child spans cover.
"""

import json
import math
import statistics
from collections import defaultdict
from pathlib import Path

SPEC_PATH = Path(__file__).resolve().parent.parent / "BENCHMARK.json"

PERCENTILES = (50, 75, 90, 95, 99, 99.9)

# The host-speed probe's median time on the reference host (4 vCPUs); the
# end-to-end times are reported as if measured at that speed, because a
# shared machine's speed drifts by tens of percent between runs.
PROBE_REF_S = 0.25

CHECKPOINT_SPANS = (
    "checkpoint.state_read",
    "checkpoint.commit_sinks",
    "checkpoint.merge_offsets",
    "checkpoint.commit_group",
    "checkpoint.cleanup",
)

# cumulative plans: each step's self time is its wall minus the previous one's
PLAN_STEPS = ("scan", "parse", "enrich_route", "materialize", "sort", "encode")

ENGINE_COUNTERS = (
    "tasks",
    "tasks_failed",
    "executor_busy_ms",
    "scheduler_wait_ms",
    "gc_ms",
    "spill_bytes",
    "input_bytes_read",
    "shuffle_write_bytes",
)


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100 * len(s)))
    return s[k - 1]


def tail(xs, min_beyond=10):
    """(percentile, value) of the highest percentile with at least
    `min_beyond` samples strictly above it, or None when there is none."""
    for p in sorted(PERCENTILES, reverse=True):
        if not xs:
            break
        v = percentile(xs, p)
        if sum(1 for x in xs if x > v) >= min_beyond:
            return p, v
    return None


def summarize(xs):
    t = tail(xs)
    return {
        "n": len(xs),
        "median": median(xs),
        "min": min(xs) if xs else None,
        "max": max(xs) if xs else None,
        "tail": {"percentile": t[0], "value": t[1]} if t else None,
    }


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, end = 0, lo
    for a, b in clipped:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans):
    """span id -> self time in seconds."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append((s["start_ns"], s["end_ns"]))
    return {
        s["id"]: (
            s["end_ns"] - s["start_ns"]
            - covered(children[s["id"]], s["start_ns"], s["end_ns"])
        ) / 1e9
        for s in spans
    }


def per_trace(spans, selfs, prefix):
    """trace id (only those starting with `prefix`) -> name -> summed self
    seconds, with the root spans' total wall under "_wall"."""
    out = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if not s["trace"].startswith(prefix):
            continue
        t = out[s["trace"]]
        t[s["name"]] += selfs[s["id"]]
        if s["parent"] < 0:
            t["_wall"] += (s["end_ns"] - s["start_ns"]) / 1e9
    return out


def engine_per_trace(spans, engine, root_name):
    """trace id -> engine counter -> sum over the jobs run under the trace's
    root span named `root_name`."""
    by_id = {s["id"]: s for s in spans}

    def root(s):
        while s["parent"] >= 0:
            s = by_id[s["parent"]]
        return s

    trace_of = {f"s{s['id']}": s["trace"] for s in spans if root(s)["name"] == root_name}
    out = defaultdict(lambda: defaultdict(int))
    for group, counters in engine.items():
        if group in trace_of:
            for k, v in counters.items():
                out[trace_of[group]][k] += v
    return out


def sink_turns(raw):
    """turns the read-committed sinks hold: every route but "filtered"."""
    return sum(v["rows"] for k, v in raw["expected"].items() if k != "filtered")


def host_speed(raw):
    """How much faster the host ran than the reference: the reference probe
    time over the run's median probe time (the probe is fixed CPU work the
    harness times between reps; it runs no program code)."""
    return PROBE_REF_S / median(raw["series"]["probe_s"])


def end_to_end(raw, speed=1.0):
    """End-to-end metrics with times stated at `speed` (see host_speed):
    a time measured on a host 1.2x faster than the reference counts 1.2x."""
    series = raw["series"]
    setup = raw["setup"]
    setup_s = (setup["session_start_s"] + setup["warmup_input_s"] + median(setup["build_s"])
               + sum(setup["warmup_s"]))
    return {
        "setup_s": setup_s * speed,
        "ingest_turns_per_s": raw["turns"] / (median(series["run_s"]) * speed),
        "metrics_read_s": median(series["metrics_read_s"]) * speed,
        "sink_scan_turns_per_s": sink_turns(raw) / (median(series["sink_scan_s"]) * speed),
        "write_amplification": raw["write_bytes"] / raw["input_bytes"],
    }


def per_layer(raw):
    spans = raw["spans"]
    engine = raw["engine"]
    selfs = self_times(spans)
    reps = per_trace(spans, selfs, "rep")
    plans = per_trace(spans, selfs, "plans")
    m = {}

    def rep_median(name):
        return median(t.get(name, 0.0) for t in reps.values())

    # fan-out steps from the cumulative plans
    walls = {step: [t.get("plan." + step, 0.0) for t in plans.values()] for step in PLAN_STEPS}
    m["scan.s"] = median(walls["scan"])
    m["scan.mb_per_s"] = raw["input_bytes"] / 1e6 / m["scan.s"]
    for prev, step in zip(PLAN_STEPS, PLAN_STEPS[1:]):
        m[f"{step}.self_s"] = median(b - a for a, b in zip(walls[prev], walls[step]))
    parse = m["parse.self_s"]
    m["parse.turns_per_s"] = raw["turns"] / parse if parse > 0 else 0.0
    encode_attrs = [s["attrs"] for s in spans if s["name"] == "plan.encode"]
    m["encode.bytes_written"] = median(a["bytes_written"] for a in encode_attrs)
    m["encode.files_written"] = median(a["files_written"] for a in encode_attrs)
    m["sort.spill_bytes"] = median(
        engine.get(f"s{s['id']}", {}).get("spill_bytes", 0) for s in spans if s["name"] == "plan.sort"
    )

    # the replayed production steps
    m["fanout_write.s"] = rep_median("fanout_write")
    for name in CHECKPOINT_SPANS:
        m[name + ".s"] = rep_median(name)
    merges = defaultdict(int)
    for s in spans:
        if s["name"] == "checkpoint.merge_offsets":
            merges[s["trace"]] += s["attrs"]["bytes_rewritten"]
    m["checkpoint.merge_bytes_rewritten"] = median(merges.values())
    ingest_walls = {
        s["trace"]: (s["end_ns"] - s["start_ns"]) / 1e9 for s in spans if s["name"] == "ingest"
    }
    m["checkpoint.share"] = median(
        sum(reps[k].get(n, 0.0) for n in CHECKPOINT_SPANS) / w for k, w in ingest_walls.items()
    )
    m["fanout_write.share"] = median(
        reps[k].get("fanout_write", 0.0) / w for k, w in ingest_walls.items()
    )
    m["metrics.observed_s"] = rep_median("metrics.observed")
    m["metrics.sink_scan_s"] = rep_median("metrics.sink_scan")

    # tracing overhead: the traced replay's wall minus the untraced run's
    m["trace.wall_s"] = median(ingest_walls.values())
    m["trace.overhead_s"] = m["trace.wall_s"] - median(raw["series"]["run_s"])

    # engine counters of the traced ingest, per rep
    eng = engine_per_trace(spans, engine, "ingest")
    per_rep = {k: median(e.get(k, 0) for e in eng.values()) for k in ENGINE_COUNTERS}
    for k in ("tasks", "tasks_failed", "spill_bytes", "input_bytes_read", "shuffle_write_bytes"):
        m["engine." + k] = per_rep[k]
    for k in ("executor_busy", "scheduler_wait", "gc"):
        m[f"engine.{k}_s"] = per_rep[k + "_ms"] / 1e3
    read = per_rep["input_bytes_read"]
    m["engine.scan_useful_ratio"] = raw["input_bytes"] / read if read > 0 else 0.0

    # the ingest at N and 4N threads: thr(4N) / (4 thr(N)) from median walls
    m["scaling_eff_n_to_4n"] = median(raw["series"]["n.run_s"]) / (4 * median(raw["series"]["run_s"]))
    m["jvm.old_gen_peak_mb"] = raw["old_gen_peak_mb"]
    m["failed_ops_frac"] = raw["failed"] / raw["attempted"]
    return m


def reduce(raw, spec):
    """(summary, full report). `spec` is the parsed BENCHMARK.json."""
    traced = raw["trace"] == 1
    wanted = spec["per_layer"] if traced else spec["end_to_end"]
    ok = "error" not in raw and raw.get("failed", 1) == 0
    values = {}
    if "error" not in raw:
        values = per_layer(raw) if traced else end_to_end(raw, host_speed(raw))
    metrics = {
        w["name"]: {"value": values[w["name"]], "unit": w["unit"]}
        for w in wanted
        if w["name"] in values
    }
    ok = ok and len(metrics) == len(wanted)
    summary = {
        "correct": ok,
        "attempted": max(1, int(raw.get("attempted", 0))),
        "failed": int(raw.get("failed", 0)) if "error" not in raw else max(1, int(raw.get("failed", 0))),
        "metrics": metrics,
    }
    full = {
        "summary": summary,
        "all_metrics": values,
        "unscaled_metrics": None if traced or "error" in raw else end_to_end(raw),
        "host_speed": None if traced or "error" in raw else host_speed(raw),
        "timings": {k: summarize(v) for k, v in raw.get("series", {}).items()},
        "checks": raw.get("checks", []),
        "raw": {k: v for k, v in raw.items() if k not in ("spans", "engine")},
    }
    if traced and "spans" in raw:
        selfs = self_times(raw["spans"])
        wall = {}
        for s in raw["spans"]:
            if s["parent"] < 0:
                wall[s["trace"]] = wall.get(s["trace"], 0) + (s["end_ns"] - s["start_ns"]) / 1e9
        full["spans"] = [
            dict(s, self_s=selfs[s["id"]], share=selfs[s["id"]] / wall[s["trace"]] if wall[s["trace"]] else 0.0)
            for s in raw["spans"]
        ]
        full["engine"] = raw.get("engine", {})
    return summary, full


def summary_line(summary):
    return json.dumps(summary, separators=(",", ":"))
