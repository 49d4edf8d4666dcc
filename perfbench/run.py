"""Production-path benchmark of the transcript pipeline.

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 10 --trace 0

Builds the program from source (see build.py), runs one workload in one JVM
sized to the host, checks the outputs, prints every metric with its unit and,
as the last line, a JSON summary {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones of
BENCHMARK.json; with --trace 1 the per-layer ones, from a traced replay.
The full report goes to .bench_build/reports/. Exits non-zero when the build
fails, a correctness check fails or the run does not finish.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import analysis
import build

ROOT = build.ROOT
OUT = ROOT / ".bench_build"
JVM_TIMEOUT_S = 160

# what spark-submit passes to a JDK 17 driver
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap_mb():
    """a quarter of physical memory, between 1 and 4 GiB"""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return 2048
    return max(1024, min(4096, kb // 4096))


def jvm_command(classes, args, work, raw):
    cmd = [build.java(), f"-Xmx{heap_mb()}m", "-Xss16m", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(classes), "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--out", str(raw)]
    return cmd


def run_jvm(cmd):
    """Runs the harness in its own process group, so that a timeout or a
    signal to this process stops it and everything it started; returns its
    exit code or None on timeout."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads(analysis.SPEC_PATH.read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload}", file=sys.stderr)
        return 2
    try:
        classes = build.build(OUT)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    work = OUT / "work" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    raw_path = work / "raw.json"
    t0 = time.monotonic()
    try:
        code = run_jvm(jvm_command(classes, args, work, raw_path))
        if code is None or not raw_path.exists():
            print(f"harness did not finish (exit {code})", file=sys.stderr)
            return 3
        raw = json.loads(raw_path.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    raw["wall_s"] = time.monotonic() - t0
    raw.setdefault("trace", args.trace)

    summary, full = analysis.reduce(raw, spec)
    reports = OUT / "reports"
    reports.mkdir(parents=True, exist_ok=True)
    report_path = reports / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    report_path.write_text(json.dumps(full, indent=1))

    for name, m in summary["metrics"].items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    for c in full["checks"]:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}")
    print(f"correct={summary['correct']} attempted={summary['attempted']} "
          f"failed={summary['failed']} report={report_path.relative_to(ROOT)}")
    print(analysis.summary_line(summary))
    return 0 if summary["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
