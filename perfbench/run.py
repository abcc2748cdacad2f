"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_commit --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  It generates the workload's inputs
from the seed, starts one ``local[<nproc>]`` session in this process,
warms up, runs the workload as a closed loop (one job at a time) for
``--seconds``, checks every iteration's output and prints one JSON
object as the last line of standard output.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics of a
traced run instead (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# a traced run alternates traced and untraced iterations, at least
# this many of each, to measure the tracing overhead
MIN_TRACE_PAIRS = 2


def metric_units(kind: str) -> dict:
    """{metric name: unit} for ``end_to_end`` or ``per_layer``, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def process_start_time() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def timed_window(wl, seconds: float, first: int) -> tuple:
    """Closed loop for ``seconds``; returns (metrics, iteration ids)."""
    from perfbench import harness

    pid = os.getpid()
    cpu0 = harness.tree_cpu_rss(pid)[0]
    walls, peaks = [], []
    with harness.TreeSampler(pid) as sampler:
        t0 = time.perf_counter()
        sampler.lap()
        while time.perf_counter() - t0 < seconds:
            a = time.perf_counter()
            wl.iterate(first + len(walls))
            walls.append(time.perf_counter() - a)
            peaks.append(sampler.lap())
        elapsed = time.perf_counter() - t0
    cpu = harness.tree_cpu_rss(pid)[0] - cpu0
    docs = wl.docs * len(walls)
    metrics = {
        "docs_per_s": docs / elapsed,
        "job_s": statistics.median(walls),
        "cpu_s_per_kdoc": cpu / docs * 1e3,
        # median of the per-iteration peaks: one iteration whose Python
        # workers briefly overlap the next job's does not set the metric
        "peak_rss_mb": statistics.median(peaks) / 1e6,
    }
    return metrics, list(range(first, first + len(walls)))


def traced_window(wl, spark, seconds: float, first: int, trace_path: str) -> tuple:
    """Alternate untraced and traced iterations; per-layer metrics are
    medians over the traced ones."""
    from perfbench import trace

    tracer = trace.Tracer()
    probe = trace.SparkProbe(spark)
    layers = wl.kernel_metrics()
    root = tracer.add(f"workload:{wl.name}", time.time(), 0.0, None, 0)
    plain, traced, per_iter, unaccounted = [], [], [], []
    i = first
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds or len(traced) < MIN_TRACE_PAIRS:
        a = time.perf_counter()
        wl.iterate(i)
        plain.append(time.perf_counter() - a)
        i += 1
        a = time.perf_counter()
        probe.mark()
        calls = wl.iterate(i)
        it_span = tracer.add("iteration", calls[0].start, calls[-1].end, root, i)
        call_spans = {
            tracer.add(c.name, c.start, c.end, it_span, i): (c.name, c.start, c.end)
            for c in calls
        }
        execs, stages = trace.record_spark_spans(tracer, probe, call_spans, i)
        traced.append(time.perf_counter() - a)
        m = wl.layer_metrics(calls, execs, stages)
        m["spark.stages"] = len(stages)
        m["spark.tasks"] = sum(s.num_tasks for s in stages.values())
        per_iter.append(m)
        unaccounted.append(
            trace.uncovered_share(
                calls[0].start, calls[-1].end, [(s.start, s.end) for s in stages.values()]
            )
        )
        i += 1
    for name in per_iter[0]:
        layers[name] = statistics.median(m[name] for m in per_iter)
    layers["trace.overhead_frac"] = statistics.median(traced) / statistics.median(plain) - 1
    layers["trace.unaccounted_frac"] = statistics.median(unaccounted)
    layers.update(wl.final_metrics(i - 1))
    tracer.spans[root].end = time.time()
    tracer.write(trace_path)
    return layers, list(range(first, i))


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    started = process_start_time()

    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        parser.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    bench_dir = os.path.join(ROOT, ".perfbench")
    work = harness.fresh_dir(os.path.join(bench_dir, f"work-{os.getpid()}"))
    spark = harness.build_session(work, harness.nproc(), ROOT)
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.setup()
        for i in range(wl.warmup):
            wl.iterate(i)
        setup_s = time.time() - started
        if args.trace:
            trace_path = os.path.join(bench_dir, f"trace-{args.workload}-{args.seed}.json")
            metrics, timed = traced_window(wl, spark, args.seconds, wl.warmup, trace_path)
            units = metric_units("per_layer")
        else:
            metrics, timed = timed_window(wl, args.seconds, wl.warmup)
            metrics["setup_s"] = setup_s
            units = metric_units("end_to_end")
        warmup_failed = sum(wl.check(i) for i in range(wl.warmup))
        failed = sum(wl.check(i) for i in timed)
    finally:
        harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    attempted = wl.docs * len(timed)
    result = {
        "correct": failed == 0 and warmup_failed == 0,
        "attempted": attempted,
        "failed": min(failed, attempted),
        "metrics": {
            name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
