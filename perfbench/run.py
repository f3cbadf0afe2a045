#!/usr/bin/env python3
"""sift-spark benchmark.

    python3 perfbench/run.py --workload <extract_search|curate_incremental>
        --seed N --seconds S --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from the
seed, sets up (session start, inputs, snapshots) several times and keeps
the median, then runs the workload end to end repeatedly for S seconds on
local[4], checking every iteration's written output against a driver-side
oracle. The last stdout line is one JSON object:

    {"correct": bool, "attempted": docs, "failed": docs, "metrics": {...}}

--trace 0 reports the end-to-end metrics (medians over iterations);
--trace 1 reports the per-layer metrics instead (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import harness, layers  # noqa: E402  (needs ROOT on the path)

SETUP_REPS = 3
MIN_ITERATIONS = 1
RECONCILE_SLACK = 0.05
# end-to-end metrics printed in the table but left out of the JSON result
PRINTED_ONLY = ("peak_rss_mb", "failed_frac")


class Steps:
    """`with steps("name"):` times a step and tags the Spark jobs it
    launches with the job description `perfbench:<phase>:<name>`."""

    def __init__(self, spark, phase):
        self._sc = spark.sparkContext
        self._phase = phase
        self.walls = {}

    @contextlib.contextmanager
    def __call__(self, name):
        self._sc.setJobDescription(layers.description(self._phase, name))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] = self.walls.get(name, 0.0) + (
                time.perf_counter() - t0)
            self._sc.setJobDescription(None)


def _setup(spark, workload, work, reps):
    """Run the workload's setup `reps` times (fresh directories, same
    seed) and return the per-rep seconds; the last rep's inputs stay
    attached."""
    times, previous = [], None
    for rep in range(reps):
        path = os.path.join(work, "setup", str(rep))
        spark.sparkContext.setJobDescription(
            layers.description("setup", str(rep)))
        t0 = time.perf_counter()
        workload.setup(spark, path)
        workload.attach(spark)
        times.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        if previous:
            shutil.rmtree(previous, ignore_errors=True)
        previous = path
    return times


def _iterate(spark, workload, work, seconds, sampler, phase_prefix):
    """Run iterations until `seconds` have passed (at least
    MIN_ITERATIONS). Returns one record per iteration."""
    records = []
    start = time.perf_counter()
    while (len(records) < MIN_ITERATIONS
           or time.perf_counter() - start < seconds):
        phase = f"{phase_prefix}{len(records)}"
        out = os.path.join(work, "out", phase)
        steps = Steps(spark, phase)
        sampler.reset()
        t0 = time.perf_counter()
        try:
            result = workload.run(spark, out, steps)
            wall = time.perf_counter() - t0
            bad = workload.check(result)
        except Exception:  # noqa: BLE001 -- a failed run counts all docs
            traceback.print_exc()
            wall = time.perf_counter() - t0
            result, bad = None, [("*", "run raised")] * workload.n_docs
        records.append({
            "phase": phase, "wall": wall, "steps": steps.walls,
            "rss_mb": sampler.peak_mb(), "written": harness.tree_bytes(out),
            "bad": bad, "result": result,
        })
        for url, reason in bad[:5]:
            print(f"perfbench: {phase}: {url}: {reason}", file=sys.stderr)
        shutil.rmtree(out, ignore_errors=True)
    return records


def _end_to_end(workload, records, setup_s):
    med = statistics.median
    wall = med(r["wall"] for r in records)
    return {
        "wall_s": (wall, "s"),
        "docs_per_s": (med(workload.n_docs / r["wall"] for r in records),
                       "1/s"),
        "input_mb_per_s": (med(workload.input_bytes / 1e6 / r["wall"]
                               for r in records), "MB/s"),
        "peak_rss_mb": (med(r["rss_mb"] for r in records), "MB"),
        "written_mb": (med(r["written"] / 1e6 for r in records), "MB"),
        "setup_s": (setup_s, "s"),
    }


def _per_layer(workload, work, args, sampler):
    """Traced run: a session with the event log on runs one setup, one
    warm-up iteration and then the traced iterations; a second, untraced
    session in the same (now warm) JVM runs the same iterations again.
    trace.overhead_s compares the two warm sets."""
    from perfbench.workloads import ALL_STEPS

    log_dir = os.path.join(work, "eventlog")
    spark, start_s = harness.start_session(work, event_log_dir=log_dir)
    _setup(spark, workload, work, 1)
    workload.prepare_oracle(spark)
    warmup = _iterate(spark, workload, work, 0, sampler, "w")
    traced = _iterate(spark, workload, work, args.seconds / 2, sampler, "t")
    spark.sparkContext.setJobDescription(layers.description("probe", "-"))
    probes = workload.probe(spark)
    spark.sparkContext.setJobDescription(None)
    spark.stop()

    spark, _ = harness.start_session(work)
    workload.attach(spark)
    plain = _iterate(spark, workload, work, args.seconds / 2, sampler, "u")
    spark.stop()

    log = layers.EventLog(log_dir)
    per_iter = [log.phase_metrics(r["phase"], ALL_STEPS) for r in traced]
    metrics = {k: statistics.median(m[k] for m in per_iter)
               for k in per_iter[0]}
    metrics["sources.scan_mb"] = log.scan_mb("setup")
    metrics["session.start_s"] = start_s

    gaps, busy = [], []
    for r, m in zip(traced, per_iter):
        gaps.append(abs(r["wall"] - sum(r["steps"].values())) / r["wall"])
        run_ms = sum(m[f"job.{s}.executor_run_ms"] for s in workload.steps)
        busy.append(run_ms / (harness.CORES * 1e3 * r["wall"]))
    metrics["trace.step_gap_frac"] = statistics.median(gaps)
    metrics["trace.executor_busy_frac"] = statistics.median(busy)
    metrics["trace.reconcile_slack"] = RECONCILE_SLACK
    metrics["trace.overhead_s"] = (
        statistics.median(r["wall"] for r in traced)
        - statistics.median(r["wall"] for r in plain))
    reconciled = (max(gaps) <= RECONCILE_SLACK
                  and max(busy) <= 1 + RECONCILE_SLACK)
    print(f"trace: step walls cover {1 - max(gaps):.3f} of wall_s, "
          f"executors busy {max(busy):.3f} of cores x wall_s; "
          f"{'reconciled' if reconciled else 'NOT reconciled'} within "
          f"slack {RECONCILE_SLACK}; trace.overhead_s "
          f"{metrics['trace.overhead_s']:.3f}")

    for step in workload.steps:
        wall = statistics.median(r["steps"].get(step, 0) for r in traced)
        print(f"trace: step {step}: wall {wall:.3f} s, executor run "
              f"{metrics[f'job.{step}.executor_run_ms']:.0f} ms")
    html, md = workload.kernel_docs()
    metrics.update(layers.core_kernels(html, md))
    metrics.update(workload.layer_metrics(traced, probes))
    return warmup + traced + plain, metrics


def measure(args, work):
    from perfbench.workloads import WORKLOADS

    workload = WORKLOADS[args.workload](args.seed)
    with harness.RssSampler() as sampler:
        if args.trace:
            records, values = _per_layer(workload, work, args, sampler)
            metrics = {k: (v, _unit(k)) for k, v in values.items()}
        else:
            spark, start_s = harness.start_session(work)
            setup = _setup(spark, workload, work, SETUP_REPS)
            print(f"{args.workload}: session start {start_s:.2f} s, setup "
                  f"reps {', '.join(f'{t:.2f}' for t in setup)} s")
            workload.prepare_oracle(spark)
            records = _iterate(spark, workload, work, args.seconds, sampler,
                               "m")
            spark.stop()
            metrics = _end_to_end(workload, records,
                                  start_s + statistics.median(setup))
    attempted = workload.n_docs * len(records)
    failed = min(sum(len(r["bad"]) for r in records), attempted)
    if not args.trace:
        metrics["failed_frac"] = (failed / attempted, "fraction")
        for name, (value, unit) in metrics.items():
            print(f"{args.workload} {name} = {value:.6g} {unit}")
        # printed, but not reported: see README.md "Scope notes"
        for name in PRINTED_ONLY:
            del metrics[name]
    for r in records:
        steps = ", ".join(f"{k} {v:.2f}" for k, v in r["steps"].items())
        print(f"{args.workload}: iteration {r['phase']}: {r['wall']:.2f} s "
              f"({steps})")
    print(f"{args.workload}: {len(records)} iterations, output check "
          f"{'PASS' if failed == 0 else 'FAIL'} ({failed}/{attempted} docs "
          "failed)")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in
                    sorted(metrics.items())},
    }


def _unit(name):
    for suffix, unit in (("_ms_per_doc", "ms"), ("_ms", "ms"), ("_mb", "MB"),
                         ("_s", "s"), ("_frac", "fraction"),
                         ("_slack", "fraction"), ("task_skew", "ratio"),
                         ("pair_yield", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv=None):
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True,
                        choices=["extract_search", "curate_incremental"])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = parser.parse_args(argv)
    # SIGTERM unwinds through the finally below: the JVM is stopped and
    # the work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "sift_spark", "__init__.py")):
        print(f"perfbench: no sift_spark package under {ROOT}; run from the "
              "root of a sift-spark checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    harness.prepare_env(ROOT, work)
    try:
        result = measure(args, work)
    finally:
        harness.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
