#!/usr/bin/env python3
"""Steadiness evidence for the benchmark.

    python3 perfbench/steady.py --workload extract_search --seeds 101-110 \
        [--json perfbench/results/steady_extract_search_a.json] \
        [--compare perfbench/results/steady_extract_search_b.json]

Run from the root of a checkout. Runs `perfbench/run.py` once per seed
(untraced, `run_seconds` from BENCHMARK.json) and reports, per end-to-end
metric (and each metric the run prints but does not report), the median
over seeds and the quartile spread (Q3 - Q1) / median,
with quartiles as `statistics.quantiles(values, n=4)` gives them. A
spread is flagged when it exceeds a third of the metric's bound
(`setup_s` is exempt: only its median is compared between sets).
`--compare` reads an earlier --json file and flags a metric whose median
got worse than the earlier one by more than its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_seed(workload, seed, seconds):
    """One untraced run -> (result JSON, the metrics of the printed table,
    elapsed seconds of the process)."""
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    lines = proc.stdout.strip().splitlines()
    table = {}
    for line in lines:
        head, eq, value = line.partition(" = ")
        if eq and head.startswith(workload + " "):
            table[head.split()[1]] = float(value.split()[0])
    return json.loads(lines[-1]), table, time.monotonic() - t0


def summarize(values, bound, better):
    q1, median, q3 = statistics.quantiles(values, n=4)
    return {"values": values, "median": statistics.median(values),
            "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values),
            "bound": bound, "better": better}


def main(argv=None):
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seeds", required=True, help="e.g. 101-110")
    parser.add_argument("--json", help="write the summary here")
    parser.add_argument("--compare", help="an earlier --json summary")
    args = parser.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    metrics = {m["name"]: m for m in bench["end_to_end"]}

    runs = []
    for seed in _seeds(args.seeds):
        result, table, elapsed = run_seed(args.workload, seed,
                                          bench["run_seconds"])
        if not result["correct"]:
            raise SystemExit(f"seed {seed}: output check failed: {result}")
        runs.append({"seed": seed, "run_elapsed_s": elapsed, **table})
        print(f"seed {seed} ({elapsed:.0f} s): " + ", ".join(
            f"{k} {v:.4g}" for k, v in table.items()), flush=True)

    summary = {"workload": args.workload, "seeds": args.seeds,
               "run_seconds": bench["run_seconds"], "runs": runs,
               "median_run_elapsed_s": statistics.median(
                   r["run_elapsed_s"] for r in runs),
               "metrics": {}}
    earlier = None
    if args.compare:
        with open(args.compare, encoding="utf-8") as f:
            earlier = json.load(f)["metrics"]
    ok = True
    # metrics the run prints but does not report have no bound: their
    # spread is recorded as evidence only
    printed_only = [k for k in runs[0] if k not in metrics
                    and k not in ("seed", "run_elapsed_s", "failed_frac")]
    for name in printed_only:
        s = summarize([r[name] for r in runs], None, None)
        summary["metrics"][name] = s
        print(f"{args.workload} {name} (printed only): median "
              f"{s['median']:.4g}, spread {s['spread']:.3f}")
    for name, m in metrics.items():
        s = summarize([r[name] for r in runs], m["bound"], m["better"])
        flags = []
        if name != "setup_s" and s["spread"] > m["bound"] / 3:
            flags.append("spread above bound/3")
        if earlier:
            base = earlier[name]["median"]
            worse = ((s["median"] - base) / base if m["better"] == "lower"
                     else (base - s["median"]) / base)
            s["worse_than_compared"] = worse
            if worse > m["bound"]:
                flags.append("median worse than compared set by more "
                             "than the bound")
        s["flags"] = flags
        ok &= not flags
        summary["metrics"][name] = s
        print(f"{args.workload} {name}: median {s['median']:.4g} "
              f"{m['unit']}, spread {s['spread']:.3f} (bound {m['bound']})"
              + (f", vs compared {s['worse_than_compared']:+.3f}"
                 if earlier else "") + (f"  [{'; '.join(flags)}]"
                                         if flags else ""))
    if args.json:
        with open(args.json, "w", encoding="utf-8") as f:
            json.dump(summary, f, indent=1)
            f.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
