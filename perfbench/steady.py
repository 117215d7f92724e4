#!/usr/bin/env python3
"""Runs the benchmark on several seeds per workload and records its spread.

    python3 perfbench/steady.py --seeds 10 [--traced 3] [--workloads a,b] [--out FILE]
    python3 perfbench/steady.py --seeds 10 --repeat [--workloads a,b] [--out FILE]

Without --repeat, for every workload it runs ``run.py`` once per seed with
tracing off, and ``--traced`` more times with tracing on. Per end-to-end
metric it records the median, the quartiles (``statistics.quantiles(values,
n=4)``), the interquartile spread as a share of the median and the bound
from BENCHMARK.json; per workload the tracing overhead (traced median of each
timed end-to-end metric over untraced median, minus one) and the medians of
the per-layer metrics.

With --repeat it runs a second set of untraced runs on the same seeds and
records it under ``repeat``, and under ``repeat_worse`` how much worse each
metric's second median is than the first (a share of the first; negative
when it is better); two sets of the same code should agree within each
metric's bound.

The record goes to ``--out`` (default perfbench/STEADINESS.json) together
with the recon schedule, the latency limit and the commit the measured tree
is based on (``base_commit``; uncommitted changes on top of it are not
named).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import run  # noqa: E402


def one(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed:\n{r.stderr[-3000:]}")
    lines = r.stdout.strip().splitlines()
    line = json.loads(lines[-1])
    if not line["correct"]:
        sys.exit(f"{workload} seed {seed}: output check failed:\n{r.stdout[-3000:]}")
    e2e = [json.loads(x.split(":", 1)[1]) for x in lines if x.startswith("  end-to-end:")]
    line["e2e"] = e2e[0] if e2e else {}
    return line


def summarise(workload, runs, bounds):
    """Median, quartiles and spread of every end-to-end metric over runs."""
    out = {}
    for m, bound in bounds.items():
        vals = [r["metrics"][m]["value"] for r in runs]
        q1, _, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        out[m] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                  "bound": bound, "values": vals}
        print(f"{workload:15s} {m:18s} median {med:12.3f} spread {(q3 - q1) / med:6.3f} "
              f"bound {bound}", flush=True)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--repeat", action="store_true")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default=os.path.join(HERE, "STEADINESS.json"))
    args = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    why = {w["name"]: w["why"] for w in bench["workloads"]}
    record = json.load(open(args.out)) if os.path.exists(args.out) else {"workloads": {}}
    sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True).stdout.strip()
    record.update({"base_commit": sha or None, "host_cpus": os.cpu_count(),
                   "run_seconds": bench["run_seconds"],
                   "recon_schedule": {"steady_eps": run.STEADY_EPS,
                                      "slice_ms": run.SLICE_MS, "bursts": run.BURSTS,
                                      "burst_events": run.BURST_EVENTS, "burst_files": run.BURST_FILES},
                   "recon_latency_limit_ms": run.LATENCY_LIMIT_MS})
    seeds = list(range(args.first_seed, args.first_seed + args.seeds))
    for w in workloads:
        runs = [one(w, s, bench["run_seconds"], 0) for s in seeds]
        if args.repeat:
            rec = record["workloads"][w]
            rec["repeat"] = {"seeds": seeds, "metrics": summarise(w, runs, bounds)}
            rec["repeat_worse"] = {}
            for m, stats in rec["repeat"]["metrics"].items():
                first, second = rec["metrics"][m]["median"], stats["median"]
                worse = (second - first) / first if better[m] == "lower" else (first - second) / first
                rec["repeat_worse"][m] = worse
                print(f"{w:15s} {m:18s} second set worse by {worse:+.3f} (bound {bounds[m]})", flush=True)
        else:
            rec = {"why": why[w], "seeds": seeds, "metrics": summarise(w, runs, bounds)}
            rec["error_rate"] = sum(r["failed"] for r in runs) / sum(r["attempted"] for r in runs)
            if args.traced:
                traced = [one(w, s, bench["run_seconds"], 1) for s in seeds[:args.traced]]
                rec["traced_runs"] = len(traced)
                rec["tracing_overhead"] = {
                    m: statistics.median(t["e2e"][m] for t in traced) / rec["metrics"][m]["median"] - 1
                    for m in ("latency_p50_ms", "latency_p90_ms", "throughput_per_s")}
                rec["late_rows_dropped"] = [t["metrics"]["streaming.late_rows_dropped"]["value"]
                                            for t in traced]
                rec["per_layer_medians"] = {k: statistics.median(t["metrics"][k]["value"] for t in traced)
                                            for k in traced[0]["metrics"]}
            record["workloads"][w] = rec
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
