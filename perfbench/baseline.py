#!/usr/bin/env python3
"""Record the benchmark's baseline on this machine.

    python3 perfbench/baseline.py --out perfbench/baseline/baseline-4core.json

Makes --sets independent sets of --runs untraced runs per workload (each
run on its own seed; workloads interleaved), then one traced run per
workload. Records, per set, workload and end-to-end metric, the values,
median, quartiles and IQR share, and whether the spread stays within a
third of the metric's bound and each later set's median within the
bound of the first; each run's wall time and share of CPU time the
hypervisor stole; per workload, the traced per-layer metrics and the
tracing overhead; the per-layer metrics that read zero on every traced
op of every workload (dead, so not reported); and the paper's published
10M-row numbers beside r1-r8.
"""
import argparse
import datetime
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import stats  # noqa: E402

# The reference engine's published numbers at 10M rows, ~700 MB clustered
# parquet (seconds per query).
PAPER_10M_S = {"r1_field_values_s": 1.14, "r2_values_by_ids_s": 1.05,
               "r3_numeric_stats_s": 0.61, "r4_stats_by_ids_s": 1.01,
               "r8_point_lookup_s": 1.05}


def run(workload, seed, seconds, trace):
    t0 = time.time()
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                           "--seed", str(seed), "--seconds", str(seconds),
                           "--trace", str(trace)], cwd=REPO, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} failed")
    out = json.loads(lines[-1])
    steal = [ln.rsplit("cpu steal=", 1)[1].rstrip("%") for ln in lines if "cpu steal=" in ln]
    out["cpu_steal_pct"] = float(steal[0]) if steal else None
    out["wall_s"] = time.time() - t0
    return out


def summary(values, bound):
    q1, med, q3 = stats.quartiles(values)
    share = (q3 - q1) / med
    return {"values": values, "median": med, "q1": q1, "q3": q3, "iqr_share": share,
            "bound": bound, "spread_within_third_of_bound": share < bound / 3}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]

    sets, seed = [], args.first_seed
    for s in range(args.sets):
        vals = {w: {m: [] for m in bounds} for w in workloads}
        failures = {w: 0 for w in workloads}
        steal = {w: [] for w in workloads}
        walls = {w: [] for w in workloads}
        for _ in range(args.runs):
            for w in workloads:
                out = run(w, seed, seconds, 0)
                print(f"set {s + 1} {w} seed {seed}: correct={out['correct']} "
                      f"failed={out['failed']}/{out['attempted']}", file=sys.stderr)
                failures[w] += out["failed"]
                steal[w].append(out["cpu_steal_pct"])
                walls[w].append(round(out["wall_s"], 1))
                for m in bounds:
                    vals[w][m].append(out["metrics"][m]["value"])
            seed += 1
        sets.append({"seeds": [seed - args.runs, seed - 1], "failed_executions": failures,
                     "cpu_steal_pct": steal, "run_wall_s": walls,
                     "metrics": {w: {m: summary(vals[w][m], bounds[m]) for m in bounds}
                                 for w in workloads}})
    agree = {w: {m: all(stats.within_bound(sets[0]["metrics"][w][m]["median"],
                                           later["metrics"][w][m]["median"], bounds[m])
                        for later in sets[1:])
                 for m in bounds} for w in workloads}

    traced, per_op = {}, []
    for w in workloads:
        out = run(w, seed, seconds, 1)
        traced[w] = {k: v["value"] for k, v in out["metrics"].items()}
        with open(os.path.join(HERE, ".work", "traces", f"{w}-{seed}.json")) as fh:
            trace = json.load(fh)
        per_op += [dict(o["layers"], workload=w, op=o["op"]) for o in trace["ops"]]
        seed += 1
    dead = sorted(k for k in layers.UNITS if k not in layers.RUN_LEVEL
                  and all(o.get(k, 0.0) == 0.0 for o in per_op))
    r8 = [o for o in per_op if o["op"] == "r8_point_lookup"]

    result = {
        "recorded": datetime.date.today().isoformat(),
        "machine": {"cores": os.cpu_count(), "cpu_local_master": "local[4]"},
        "run_seconds": seconds,
        "sets": sets,
        "sets_agree_within_bounds": agree,
        "traced_per_layer": traced,
        "trace_overhead": {w: traced[w]["trace.overhead"] for w in workloads},
        "dead_layer_metrics": dead,
        "r8_scan_rows_per_result": {w: [o["scan.rows_per_result"] for o in r8
                                        if o["workload"] == w] for w in workloads},
        "r1_peak_exec_mem_mb": {w: [o.get("exec.peak_exec_mem_mb") for o in per_op
                                    if o["op"] == "r1_field_values" and o["workload"] == w]
                                for w in workloads},
        "span_coverage_min": {w: min(o["trace.coverage"] for o in per_op
                                     if o["workload"] == w and "trace.coverage" in o)
                              for w in workloads},
        "spans_cover_every_op_within_5pct": all(layers.coverage_ok(o) for o in per_op),
        "paper_10m_rows_s": PAPER_10M_S,
    }
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps(agree))


if __name__ == "__main__":
    main()
