#!/usr/bin/env python3
"""Steadiness check: runs every workload in two sets of runs, separated in
time, and prints for every end-to-end metric each set's median, quartiles
and quartile spread (IQR / median) and the gap between the two set medians.
Traced runs then give the tracing overhead on each end-to-end metric.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--pause 300] [--traced 2]
                                [--workloads online,corpus_curate] [--seconds N]

Run from the root of a checkout. Set k uses seeds 100*k+1 .. 100*k+runs, so
every run of a set has other inputs. The summary is also written to
perfbench/out/steady.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def bench_config():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main():
    cfg = bench_config()
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--pause", type=float, default=0.0, help="seconds between two sets")
    ap.add_argument("--traced", type=int, default=2, help="traced runs per workload")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in cfg["workloads"]))
    ap.add_argument("--seconds", type=int, default=cfg["run_seconds"])
    args = ap.parse_args()
    workloads = args.workloads.split(",")
    e2e = [m["name"] for m in cfg["end_to_end"]]
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}

    sets = []
    for k in range(1, args.sets + 1):
        if k > 1 and args.pause:
            time.sleep(args.pause)
        got = {}
        for w in workloads:
            rows = []
            for seed in range(100 * k + 1, 100 * k + args.runs + 1):
                r = run(w, seed, args.seconds, 0)
                if r is None or not r["correct"]:
                    print(f"set {k} {w} seed {seed}: FAILED {r}", flush=True)
                    continue
                rows.append(r)
                vals = " ".join(f"{m}={r['metrics'][m]['value']:.4g}" for m in e2e)
                print(f"set {k} {w} seed {seed}: failed {r['failed']}/{r['attempted']} {vals}", flush=True)
            got[w] = rows
        sets.append(got)

    report = {"sets": [], "gaps": {}, "tracing_overhead": {}}
    for k, got in enumerate(sets, 1):
        per = {}
        for w, rows in got.items():
            if len(rows) < 2:
                continue
            per[w] = {m: summary([r["metrics"][m]["value"] for r in rows]) for m in e2e}
            per[w]["failed_share"] = sorted({r["failed"] / r["attempted"] for r in rows})
        report["sets"].append(per)
    print("\nworkload metric: set medians [q1 q3] spread ... gap (bound)")
    for w in workloads:
        for m in e2e:
            cells = []
            meds = []
            for per in report["sets"]:
                if w in per:
                    s = per[w][m]
                    meds.append(s["median"])
                    cells.append(f"{s['median']:.4g} [{s['q1']:.4g} {s['q3']:.4g}] {s['spread']:.3f}")
            gap = (meds[-1] - meds[0]) / meds[0] if len(meds) > 1 and meds[0] else 0.0
            report["gaps"][f"{w}.{m}"] = gap
            print(f"{w} {m}: " + " | ".join(cells) + f" | gap {gap:+.3f} ({bounds[m]})")

    # tracing overhead: a traced run's own untraced-style figures against
    # the median of the untraced runs of the first set
    for w in workloads:
        if not args.traced or w not in report["sets"][0]:
            continue
        traced = []
        for seed in range(1, args.traced + 1):
            if run(w, seed, args.seconds, 1) is None:
                continue
            with open(os.path.join(HERE, "out", f"{w}-seed{seed}-traced.json")) as f:
                traced.append(json.load(f)["metrics"])
        if traced:
            over = {}
            for m in e2e:
                t = statistics.median(x[m]["value"] for x in traced)
                base = report["sets"][0][w][m]["median"]
                over[m] = (t - base) / base if base else 0.0
            report["tracing_overhead"][w] = over
            print(f"tracing overhead {w}: " + " ".join(f"{m} {v:+.3f}" for m, v in over.items()))
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", "steady.json"), "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
