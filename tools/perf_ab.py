#!/usr/bin/env python3
"""Alternating A/B of perfbench runs over two checkouts of this repository.

    python3 tools/perf_ab.py --base <checkout> --head <checkout> --workload online \
        --seeds 51-60 [--seconds 7] [--trace 0] [--out ab.json]
    python3 tools/perf_ab.py --self-test

Each seed is one pair: one `perfbench/run.py` run on each checkout, with
the same seed, run length and trace setting. The side that runs first
alternates from pair to pair, so a host that drifts in speed does not
hand one side the faster half of every pair. Before the pairs, each side
makes one untimed run (it builds that checkout's classpath and warms the
file cache); it is reported and left out of every figure.

For every metric of the result line it prints each side's median and
quartiles, the change of the median, and the pairs the head side won
(ties count for neither). For the end-to-end metrics of BENCHMARK.json
it adds a verdict by these rules:

  gain        the head won at least nine tenths of the pairs and its
              median is better by more than the base's interquartile range
  worse       the head median is worse than the base median by more than
              the metric's bound
  unresolved  either side's interquartile range exceeds the bound (and not
              every head run beats every base run), so the pairs cannot
              tell a change within the bound from none
  within      none of the above

A gain does not count when the head side failed more operations. If
either side's untimed run fails or answers wrongly, the script prints
that checkout's path and the tail of its stderr and exits non-zero
before any pair runs. The script only calls each checkout's
perfbench/run.py; it changes nothing in either checkout besides what
run.py itself writes.

Make each checkout with `git worktree add <dir> <commit>` or
`git archive <commit> | tar -x -C <dir>`, never by copying a built tree
(`cp -r`): sbt's incremental-compile analysis keeps absolute paths, so
a build in the copy can rewrite class files under the original's
`target/` and break the other side mid-A/B.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_of(spec):
    """'51-60' or '51,53,57' -> list of ints."""
    out = []
    for part in spec.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            out += range(int(lo), int(hi) + 1)
        elif part:
            out.append(int(part))
    return out


def order(i):
    """Which side runs first in pair i."""
    return ("base", "head") if i % 2 == 0 else ("head", "base")


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def wins(base, head, lower_better):
    """Pairs the head side won; ties count for neither."""
    return sum((h < b) if lower_better else (h > b) for b, h in zip(base, head))


def verdict(base, head, lower_better, bound, base_failed=0, head_failed=0):
    """Verdict of one end-to-end metric over paired runs (see the module docstring)."""
    bq1, bmed, bq3 = quartiles(base)
    hq1, hmed, hq3 = quartiles(head)
    sign = 1.0 if lower_better else -1.0
    gap = sign * (bmed - hmed)  # > 0: head better
    if (wins(base, head, lower_better) * 10 >= 9 * len(base) and gap > bq3 - bq1
            and head_failed <= base_failed):
        return "gain"
    if bmed and -gap / abs(bmed) > bound:
        return "worse"
    all_better = all(sign * (b - h) > 0 for b in base for h in head)
    if bmed and hmed and not all_better and (
            (bq3 - bq1) / abs(bmed) > bound or (hq3 - hq1) / abs(hmed) > bound):
        return "unresolved"
    return "within"


def run(checkout, workload, seed, seconds, trace):
    """One perfbench run: (result dict or None, stderr tail)."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        return None, p.stderr[-2000:]
    return json.loads(lines[-1]), p.stderr[-2000:]


def broken_sides(untimed):
    """Sides whose untimed run failed or answered wrongly: {side: (checkout, stderr tail)}."""
    return {side: (checkout, err) for side, (checkout, r, err) in untimed.items()
            if not (r and r["correct"])}


def report(runs, e2e):
    """runs: list of {'seed', 'base', 'head'} with result dicts; returns printable rows."""
    good = [r for r in runs if r["base"] and r["head"] and r["base"]["correct"] and r["head"]["correct"]]
    rows = []
    if not good:
        return rows, {}, {}
    failed = {s: sum(r[s]["failed"] for r in good) for s in ("base", "head")}
    attempted = {s: sum(r[s]["attempted"] for r in good) for s in ("base", "head")}
    names = list(good[0]["base"]["metrics"])
    for m in names:
        b = [r["base"]["metrics"][m]["value"] for r in good]
        h = [r["head"]["metrics"][m]["value"] for r in good]
        spec = e2e.get(m)
        lower = spec["better"] == "lower" if spec else True
        bq1, bmed, bq3 = quartiles(b)
        hq1, hmed, hq3 = quartiles(h)
        rows.append({
            "metric": m, "unit": good[0]["base"]["metrics"][m]["unit"],
            "base": [bmed, bq1, bq3], "head": [hmed, hq1, hq3],
            "change": (hmed - bmed) / bmed if bmed else 0.0,
            "wins": wins(b, h, lower) if spec else None, "pairs": len(good),
            "bound": spec["bound"] if spec else None,
            "verdict": verdict(b, h, lower, spec["bound"], failed["base"], failed["head"]) if spec else None,
        })
    return rows, failed, attempted


def print_report(rows, failed, attempted, skipped):
    if not rows:
        print("no pair with two correct runs")
        return
    print(f"pairs {rows[0]['pairs']} (skipped {skipped}); failed operations "
          f"base {failed['base']}/{attempted['base']} head {failed['head']}/{attempted['head']}")
    print("metric: base median [q1 q3] -> head median [q1 q3] change, head wins/pairs, verdict (bound)")
    for r in rows:
        line = (f"{r['metric']}: {r['base'][0]:.4g} [{r['base'][1]:.4g} {r['base'][2]:.4g}] -> "
                f"{r['head'][0]:.4g} [{r['head'][1]:.4g} {r['head'][2]:.4g}] {r['unit']} {r['change']:+.3f}")
        if r["verdict"]:
            line += f", {r['wins']}/{r['pairs']}, {r['verdict']} ({r['bound']})"
        print(line)


def self_test():
    assert seeds_of("3-5,9") == [3, 4, 5, 9]
    assert [order(i)[0] for i in range(4)] == ["base", "head", "base", "head"]
    base = [530, 561, 523, 537, 527, 541, 529, 533, 536, 528]
    assert wins(base, [b - 60 for b in base], True) == 10
    # clear gain: every pair lower by 60 ms, base IQR about 10 ms
    assert verdict(base, [b - 60 for b in base], True, 0.25) == "gain"
    # a gain needs 9 of 10 pairs: 8 wins is not one, and the change is in bound
    mixed = [b - 60 for b in base[:8]] + [b + 5 for b in base[8:]]
    assert wins(base, mixed, True) == 8 and verdict(base, mixed, True, 0.25) == "within"
    # a gain smaller than the base IQR is not one
    assert verdict(base, [b - 2 for b in base], True, 0.25) == "within"
    # more failed operations void a gain
    assert verdict(base, [b - 60 for b in base], True, 0.25, 0, 1) == "within"
    # retained heap +5% against a 0.1 bound: within; +15%: worse
    heap = [74.0, 75.1, 74.6, 74.9, 75.3, 74.2, 74.8, 75.0, 74.4, 74.7]
    assert verdict(heap, [x * 1.05 for x in heap], True, 0.1) == "within"
    assert verdict(heap, [x * 1.15 for x in heap], True, 0.1) == "worse"
    # higher-is-better metric: lower throughput by 30% against 0.25 is worse
    tput = [1.4, 1.39, 1.41, 1.38, 1.42, 1.4, 1.37, 1.43, 1.4, 1.39]
    assert verdict(tput, [x * 0.7 for x in tput], False, 0.25) == "worse"
    assert verdict(tput, [x * 1.3 for x in tput], False, 0.25) == "gain"
    # spread wider than the bound on either side: unresolved
    wide = [10.0, 20.0, 10.0, 20.0, 10.0, 20.0, 10.0, 20.0, 10.0, 20.0]
    assert verdict(wide, list(reversed(wide)), True, 0.25) == "unresolved"
    assert verdict(heap, [x * (1.3 if i % 2 else 0.8) for i, x in enumerate(heap)], True, 0.1) == "unresolved"
    # report over paired runs: only pairs with two correct runs count
    def res(lat, failed=0):
        return {"correct": True, "attempted": 10, "failed": failed,
                "metrics": {"latency_ms": {"value": lat, "unit": "ms"}}}
    runs = [{"seed": i, "base": res(b), "head": res(b - 60)} for i, b in enumerate(base)]
    runs.append({"seed": 99, "base": res(500), "head": None})
    e2e = {"latency_ms": {"better": "lower", "bound": 0.25}}
    rows, failed, attempted = report(runs, e2e)
    assert rows[0]["pairs"] == 10 and rows[0]["wins"] == 10 and rows[0]["verdict"] == "gain"
    assert failed == {"base": 0, "head": 0} and attempted == {"base": 100, "head": 100}
    assert rows[0]["base"][0] == statistics.median(base)
    # a side whose untimed run failed or answered wrongly stops the A/B
    untimed = {"base": ("/b", None, "NoClassDefFoundError"), "head": ("/h", res(500), "")}
    assert broken_sides(untimed) == {"base": ("/b", "NoClassDefFoundError")}
    untimed["head"] = ("/h", dict(res(500), correct=False), "")
    assert set(broken_sides(untimed)) == {"base", "head"}
    assert broken_sides({"base": ("/b", res(500), ""), "head": ("/h", res(440), "")}) == {}
    print("perf_ab self-test: ok")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--base")
    ap.add_argument("--head")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", help="e.g. 51-60 or 51,53,57")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write every run and the summary here as JSON")
    args = ap.parse_args()
    if args.self_test:
        self_test()
        return
    if not (args.base and args.head and args.workload and args.seeds):
        ap.error("--base, --head, --workload and --seeds are required")
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        cfg = json.load(f)
    e2e = {m["name"]: m for m in cfg["end_to_end"]}
    seconds = args.seconds if args.seconds is not None else cfg["run_seconds"]
    sides = {"base": os.path.abspath(args.base), "head": os.path.abspath(args.head)}

    untimed = {}
    for side in ("base", "head"):
        r, err = run(sides[side], args.workload, seeds_of(args.seeds)[0] + 1000, seconds, 0)
        untimed[side] = (sides[side], r, err)
        print(f"untimed {side} run: {'ok' if r and r['correct'] else 'FAILED'}", flush=True)
    broken = broken_sides(untimed)
    for side, (checkout, err) in broken.items():
        print(f"{side} checkout {checkout} is broken; its untimed run ended with:\n{err}",
              file=sys.stderr)
    if broken:
        sys.exit(1)

    runs = []
    for i, seed in enumerate(seeds_of(args.seeds)):
        pair = {"seed": seed, "first": order(i)[0]}
        for side in order(i):
            pair[side], err = run(sides[side], args.workload, seed, seconds, args.trace)
            if not pair[side]:
                sys.stderr.write(err)
        runs.append(pair)
        cells = []
        for side in ("base", "head"):
            r = pair[side]
            if not r:
                cells.append(f"{side} FAILED")
                continue
            vals = " ".join(f"{m}={r['metrics'][m]['value']:.4g}" for m in e2e if m in r["metrics"])
            cells.append(f"{side} correct={r['correct']} failed={r['failed']}/{r['attempted']} {vals}")
        print(f"pair {i + 1} seed {seed} ({pair['first']} first): " + " | ".join(cells), flush=True)

    rows, failed, attempted = report(runs, e2e)
    skipped = len(runs) - (rows[0]["pairs"] if rows else 0)
    print_report(rows, failed, attempted, skipped)
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": seconds, "trace": args.trace,
                       "base": sides["base"], "head": sides["head"], "runs": runs, "summary": rows},
                      f, indent=1)


if __name__ == "__main__":
    main()
