#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on the repo's benchmark (perfbench/run.py).

Usage:
    python3 tools/ab_pairs.py PARENT CHANGE --workload W --seeds 11-20 90210
        [--json OUT.json]

PARENT and CHANGE are the roots of two checkouts (e.g. one made with
`git archive <parent-sha>`). Each seed is one pair: `perfbench/run.py
--workload W --seed S --seconds N --trace 0` runs once in each checkout,
where N is `run_seconds` from the CHANGE checkout's BENCHMARK.json, and the
side that runs first flips from pair to pair. A run's last stdout line is
its result; a run that exits non-zero, reports a failed operation or is not
`correct` is flagged, and its pair is left out of the medians.

Per end-to-end metric of BENCHMARK.json the summary gives each side's median
and quartiles, the ratio of the medians (change / parent), how many pairs
the change won (ties count for neither) and whether a gain holds by the rule
for small sandboxes: no run was flagged, the change wins at least nine
tenths of all pairs run and the medians differ, in the metric's better
direction, by more than the parent's interquartile distance. --json keeps
every run's metrics. Exits 1 when any run was flagged.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

RUN_TIMEOUT_S = 900


def parse_seeds(words):
    seeds = []
    for w in words:
        lo, _, hi = w.partition("-")
        seeds.extend(range(int(lo), int(hi) + 1) if hi else [int(lo)])
    return seeds


def run_once(checkout, workload, seed, seconds):
    """One benchmark run in `checkout`: (metrics {name: value}, problem or None)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    try:
        p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return {}, f"timed out after {RUN_TIMEOUT_S} s"
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        return {}, f"exit {p.returncode}, no result line; stderr tail: {p.stderr[-400:]}"
    metrics = {k: v["value"] for k, v in result.get("metrics", {}).items()}
    problems = []
    if p.returncode != 0:
        problems.append(f"exit {p.returncode}")
    if result.get("failed", 0):
        problems.append(f"{result['failed']} of {result.get('attempted')} failed")
    if not result.get("correct", False):
        problems.append("not correct")
    print(f"  {os.path.basename(os.path.abspath(checkout))} seed {seed}: "
          f"{time.time() - t0:.0f} s" + (f", FLAGGED: {'; '.join(problems)}" if problems else ""),
          file=sys.stderr, flush=True)
    return metrics, "; ".join(problems) or None


def benchmark(checkout):
    """(run seconds, {end-to-end metric: better direction}) from BENCHMARK.json."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return bench["run_seconds"], {m["name"]: m["better"] for m in bench["end_to_end"]}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(record):
    better = record["better"]
    pairs = [p for p in record["pairs"] if not p["parent"]["problem"] and not p["change"]["problem"]]
    flagged = [p for p in record["pairs"] if p not in pairs]
    print(f"workload {record['workload']}: {len(record['pairs'])} pairs, seeds "
          f"{[p['seed'] for p in record['pairs']]}; {len(flagged)} left out for a flagged run")
    for p in flagged:
        for side in ("parent", "change"):
            if p[side]["problem"]:
                print(f"  FLAGGED seed {p['seed']} {side}: {p[side]['problem']}")
    if not pairs:
        return
    names = [n for n in better if n in pairs[0]["parent"]["metrics"] and n in pairs[0]["change"]["metrics"]]
    print(f"{'metric':42} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30}"
          f" {'ratio':>7} {'wins':>6}  gain")
    for n in names:
        a = [p["parent"]["metrics"][n] for p in pairs]
        b = [p["change"]["metrics"][n] for p in pairs]
        lower = better[n] == "lower"
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        (aq1, am, aq3), (bq1, bm, bq3) = quartiles(a), quartiles(b)
        gap = (am - bm) if lower else (bm - am)
        holds = not flagged and wins * 10 >= 9 * len(pairs) and gap > (aq3 - aq1)
        ratio = f"{bm / am:.3f}" if am else "-"
        print(f"{n:42} {f'{am:.4g} [{aq1:.4g}, {aq3:.4g}]':>30} {f'{bm:.4g} [{bq1:.4g}, {bq3:.4g}]':>30}"
              f" {ratio:>7} {f'{wins}/{len(pairs)}':>6}  {'yes' if holds else 'no'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", nargs="+", required=True, help="seeds and ranges, e.g. 11-20 90210")
    ap.add_argument("--json", help="write every run's metrics here")
    args = ap.parse_args()
    seconds, better = benchmark(args.change)
    record = {"workload": args.workload, "seconds": seconds,
              "parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change),
              "better": better, "pairs": []}
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            metrics, problem = run_once(record[side], args.workload, seed, seconds)
            pair[side] = {"metrics": metrics, "problem": problem}
        record["pairs"].append(pair)
        if args.json:
            with open(args.json, "w") as f:
                json.dump(record, f, indent=1)
    summarize(record)
    if any(p[s]["problem"] for p in record["pairs"] for s in ("parent", "change")):
        sys.exit(1)


if __name__ == "__main__":
    main()
