#!/usr/bin/env python3
"""Parent/change comparison by alternating pairs.

    python3 perfbench/compare.py --parent ../graft-parent --change . \\
        [--workloads oneshot,scaled_x16] [--pairs 10] [--seconds 12] \\
        [--first-seed 1] [--log pairs.jsonl]
    python3 perfbench/compare.py --replay pairs.jsonl

Runs perfbench/run.py in both checkouts, pair by pair, alternating which
side goes first; both sides of a pair use the same seed. Every run's
result is appended to the log so a comparison can be replayed.

One row per workload and end-to-end metric, with each side's median and
quartiles. A metric is a `win` when the change is better in at least
nine tenths of the pairs (ties count for neither) and the medians differ
by more than the parent's interquartile range. It is a `regression`
when the change's median is worse than the parent's by more than the
metric's bound in BENCHMARK.json, `unresolved` when the parent's own
spread exceeds that bound (unless every change run beats every parent
run), and `same` otherwise.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=1000)
    if out.returncode != 0:
        sys.exit(f"{checkout}: {' '.join(cmd)} failed:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def verdict(parent, change, better, bound):
    """parent, change: per-pair values in pair order."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    iqr = p3 - p1
    worse_by = sign * (pm - cm) / pm if pm else 0.0
    spread = iqr / pm if pm else 0.0
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if wins >= 0.9 * len(parent) and abs(cm - pm) > iqr:
        v = "win"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif worse_by > bound:
        v = "regression"
    else:
        v = "same"
    return wins, v


def report(records, spec):
    bounds = {m["name"]: (m["better"], m["bound"]) for m in spec["end_to_end"]}
    rows = []
    for w in sorted({r["workload"] for r in records}):
        pairs = {}
        for r in records:
            if r["workload"] == w:
                pairs.setdefault(r["pair"], {})[r["side"]] = r
        done = [p for _, p in sorted(pairs.items()) if "parent" in p and "change" in p]
        if not done:
            continue
        failed = sum(p[s]["failed"] for p in done for s in ("parent", "change"))
        for name, (better, bound) in bounds.items():
            par = [p["parent"]["metrics"][name]["value"] for p in done]
            chg = [p["change"]["metrics"][name]["value"] for p in done]
            wins, v = verdict(par, chg, better, bound)
            if failed and v == "win":
                v = "win-but-failures"
            rows.append((w, name, quartiles(par), quartiles(chg), wins, len(done), v))
    print(f"{'workload':<11} {'metric':<13} {'parent q1/med/q3':<28} {'change q1/med/q3':<28} wins  verdict")
    for w, name, pq, cq, wins, n, v in rows:
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
        print(f"{w:<11} {name:<13} {fmt(pq):<28} {fmt(cq):<28} {wins:>2}/{n:<2} {v}")
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workloads")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--log", default="compare_pairs.jsonl")
    ap.add_argument("--replay")
    a = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.replay:
        with open(a.replay) as f:
            report([json.loads(l) for l in f if l.strip()], spec)
        return 0
    if not (a.parent and a.change):
        ap.error("--parent and --change are required unless --replay")
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    seconds = a.seconds or spec["run_seconds"]
    records = []
    with open(a.log, "a") as log:
        for i in range(a.pairs):
            seed = a.first_seed + i
            sides = [("parent", a.parent), ("change", a.change)]
            if i % 2:
                sides.reverse()
            for w in workloads:
                for side, checkout in sides:
                    r = run_once(checkout, w, seed, seconds)
                    rec = dict(r, side=side, workload=w, pair=i, seed=seed)
                    records.append(rec)
                    log.write(json.dumps(rec) + "\n")
                    log.flush()
    report(records, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
