#!/usr/bin/env python3
"""Paired A/B runs of the engine-plane benchmark in two checkouts.

Usage:
  tools/ab_pairs.py --parent DIR --change DIR --workload tiered \\
      --seeds 401-410 [--seconds 15] [--trace 0] [--out runs.jsonl]
  tools/ab_pairs.py --summarize runs.jsonl [--benchmark BENCHMARK.json]

For each seed it runs `python3 enginebench/run.py --workload W --seed S
--seconds T --trace X` once in each checkout, one run at a time, and
alternates which side goes first (the first pair starts with the
parent). Every run's result line (the last stdout line) and envelope
(the line before it) are appended to `--out` as one JSON object, so an
interrupted series keeps what it measured and can be summarized later.

The summary prints, per metric: each side's median and quartiles, the
change's wins over the pairs (by the metric's `better` direction in
BENCHMARK.json) and whether the gain rule holds: the change wins at
least 9 of every 10 pairs, and its median beats the parent's by more
than the parent's interquartile range. It also prints the failed count
and correctness of every run.

The script only runs `enginebench/run.py` as a command; it imports and
writes nothing under `enginebench/`.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            out.extend(range(int(lo), int(hi) + 1))
        else:
            out.append(int(part))
    return out


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "enginebench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    result = envelope = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if len(lines) > 1:
        try:
            envelope = json.loads(lines[-2])
        except ValueError:
            pass
    return {"exit": p.returncode, "wall_s": round(time.time() - t0, 1),
            "result": result, "envelope": envelope}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def directions(path):
    try:
        with open(path) as f:
            spec = json.load(f)
    except OSError:
        return {}
    return {m["name"]: m["better"]
            for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}


def summarize(records, better):
    pairs = {}
    for r in records:
        pairs.setdefault((r["workload"], r["seed"]), {})[r["side"]] = r
    by_workload = {}
    for (w, seed), sides in sorted(pairs.items()):
        if "parent" in sides and "change" in sides:
            by_workload.setdefault(w, []).append((seed, sides))
    for w, ps in by_workload.items():
        print("== %s: %d complete pairs (seeds %s)"
              % (w, len(ps), ",".join(str(s) for s, _ in ps)))
        for seed, sides in ps:
            row = []
            for side in ("parent", "change"):
                res = sides[side]["result"] or {}
                row.append("%s first=%s exit=%s correct=%s failed=%s" % (
                    side, sides[side]["first"], sides[side]["exit"],
                    res.get("correct"), res.get("failed")))
            print("  seed %d: %s" % (seed, "; ".join(row)))
        names = []
        for _, sides in ps:
            for side in sides.values():
                for n in ((side["result"] or {}).get("metrics") or {}):
                    if n not in names:
                        names.append(n)
        print("  %-34s %24s %24s %7s %s" % (
            "metric", "parent med [q1-q3]", "change med [q1-q3]",
            "wins", "gain rule"))
        for n in names:
            vals = []
            for _, sides in ps:
                try:
                    vals.append((sides["parent"]["result"]["metrics"][n]["value"],
                                 sides["change"]["result"]["metrics"][n]["value"]))
                except (KeyError, TypeError):
                    pass
            if not vals:
                continue
            par = [a for a, _ in vals]
            chg = [b for _, b in vals]
            pq = quartiles(par)
            cq = quartiles(chg)
            d = better.get(n)
            if d in ("lower", "higher"):
                sign = 1 if d == "higher" else -1
                wins = sum(1 for a, b in vals if sign * (b - a) > 0)
                gap = sign * (cq[1] - pq[1])
                holds = (wins >= math.ceil(0.9 * len(vals))
                         and gap > pq[2] - pq[0])
                wtxt = "%d/%d" % (wins, len(vals))
                rule = "holds" if holds else "no"
            else:
                wtxt, rule = "-", "(no direction)"
            print("  %-34s %24s %24s %7s %s" % (
                n, "%.4g [%.4g-%.4g]" % (pq[1], pq[0], pq[2]),
                "%.4g [%.4g-%.4g]" % (cq[1], cq[0], cq[2]), wtxt, rule))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload")
    ap.add_argument("--seeds")
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default="ab_runs.jsonl")
    ap.add_argument("--summarize", metavar="JSONL",
                    help="only print the summary of earlier runs")
    ap.add_argument("--benchmark", default="BENCHMARK.json",
                    help="where each metric's better direction is read")
    a = ap.parse_args()
    better = directions(a.benchmark)
    if a.summarize:
        with open(a.summarize) as f:
            summarize([json.loads(l) for l in f if l.strip()], better)
        return
    if not (a.parent and a.change and a.workload and a.seeds):
        ap.error("--parent, --change, --workload and --seeds are required")
    sides = {"parent": os.path.abspath(a.parent),
             "change": os.path.abspath(a.change)}
    records = []
    for i, seed in enumerate(seeds_of(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(sides[side], a.workload, seed, a.seconds, a.trace)
            r.update({"workload": a.workload, "seed": seed, "side": side,
                      "first": side == order[0], "checkout": sides[side]})
            records.append(r)
            with open(a.out, "a") as f:
                f.write(json.dumps(r) + "\n")
            res = r["result"] or {}
            print("%s seed %d %s: exit %s failed %s" % (
                a.workload, seed, side, r["exit"], res.get("failed")),
                file=sys.stderr, flush=True)
    summarize(records, better)


if __name__ == "__main__":
    main()
