#!/usr/bin/env python3
"""Alternating-pair A/B of one perfbench workload between two trees.

    python3 scripts/ab_pairs.py --parent <parent tree> --change <change tree> \\
        --workload driver_loops --seed 1 --pairs 10 [--seconds 20] [--out runs.jsonl]

Follows the A/B protocol of .claude/skills/verify/SKILL.md: one
throwaway run in each tree first (so both harnesses are built and the
page cache is warm), then N pairs of `perfbench/run.py --trace 0` runs
on the same seed, alternating which tree goes first. Each run's last
stdout line (the result JSON) is kept, and appended to --out if given.

Prints, for every end-to-end metric in the change tree's
BENCHMARK.json: each side's median and quartiles, the change's win
fraction over the pairs (ties count for neither side), the median gap
against the parent's interquartile range, and whether the change's
median stays within the metric's bound of the parent's median. It
also prints each side's IQR against the bound times the parent's
median: a side whose runs spread wider than that cannot be told apart
from the other. It prints how many runs were correct and how many
operations failed on each side. Quartiles are Python's `statistics.quantiles(n=4,
method="inclusive")`. The exit code is 0 when every run completed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(tree, workload, seed, seconds):
    """The result JSON of one untraced perfbench run in `tree`."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    start = time.time()
    proc = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, stdin=subprocess.DEVNULL)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"run in {tree} failed ({proc.returncode}):\n{proc.stderr[-2000:]}")
    out = json.loads(lines[-1])
    out["wall_s"] = time.time() - start
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def metric_values(runs, name):
    return [r["metrics"][name]["value"] for r in runs]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="tree of the parent commit")
    ap.add_argument("--change", required=True, help="tree of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, help="default: BENCHMARK.json run_seconds")
    ap.add_argument("--claim", default="lap_s", help="metric whose pair wins are counted")
    ap.add_argument("--out", help="append every run's result line here (JSON lines)")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds if args.seconds is not None else bench["run_seconds"]
    trees = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    out = open(args.out, "a") if args.out else None

    def record(side, pair, res):
        print(f"[ab] pair {pair} {side}: {args.claim}={res['metrics'][args.claim]['value']:.4g} "
              f"correct={res['correct']} failed={res['failed']}", file=sys.stderr, flush=True)
        if out:
            out.write(json.dumps({"side": side, "pair": pair, "workload": args.workload,
                                  "seed": args.seed, **res}) + "\n")
            out.flush()

    for side in ("parent", "change"):
        record(side, "warmup", run_once(trees[side], args.workload, args.seed, seconds))

    runs = {"parent": [], "change": []}
    for i in range(args.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = run_once(trees[side], args.workload, args.seed, seconds)
            runs[side].append(res)
            record(side, i, res)

    print(f"workload {args.workload} seed {args.seed}: {args.pairs} alternating pairs, "
          f"--seconds {seconds:g} --trace 0")
    for side in ("parent", "change"):
        rs = runs[side]
        print(f"  {side}: correct {sum(r['correct'] for r in rs)}/{len(rs)} runs, "
              f"failed ops {sum(r['failed'] for r in rs)} of {sum(r['attempted'] for r in rs)}")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        p, c = metric_values(runs["parent"], name), metric_values(runs["change"], name)
        pq, cq = quartiles(p), quartiles(c)
        wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
        limit = pq[1] * (1 + m["bound"]) if lower else pq[1] * (1 - m["bound"])
        within = cq[1] <= limit if lower else cq[1] >= limit
        gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        iqr = pq[2] - pq[0]
        print(f"  {name} ({m['unit']}, {m['better']} is better, bound {m['bound']:g}):")
        print(f"    parent median {pq[1]:.4g}  quartiles {pq[0]:.4g} / {pq[2]:.4g}")
        print(f"    change median {cq[1]:.4g}  quartiles {cq[0]:.4g} / {cq[2]:.4g}  "
              f"({(cq[1] - pq[1]) / pq[1]:+.1%})")
        print(f"    change wins {wins}/{len(p)} pairs; gap {gap:+.4g} vs parent IQR {iqr:.4g}"
              f" -> {'gap exceeds IQR' if gap > iqr else 'gap within IQR'}")
        print(f"    bound: change median {'within' if within else 'OUTSIDE'} "
              f"{'<=' if lower else '>='} {limit:.4g}")
        spread = m["bound"] * pq[1]
        print(f"    spread (IQR): parent {iqr:.4g}, change {cq[2] - cq[0]:.4g}; "
              f"bound {spread:.4g} ({m['bound']:g} of the parent median)"
              + ("" if max(iqr, cq[2] - cq[0]) <= spread else " -> TOO WIDE to tell"))
        if iqr / pq[1] > m["bound"]:
            every = max(c) < min(p) if lower else min(c) > max(p)
            print(f"    parent spread {iqr / pq[1]:.1%} exceeds the bound: "
                  f"{'resolved, every change run is better' if every else 'UNRESOLVED'}")
        if name == args.claim:
            held = wins >= 0.9 * len(p) and gap > iqr
            print(f"    claim on {name}: {'HOLDS' if held else 'NOT MET'} "
                  f"(needs >= 9/10 wins and gap > parent IQR)")
    if out:
        out.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
