#!/usr/bin/env python3
"""Interleaved A/B pairs of the benchmark: a parent tree against a change tree.

    python3 tools/ab.py --parent DIR [--change DIR] --workload W
                        --seeds 801-810 [--out FILE]

Each tree is a full source tree (make the parent with `git archive`, not a
worktree); `--change` defaults to the current directory. Pair i runs

    python3 perfbench/run.py --workload W --seed SEEDS[i] --seconds S --trace 0

once in each tree, from that tree's root, and alternates which side runs
first (the parent in even pairs, the change in odd ones), so drift in the
host's load lands on both sides alike. S is the change tree's
BENCHMARK.json `run_seconds`, the same on both sides. `--seeds` takes a
comma list and ranges (`801-805,811`); there is one pair per seed.

For every end-to-end metric of the change tree's BENCHMARK.json it prints
one row per pair, then each side's median and quartiles, the pairs the
change won, and whether the gap between the medians exceeds the parent's
interquartile range. A claimed gain needs both: the change better in at
least 9 of 10 pairs, and a median gap wider than the parent's IQR. It also
flags a change median worse than the parent's by more than the metric's
bound. Quartiles are `statistics.quantiles(xs, n=4, method="inclusive")`.

The script only invokes perfbench/run.py; it reads BENCHMARK.json and
writes nothing in either tree beyond what run.py writes (.bench_build/).
With --out it saves every run's JSON lines, pair by pair.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.strip().partition("-")
        seeds += list(range(int(lo), int(hi) + 1)) if hi else [int(lo)]
    return seeds


def run(tree, workload, seed, seconds):
    """One benchmark run in `tree`: its metrics line and its report line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=1800)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if len(lines) < 2:
        sys.exit(f"ab: run failed in {tree} (seed {seed}, rc {p.returncode}):\n"
                 + p.stderr[-2000:])
    result, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
    return {"seed": seed, "correct": result["correct"], "failed": result["failed"],
            "attempted": result["attempted"],
            "metrics": {k: v["value"] for k, v in result["metrics"].items()},
            "steal_s": report.get("steal_s", {}).get("value")}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summary(pairs, spec):
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        print(f"\n{name} ({m['unit']}, {m['better']} is better, bound {m['bound']})")
        print(f"  {'seed':>6} {'first':>6} {'parent':>12} {'change':>12} {'delta':>8}  won")
        won = 0
        for p in pairs:
            a, b = p["parent"]["metrics"][name], p["change"]["metrics"][name]
            better = b < a if lower else b > a
            won += better
            delta = (b - a) / a * 100 if a else float("nan")
            print(f"  {p['seed']:>6} {p['first']:>6} {a:>12.3f} {b:>12.3f} "
                  f"{delta:>+7.1f}%  {'yes' if better else 'no'}")
        pa = [p["parent"]["metrics"][name] for p in pairs]
        ch = [p["change"]["metrics"][name] for p in pairs]
        (pq1, pmed, pq3), (cq1, cmed, cq3) = quartiles(pa), quartiles(ch)
        gap = pmed - cmed if lower else cmed - pmed
        worse = -gap / pmed if pmed else 0.0
        print(f"  parent median {pmed:.3f} (q1 {pq1:.3f}, q3 {pq3:.3f}, IQR {pq3 - pq1:.3f})")
        print(f"  change median {cmed:.3f} (q1 {cq1:.3f}, q3 {cq3:.3f}, IQR {cq3 - cq1:.3f})")
        print(f"  change better in {won}/{len(pairs)} pairs; median gap {gap:+.3f} "
              f"{'exceeds' if gap > pq3 - pq1 else 'does not exceed'} the parent's IQR"
              + (f"; WORSE than the parent by {worse:.1%}, over the bound"
                 if worse > m["bound"] else ""))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", default=".")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds)
    ap.add_argument("--out")
    a = ap.parse_args()
    n = len(a.seeds)
    trees = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    with open(os.path.join(trees["change"], "BENCHMARK.json")) as f:
        spec = json.load(f)

    pairs = []
    for i, seed in enumerate(a.seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run(trees[side], a.workload, seed, spec["run_seconds"])
        pairs.append(pair)
        print(f"pair {i + 1}/{n} seed {seed} first {order[0]}: " + ", ".join(
            f"{s} {pair[s]['metrics']['op_ms_p50']:.1f} ms p50 "
            f"(steal {pair[s]['steal_s']:.1f} s, correct {pair[s]['correct']}, "
            f"failed {pair[s]['failed']}/{pair[s]['attempted']})"
            for s in ("parent", "change")), flush=True)
        if a.out:
            with open(a.out, "w") as f:
                json.dump({"workload": a.workload, "pairs": pairs}, f, indent=1)
    summary(pairs, spec)
    bad = [(p["seed"], s) for p in pairs for s in ("parent", "change")
           if not p[s]["correct"] or p[s]["failed"]]
    print(f"\nruns not correct or with failed operations: {bad or 'none'}")


if __name__ == "__main__":
    main()
