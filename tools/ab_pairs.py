#!/usr/bin/env python3
"""Alternating A/B pairs of perfbench runs: parent checkout vs change checkout.

    python3 tools/ab_pairs.py PARENT_DIR CHANGE_DIR --workload lake_mixed \
        --seed 1 --pairs 10 [--seconds 30] [--out runs.json]

Each pair runs `perfbench/run.py` once in each checkout, one after the
other; the side that goes first flips from pair to pair, so drift of the
host over the session falls on both sides alike. Give each side its own
checkout (for example a fresh `git archive` of each commit), each with its
own build directories.

For every end-to-end metric of BENCHMARK.json it prints each side's
median and quartiles, the number of pairs the change won (in the
metric's `better` direction), the change/parent median ratio next to the
metric's `bound`, and a verdict:

  worse       the change's median is worse than the parent's by more
              than the bound;
  unresolved  the parent's interquartile range is wider than the bound
              (relative to its median) and not every change run beats
              every parent run, so the runs cannot tell;
  ok          otherwise.

It exits non-zero if any run fails, is not `correct` or has failed
operations.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(checkout, workload, seed, seconds):
    """One perfbench run in `checkout`; its final JSON line, or None."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"run failed in {checkout} (exit {p.returncode}):\n{p.stderr[-2000:]}",
              file=sys.stderr)
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    """(q1, median, q3) of `xs`, inclusive method; a single run is all three."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent, change, lower, bound):
    """(change/parent median ratio, "worse" | "unresolved" | "ok") of one
    metric's runs on each side; `bound` is the relative worsening allowed.
    """
    _, pm, _ = quartiles(parent)
    _, cm, _ = quartiles(change)
    ratio = cm / pm if pm else (1.0 if cm == pm else float("inf"))
    if (ratio > 1 + bound) if lower else (ratio < 1 - bound):
        return ratio, "worse"
    q1, _, q3 = quartiles(parent)
    spread = (q3 - q1) / abs(pm) if pm else (0.0 if q3 == q1 else float("inf"))
    all_beat = max(change) < min(parent) if lower else min(change) > max(parent)
    if spread > bound and not all_beat:
        return ratio, "unresolved"
    return ratio, "ok"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", help="checkout of the parent commit")
    ap.add_argument("change", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=None,
                    help="run length (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--out", help="write every run's result here as JSON")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds if args.seconds is not None else bench["run_seconds"]
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    runs = {"parent": [], "change": []}
    ok = True
    for i in range(args.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = run_once(sides[side], args.workload, args.seed, seconds)
            if res is None or not res["correct"] or res["failed"] > 0:
                ok = False
            runs[side].append(res)
            summary = "FAILED" if res is None else (
                f"correct={res['correct']} failed={res['failed']}/{res['attempted']}")
            print(f"pair {i + 1}/{args.pairs} {side}: {summary}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "seconds": seconds, "sides": sides, "runs": runs}, f, indent=1)

    pairs = [(p, c) for p, c in zip(runs["parent"], runs["change"])
             if p is not None and c is not None]
    print(f"\n{args.workload} seed {args.seed}: {len(pairs)} complete pairs of {args.pairs}")
    print(f"{'metric':30} {'parent q1/med/q3':>28} {'change q1/med/q3':>28} {'won':>6} "
          f"{'ratio':>7} {'bound':>6}  verdict")
    for m in bench["end_to_end"] if pairs else []:
        name, lower = m["name"], m["better"] == "lower"
        pv = [p["metrics"][name]["value"] for p, _ in pairs]
        cv = [c["metrics"][name]["value"] for _, c in pairs]
        won = sum((c < p) if lower else (c > p) for p, c in zip(pv, cv))
        ratio, mark = verdict(pv, cv, lower, m["bound"])
        fmt = lambda q: "/".join(f"{v:.4g}" for v in q)  # noqa: E731
        print(f"{name:30} {fmt(quartiles(pv)):>28} {fmt(quartiles(cv)):>28} "
              f"{won:>3}/{len(pairs)} {ratio:>7.3f} {m['bound']:>6.2f}  {mark}")
    if not ok:
        print("some run failed, was not correct or had failed ops", file=sys.stderr)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
