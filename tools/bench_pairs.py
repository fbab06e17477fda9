#!/usr/bin/env python3
"""Runs alternating benchmark pairs in two checkouts and judges the change.

    python3 tools/bench_pairs.py --parent DIR --change DIR --workload W --pairs N --seed0 S

Pair i (1-based) runs `perfbench/run.py --workload W --seed S+i-1 --trace 0`
once in each checkout, one run at a time, the parent first on odd pairs and
the change first on even ones, so that drift of the machine falls on both
sides alike. For each end-to-end metric of BENCHMARK.json it then prints each
side's quartiles, the pairs the change won (ties count for neither side), the
gain verdict (at least 9 of 10 pairs won, and a median gap larger than the
parent's interquartile range) and the bound check (the change's median no
worse than the parent's by more than the metric's relative `bound`). Every
run's `correct` and `failed` are printed as it ends; the exit status is 1 if
any run is not correct. `--out FILE` keeps every run's result as JSON.
Stdlib only.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def first_side(pair):
    """The checkout that runs first in 1-based pair `pair`."""
    return "parent" if pair % 2 == 1 else "change"


def quartiles(xs):
    """(first quartile, median, third quartile) of xs."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def judge(parent, change, better, bound):
    """Compares one metric's paired runs: parent[i] and change[i] share a seed.
    Returns a dict with each side's quartiles, the pairs the change won, the
    gain verdict and the bound check."""
    if len(parent) != len(change) or not parent:
        raise ValueError("need the same, non-zero number of runs on each side")
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    pq, cq = quartiles(parent), quartiles(change)
    gap = sign * (pq[1] - cq[1])  # > 0: the change's median is better
    iqr = pq[2] - pq[0]
    worse = -gap / abs(pq[1]) if pq[1] else 0.0
    return {
        "parent": pq,
        "change": cq,
        "wins": wins,
        "pairs": len(parent),
        "gain": wins * 10 >= 9 * len(parent) and gap > iqr,
        "gap": gap,
        "parent_iqr": iqr,
        "worse_frac": worse,
        "within_bound": worse <= bound,
    }


def run_once(checkout, workload, seed, seconds):
    """One `perfbench/run.py --trace 0` run; returns its last JSON line, or a
    result with `correct` false if it printed none."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        tail = p.stderr.strip().splitlines()[-3:]
        return {"correct": False, "failed": None, "metrics": {}, "error": f"exit {p.returncode}: {tail}"}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--out")
    a = ap.parse_args(argv)
    spec = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    dirs = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}

    runs = {"parent": [], "change": []}
    for pair in range(1, a.pairs + 1):
        seed = a.seed0 + pair - 1
        first = first_side(pair)
        for side in (first, "change" if first == "parent" else "parent"):
            r = run_once(dirs[side], a.workload, seed, spec["run_seconds"])
            r["seed"] = seed
            runs[side].append(r)
            vals = " ".join(f"{k}={v['value']:.4f}" for k, v in sorted(r["metrics"].items()))
            print(f"pair {pair} seed {seed} {side:6} {vals} correct={r['correct']} "
                  f"failed={r['failed']}{' ' + r['error'] if 'error' in r else ''}", flush=True)

    ok = all(r["correct"] for side in runs.values() for r in side)
    for m in spec["end_to_end"]:
        name = m["name"]
        try:
            p = [r["metrics"][name]["value"] for r in runs["parent"]]
            c = [r["metrics"][name]["value"] for r in runs["change"]]
        except KeyError:
            print(f"{a.workload} {name}: missing from some run")
            continue
        j = judge(p, c, m["better"], m["bound"])
        fmt = lambda q: "/".join(f"{x:.4f}" for x in q)  # noqa: E731
        print(f"{a.workload} {name} ({m['better']} is better): "
              f"parent q1/median/q3 {fmt(j['parent'])}  change {fmt(j['change'])}")
        print(f"  change won {j['wins']}/{j['pairs']} pairs; median gap {j['gap']:+.4f} "
              f"vs parent IQR {j['parent_iqr']:.4f}: gain {'MET' if j['gain'] else 'NOT MET'}")
        print(f"  change worse by {j['worse_frac']:+.1%} of the parent median, bound "
              f"{m['bound']:.0%}: {'within' if j['within_bound'] else 'OUT OF'} bound")
    failed = {side: [r["failed"] for r in rs] for side, rs in runs.items()}
    print(f"failed per run: parent {failed['parent']}  change {failed['change']}")
    print(f"all runs correct: {ok}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"workload": a.workload, "seed0": a.seed0, "runs": runs}, fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
