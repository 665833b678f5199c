#!/usr/bin/env python3
"""A/B runs of perfbench: a parent commit against a change, from two fresh
checkouts.

    python3 tools/ab.py --pairs 10 [--parent REV] [--change REV]
                        [--workloads a,b] [--seed 100] [--seconds 20]

Exports both commits with `git archive` into two sibling directories of a
new temporary directory, so neither side inherits a build or a work
directory. Then, per workload, runs `perfbench/run.py --trace 0` in
alternating pairs: pair i runs both sides on seed `--seed + i`, the parent
first when i is even and the change first when i is odd. It prints, for
every end-to-end metric BENCHMARK.json names, each side's median and
quartiles, the share of pairs the change won (ties count for neither), and
a verdict:

  gain         the change won at least 9/10 of the pairs, and the medians
               differ by more than the parent's interquartile range
  worse        the change's median is worse than the parent's by more than
               the metric's bound (a share of the parent's median)
  unresolved   the parent's own spread (IQR / median) exceeds the bound,
               and not every change run beats every parent run
  within bound otherwise

Every run's result line goes to `runs.jsonl` in the temporary directory.
The two checkouts are removed at the end; `runs.jsonl` stays. To measure
uncommitted work, pass `--change $(git stash create)` after `git add -A`.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev, dest):
    """Write the tree of `rev` into `dest` (a new directory)."""
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev], check=True,
                             stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


STDERR_TAIL = 40  # lines of a failed run's stderr kept for its report


def run(checkout, workload, seed, seconds):
    """One timed perfbench run: (its result object, None), or (None, the
    last STDERR_TAIL lines of its stderr) when it failed."""
    proc = subprocess.run(
        [sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        tail = "\n".join(proc.stderr.splitlines()[-STDERR_TAIL:])
        return None, f"exit code {proc.returncode}, last stderr lines:\n{tail}"
    return json.loads(lines[-1]), None


def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(parent, change, bound, lower_better):
    """The verdict for one metric from paired runs (parent[i], change[i])."""
    sign = 1 if lower_better else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    gain = sign * (pmed - cmed)
    if wins >= 0.9 * len(parent) and gain > pq3 - pq1:
        return wins, "gain"
    if -gain > bound * abs(pmed):
        return wins, "worse"
    all_better = (max(change) < min(parent)) if lower_better else (min(change) > max(parent))
    if pmed and (pq3 - pq1) / abs(pmed) > bound and not all_better:
        return wins, "unresolved"
    return wins, "within bound"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--parent", default="HEAD^")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--workloads", default=None,
                    help="comma-separated; default: BENCHMARK.json's workloads")
    ap.add_argument("--seed", type=int, default=100, help="seed of the first pair")
    ap.add_argument("--seconds", type=int, default=None,
                    help="run length; default: BENCHMARK.json's run_seconds")
    args = ap.parse_args()
    if args.pairs < 2:
        sys.exit("ab: --pairs must be at least 2 (quartiles need two runs a side)")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    seconds = args.seconds or bench["run_seconds"]
    metrics = bench["end_to_end"]

    work = tempfile.mkdtemp(prefix="ab-")
    sides = {"parent": os.path.join(work, "parent"), "change": os.path.join(work, "change")}
    export(args.parent, sides["parent"])
    export(args.change, sides["change"])
    print(f"ab: parent {args.parent} and change {args.change} exported under {work}", flush=True)

    failed_runs = 0
    with open(os.path.join(work, "runs.jsonl"), "w") as log:
        for wl in workloads:
            res = {"parent": [], "change": []}
            for i in range(args.pairs):
                seed = args.seed + i
                order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
                got, errs = {}, {}
                for side in order:
                    got[side], errs[side] = run(sides[side], wl, seed, seconds)
                    log.write(json.dumps({"workload": wl, "pair": i, "seed": seed, "side": side,
                                          "result": got[side]}) + "\n")
                    log.flush()
                if got["parent"] is None or got["change"] is None:
                    failed_runs += 1
                    print(f"ab: {wl} pair {i} (seed {seed}): a run failed, pair dropped", flush=True)
                    for side in order:
                        if errs[side]:
                            print(f"ab: {side} run, {errs[side]}", flush=True)
                    continue
                for side in order:
                    res[side].append(got[side])
                print(f"ab: {wl} pair {i} (seed {seed}) done", flush=True)
            n = len(res["parent"])
            print(f"\n== {wl}: {n} pairs")
            if n < 2:
                print("   too few complete pairs for quartiles")
                continue
            for side in ("parent", "change"):
                fails = sum(r["failed"] for r in res[side])
                tried = sum(r["attempted"] for r in res[side])
                wrong = sum(1 for r in res[side] if not r["correct"])
                print(f"   {side}: {fails}/{tried} ops failed, {wrong} runs with a wrong output")
            print(f"   {'metric':<10} {'parent median [q1, q3]':<28} {'change median [q1, q3]':<28} "
                  f"{'wins':<7} verdict")
            for m in metrics:
                name = m["name"]
                p = [r["metrics"][name]["value"] for r in res["parent"]]
                c = [r["metrics"][name]["value"] for r in res["change"]]
                wins, v = verdict(p, c, m["bound"], m["better"] == "lower")
                pq1, pmed, pq3 = quartiles(p)
                cq1, cmed, cq3 = quartiles(c)
                print(f"   {name:<10} {pmed:8.3f} [{pq1:.3f}, {pq3:.3f}]{'':<5} "
                      f"{cmed:8.3f} [{cq1:.3f}, {cq3:.3f}]{'':<5} {wins:>2}/{n:<4} {v}")
    for d in sides.values():
        shutil.rmtree(d)
    if failed_runs:
        print(f"\nab: {failed_runs} pair(s) had a failed run")
    print(f"ab: every run's result is in {os.path.join(work, 'runs.jsonl')}")


if __name__ == "__main__":
    main()
