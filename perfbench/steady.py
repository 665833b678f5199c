#!/usr/bin/env python3
"""Steadiness check: run each workload repeatedly, one seed per run, and
print every end-to-end metric's median and interquartile spread against
its bound from BENCHMARK.json.

    python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--seed0 1]
                                [--trace-overhead]

The spread is (q3 - q1) / median with the quartiles of
statistics.quantiles(values, n=4). The benchmark counts as steady when every
spread, setup_s's included, stays below a third of the metric's bound. Op
latencies are pooled over all runs of a workload for op_tail_s, which a
single run rarely supports. --trace-overhead also runs every seed traced and compares
the traced wall_s with the untraced one.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def rank(p, n):
    """ceil(p/100 * n) with p to 0.1, in integers (as Stats.rank)."""
    return (round(p * 10) * n + 999) // 1000


def tail(xs):
    """Highest ladder percentile with at least ten samples beyond its rank."""
    s = sorted(xs)
    for p in LADDER:
        r = rank(p, len(s))
        if r >= 1 and len(s) - r >= 10:
            return p, s[r - 1], len(s)
    return None


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    elapsed = time.time() - t0
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: run.py exited {p.returncode}")
    lines = [json.loads(l) for l in p.stdout.splitlines() if l.startswith("{")]
    result, report = lines[-1], lines[:-1]
    walls = {l["metric"]: l["value"] for l in report if "metric" in l and "value" in l}
    samples = next((l["op_samples_s"] for l in report if "op_samples_s" in l), [])
    return result, walls, samples, elapsed


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("inf")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace-overhead", action="store_true")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    steady = True
    for w in a.workloads.split(","):
        values, pooled, traced_walls, untraced_walls = {}, [], [], []
        for i in range(a.runs):
            seed = a.seed0 + i
            result, report, samples, elapsed = run(w, seed, spec["run_seconds"], 0)
            if not result["correct"] or result["failed"]:
                print(f"{w} seed {seed}: {result['failed']} of {result['attempted']} ops failed")
                steady = False
            for k, m in result["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            pooled += samples
            untraced_walls.append(report["wall_s"])
            steal = report.get("host.cpu_steal_frac")
            print(f"{w} seed {seed}: {elapsed:.1f} s run, " +
                  ", ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()) +
                  ("" if steal is None else f", host cpu steal {steal:.1%}"), flush=True)
            if a.trace_overhead:
                _, treport, _, telapsed = run(w, seed, spec["run_seconds"], 1)
                traced_walls.append(treport["wall_s"])
                print(f"{w} seed {seed} traced: {telapsed:.1f} s run, wall_s={treport['wall_s']:.4g}",
                      flush=True)
        for k, vs in values.items():
            med, sp = spread(vs)
            ok = sp < bounds[k] / 3
            steady &= ok
            print(f"{w} {k}: median {med:.6g}, IQR/median {sp:.4f}, bound {bounds[k]}"
                  f" ({'ok' if ok else 'NOT steady'}: target < {bounds[k] / 3:.4f})")
        t = tail(pooled)
        print(f"{w} op_tail_s: " + (f"p{t[0]} = {t[1]:.6g} s over {t[2]} pooled ops" if t
                                    else f"omitted, {len(pooled)} pooled ops support nothing above p50"))
        if traced_walls:
            ratios = [tw / uw - 1 for tw, uw in zip(traced_walls, untraced_walls)]
            print(f"{w} trace overhead (traced / untraced wall_s - 1, same seeds): "
                  f"median {statistics.median(ratios):+.4f}")
    print("steady" if steady else "NOT steady")
    sys.exit(0 if steady else 1)


if __name__ == "__main__":
    main()
