#!/usr/bin/env python3
"""Paired comparison of two builds: alternate runs of checkout A (the
parent) and checkout B (the change), swapping which side goes first in
each pair, and count per-pair wins for every end-to-end metric.

    python3 opbench/pair.py --a ../parent --b . --workload fold_increment \
        [--pairs 10] [--first-seed 101] [--out pairs.jsonl]

Both sides run the same seed within a pair. A gain is claimed for a
metric only after at least ten pairs, when B wins at least nine tenths
of them (ties count for neither) and the medians differ by more than
A's own quartile spread (Q3 - Q1). Metric directions come from A's
BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(side_dir, workload, seed):
    with open(os.path.join(side_dir, "BENCHMARK.json")) as f:
        b = json.load(f)
    cmd = b["command"] + ["--workload", workload, "--seed", str(seed),
                          "--seconds", str(b["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=side_dir, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{side_dir}: run failed ({p.returncode}): {p.stderr[-2000:]}")
    return json.loads(lines[-1])


def quartiles(v):
    q1, _, q3 = statistics.quantiles(v, n=4)
    return q1, statistics.median(v), q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", required=True, help="parent checkout")
    ap.add_argument("--b", required=True, help="changed checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    with open(os.path.join(a.a, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    vals = {"a": {m["name"]: [] for m in metrics},
            "b": {m["name"]: [] for m in metrics}}
    for i in range(a.pairs):
        seed = a.first_seed + i
        order = ["a", "b"] if i % 2 == 0 else ["b", "a"]
        for side in order:
            res = run(a.a if side == "a" else a.b, a.workload, seed)
            if not res["correct"]:
                sys.exit(f"pair {i} side {side}: incorrect result {res}")
            for m in metrics:
                vals[side][m["name"]].append(res["metrics"][m["name"]]["value"])
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps({"pair": i, "side": side, "seed": seed,
                                        "result": res}) + "\n")
        print(f"pair {i} (seed {seed}, {order[0]} first) done", flush=True)
    print(f"{a.workload}: {a.pairs} pairs, B = {a.b} vs A = {a.a}")
    for m in metrics:
        n = m["name"]
        sign = 1 if m["better"] == "higher" else -1
        wins = sum(1 for x, y in zip(vals["a"][n], vals["b"][n])
                   if sign * (y - x) > 0)
        losses = sum(1 for x, y in zip(vals["a"][n], vals["b"][n])
                     if sign * (y - x) < 0)
        qa, qb = quartiles(vals["a"][n]), quartiles(vals["b"][n])
        claim = (a.pairs >= 10 and wins >= 0.9 * a.pairs
                 and abs(qb[1] - qa[1]) > qa[2] - qa[0])
        print(f"  {n:<22} A {qa[1]:<10.5g} [{qa[0]:.5g}, {qa[2]:.5g}]  "
              f"B {qb[1]:<10.5g} [{qb[0]:.5g}, {qb[2]:.5g}]  "
              f"B wins {wins}/{a.pairs}, loses {losses}"
              f"{'  -> gain' if claim else ''}")


if __name__ == "__main__":
    main()
