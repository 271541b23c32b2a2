#!/usr/bin/env python3
"""Steadiness check: run one workload back to back with different seeds
and print, for each end-to-end metric, the median and the quartile
spread (Q3 - Q1 over the median, from statistics.quantiles(n=4)).

    python3 opbench/steady.py --workload fold_increment --runs 10 \
        [--first-seed 1] [--out runs.jsonl]

Run from the root of a checkout. A spread is flagged when it is not
below a third of the metric's bound in BENCHMARK.json (setup_s is
reported but not flagged; its runs are compared by median only).
Every run's result and diagnostics line is appended to --out.
"""
import argparse
import json
import statistics
import subprocess
import sys


def bench():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def run_once(b, workload, seed):
    cmd = b["command"] + ["--workload", workload, "--seed", str(seed),
                          "--seconds", str(b["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"run failed ({p.returncode}): {p.stderr[-2000:]}")
    diag = json.loads(lines[-2])["diagnostics"] if len(lines) > 1 else {}
    return json.loads(lines[-1]), diag


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    b = bench()
    values = {m["name"]: [] for m in b["end_to_end"]}
    bad_runs = 0
    for i in range(a.runs):
        seed = a.first_seed + i
        res, diag = run_once(b, a.workload, seed)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": seed,
                                    "result": res, "diagnostics": diag}) + "\n")
        bad_runs += not res["correct"]
        for k in values:
            values[k].append(res["metrics"][k]["value"])
        print(f"seed {seed}: correct={res['correct']} " + " ".join(
            f"{k}={res['metrics'][k]['value']:.4g}" for k in values) +
            f" steal_s={diag.get('steal_s', 0):.1f}", flush=True)
    print(f"{a.workload}: {a.runs} runs, {bad_runs} incorrect")
    for m in b["end_to_end"]:
        med, sp = spread(values[m["name"]])
        limit = m["bound"] / 3
        flag = "" if m["name"] == "setup_s" or sp < limit else "  <-- not steady"
        print(f"  {m['name']:<22} median {med:<12.6g} spread {sp:.4f} "
              f"(bound {m['bound']}, a third {limit:.4f}){flag}")


if __name__ == "__main__":
    main()
