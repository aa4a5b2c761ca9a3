#!/usr/bin/env python3
"""Runs one workload several times and reports how steady its metrics are.

    python3 perfbench/steady.py --workload doc_qa --runs 10 --first-seed 1 [--sets 2]

Each run uses its own seed (first-seed, first-seed + 1, ...; a second set
continues the numbering). For every end-to-end metric it prints the
median, the first and third quartile (statistics.quantiles, n=4), the
spread (q3 - q1) / median next to the metric's bound in BENCHMARK.json,
and with two sets how far the second median moved against the first in
the metric's worse direction. The last line is the same report as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if proc.returncode != 0:
        raise SystemExit(f"run with seed {seed} failed (exit {proc.returncode})")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = spec["end_to_end"]

    sets = []
    for s in range(args.sets):
        results = []
        for i in range(args.runs):
            seed = args.first_seed + s * args.runs + i
            r = run(args.workload, seed, spec["run_seconds"])
            results.append(r)
            print(f"set {s + 1} seed {seed}: failed {r['failed']}/{r['attempted']} " +
                  " ".join(f"{m['name']}={r['metrics'][m['name']]['value']:.4g}" for m in metrics),
                  file=sys.stderr, flush=True)
        sets.append(results)

    report = {"workload": args.workload, "runs": args.runs, "sets": []}
    for results in sets:
        report["sets"].append({
            "failed_share": sorted({r["failed"] / r["attempted"] for r in results}),
            "metrics": {m["name"]: summary([r["metrics"][m["name"]]["value"] for r in results])
                        for m in metrics}})
    print(f"{'metric':18s} {'bound':>6s}" + "".join(
        f" | set{i + 1} {'median':>10s} {'q1':>10s} {'q3':>10s} {'spread':>7s}" for i in range(len(sets))) +
        ("  | drift" if len(sets) == 2 else ""))
    for m in metrics:
        name = m["name"]
        line = f"{name:18s} {m['bound']:6.2f}"
        for st in report["sets"]:
            x = st["metrics"][name]
            line += f" | {'':4s} {x['median']:10.4g} {x['q1']:10.4g} {x['q3']:10.4g} {x['spread']:7.3f}"
        if len(sets) == 2:
            a, b = (st["metrics"][name]["median"] for st in report["sets"])
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            report.setdefault("drift", {})[name] = worse
            line += f"  | {worse:+.3f}"
        print(line)
    for i, st in enumerate(report["sets"]):
        print(f"set {i + 1} failed share: {st['failed_share']}")
    print(json.dumps(report))


if __name__ == "__main__":
    main()
