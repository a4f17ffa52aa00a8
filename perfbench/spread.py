"""Run a workload once per seed and report each metric's median and spread.

    python3 perfbench/spread.py daily_score 1 10 [--trace 1] [--out runs.jsonl]

Runs seeds FIRST..LAST (inclusive) one after another with the run_seconds
of BENCHMARK.json and prints, per metric, the median and the distance between
the first and third quartile (statistics.quantiles(values, n=4)) as a share of
the median, plus the failed-op share and each run's wall time.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("first", type=int)
    ap.add_argument("last", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    here = os.path.dirname(os.path.abspath(__file__))
    run = os.path.join(here, "run.py")
    with open(os.path.join(here, "..", "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    rows, walls = [], []
    for seed in range(a.first, a.last + 1):
        t0 = time.time()
        p = subprocess.run([sys.executable, run, "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", str(a.trace)],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.time() - t0)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}")
            continue
        r = json.loads(p.stdout.strip().splitlines()[-1])
        r["seed"], r["wall_s"] = seed, walls[-1]
        rows.append(r)
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} wall={walls[-1]:.1f}s", flush=True)
        if a.out:
            with open(a.out, "a") as fh:
                fh.write(json.dumps(r) + "\n")
    if not rows:
        sys.exit("no successful run")
    print(f"{'metric':40s} {'median':>14s} {'IQR/median':>10s}")
    for k in rows[0]["metrics"]:
        vals = [r["metrics"][k]["value"] for r in rows]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        share = (q[2] - q[0]) / med if med else float("nan")
        print(f"{k:40s} {med:14.4f} {share:10.4f}")
    print(f"failed share: {sum(r['failed'] for r in rows)}/{sum(r['attempted'] for r in rows)}; "
          f"all correct: {all(r['correct'] for r in rows)}; "
          f"wall per run: median {statistics.median(walls):.1f}s, max {max(walls):.1f}s")


if __name__ == "__main__":
    main()
