"""Steadiness tool: run one workload N times, each with its own seed, and
print each metric's median, quartiles and spread next to its bound.

    python3 perfbench/steady.py --workload daily_increment --runs 10 [--first-seed 1]
        [--seconds 5] [--trace 0]

Spread is (Q3 - Q1) / median with Python's statistics.quantiles(n=4).
Bounds come from BENCHMARK.json at the repository root when it is there;
a metric is steady when its spread is below a third of its bound. Raw
results are kept in .bench_work/steady-<workload>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()

    bench = {}
    path = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(path):
        bench = json.load(open(path))
    seconds = a.seconds or bench.get("run_seconds", 10)
    bounds = {m["name"]: m.get("bound") for m in bench.get("end_to_end", [])}

    results = []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        p = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                            "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", str(a.trace)],
                           cwd=ROOT, stdout=subprocess.PIPE, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: run failed (exit {p.returncode})")
            continue
        r = json.loads(last)
        r["seed"] = seed
        results.append(r)
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(r["metrics"].items())),
              flush=True)
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_work", f"steady-{a.workload}.json"), "w") as f:
        json.dump(results, f, indent=1)
    if len(results) < 2:
        sys.exit("fewer than two successful runs")

    shares = {r["failed"] / r["attempted"] for r in results}
    print(f"\n{a.workload}: {len(results)} runs, all correct: "
          f"{all(r['correct'] for r in results)}, failed shares: {sorted(shares)}")
    print(f"{'metric':40s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}  steady")
    for name in sorted(results[0]["metrics"]):
        vals = [r["metrics"][name]["value"] for r in results if name in r["metrics"]]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(name)
        ok = "" if b is None else ("yes" if spread < b / 3 else "NO")
        print(f"{name:40s} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f} "
              f"{'' if b is None else b:>6}  {ok}")


if __name__ == "__main__":
    main()
