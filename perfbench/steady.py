#!/usr/bin/env python3
"""Steadiness report for the benchmark.

Usage, from the root of a checkout:

    python3 perfbench/steady.py

Runs every workload of BENCHMARK.json once per seed (seeds 1 to 10) with
--trace 0, in two sets, and reports per end-to-end metric and set: the
median, the quartiles (statistics.quantiles, n=4), the spread
(q3 - q1) / median against the metric's bound, and how far the second
set's median moved from the first set's (positive = worse). Each
invocation writes its figures, every run's values included, to a file of
its own, .bench_build/perfbench/steady-<UTC time>.json, updated after
every run.
"""
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEEDS = range(1, 11)
SETS = 2


def run(workload, seed, seconds):
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    r = json.loads(lines[-1])
    r["wall_s"] = time.monotonic() - t0
    return r


def summary(metric, sets):
    rows = []
    for v in sets:
        q1, _, q3 = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        rows.append({"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                     "values": v})
    first = rows[0]["median"]
    for r in rows:
        worse = (r["median"] - first) / first
        r["median_worse"] = worse if metric["better"] == "lower" else -worse
    return rows


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = spec["end_to_end"]
    out = os.path.join(ROOT, ".bench_build", "perfbench",
                       time.strftime("steady-%Y%m%dT%H%M%SZ.json", time.gmtime()))
    os.makedirs(os.path.dirname(out), exist_ok=True)
    report = {"run_seconds": spec["run_seconds"], "seeds": list(SEEDS), "workloads": {}}
    for w in (w["name"] for w in spec["workloads"]):
        runs = report["workloads"].setdefault(w, {"runs": []})["runs"]
        for s in range(SETS):
            for seed in SEEDS:
                r = run(w, seed, spec["run_seconds"])
                if not r["correct"] or r["failed"]:
                    raise SystemExit(f"{w} seed {seed}: incorrect run {r}")
                vals = {m["name"]: r["metrics"][m["name"]]["value"] for m in metrics}
                runs.append({"set": s + 1, "seed": seed, "wall_s": r["wall_s"], **vals})
                with open(out, "w") as f:
                    json.dump(report, f, indent=1)
                print(f"{w} set {s + 1} seed {seed} ({r['wall_s']:.0f} s): " + ", ".join(
                    f"{k}={v:.4g}" for k, v in vals.items()), flush=True)
        for m in metrics:
            n = m["name"]
            rows = summary(m, [[r[n] for r in runs if r["set"] == s + 1] for s in range(SETS)])
            report["workloads"][w][n] = rows
            print(f"{w:12s} {n:24s} bound {m['bound']:.2f}: " + " | ".join(
                f"median {r['median']:.4g} q1 {r['q1']:.4g} q3 {r['q3']:.4g} "
                f"spread {r['spread']:.3f} moved {r['median_worse']:+.3f}" for r in rows),
                flush=True)
        with open(out, "w") as f:
            json.dump(report, f, indent=1)
    print(f"report: {out}")


if __name__ == "__main__":
    main()
