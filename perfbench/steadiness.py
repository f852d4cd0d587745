#!/usr/bin/env python3
"""Check that the benchmark is steady: two sets of runs of the same code.

    python3 perfbench/steadiness.py [--seeds 10] [--sets 2] [--workload W ...]

Run from the root of a checkout. Each set runs every workload once per
seed (each set uses its own seeds) with the command and run length named in
BENCHMARK.json, tracing off. For each end-to-end metric on each workload it
prints the spread of the set's values, (q3 - q1) / median with quartiles
from statistics.quantiles(n=4), against the metric's bound, and how far
the later set's median moved from the first set's, in the metric's worse
direction, against the same bound. Exits 1 when any check fails. The raw
results are kept in .bench_build/steadiness-<time>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(spec, workload, seed):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]),
                             "--trace", "0"]
    t0 = time.time()
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         stderr=subprocess.DEVNULL)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: run failed ({out.returncode})")
    result = json.loads(lines[-1])
    result["elapsed_s"] = time.time() - t0
    return result


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    metrics = spec["end_to_end"]
    runs = {}  # (set, workload) -> [result]
    for s in range(args.sets):
        for w in workloads:
            for i in range(args.seeds):
                seed = 1000 * (s + 1) + i
                r = run_once(spec, w, seed)
                runs.setdefault((s, w), []).append(r)
                print(f"set {s + 1} {w} seed {seed}: correct={r['correct']} "
                      f"{r['elapsed_s']:.1f} s", file=sys.stderr)
    ok = True
    print(f"{'workload':14} {'metric':14} {'bound':>6} " +
          " ".join(f"{'spread' + str(s + 1):>8}" for s in range(args.sets)) +
          f" {'drift':>8}  verdict")
    for w in workloads:
        for m in metrics:
            name, bound = m["name"], m["bound"]
            sets = [[r["metrics"][name]["value"] for r in runs[(s, w)]]
                    for s in range(args.sets)]
            spreads = [spread(v) for v in sets]
            meds = [statistics.median(v) for v in sets]
            sign = 1 if m["better"] == "lower" else -1
            drift = max(sign * (x - meds[0]) / meds[0] if meds[0] else 0.0
                        for x in meds[1:]) if len(meds) > 1 else 0.0
            bad = drift > bound or any(x > bound for x in spreads)
            ok &= not bad
            tight = all(x <= bound / 3 for x in spreads)
            verdict = "FAIL" if bad else ("ok" if tight else "ok (>bound/3)")
            print(f"{w:14} {name:14} {bound:6.3f} " +
                  " ".join(f"{x:8.4f}" for x in spreads) +
                  f" {drift:8.4f}  {verdict}")
    incorrect = sum(not r["correct"] for rs in runs.values() for r in rs)
    if incorrect:
        ok = False
        print(f"{incorrect} runs reported correct=false")
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    path = os.path.join(ROOT, ".bench_build",
                        f"steadiness-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump({f"{s + 1}/{w}": rs for (s, w), rs in runs.items()}, f)
    print(f"raw results: {os.path.relpath(path, ROOT)}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
