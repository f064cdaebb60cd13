#!/usr/bin/env python3
"""Steadiness check: run the benchmark in two sets of seeds on one
commit and report, per workload and end-to-end metric, each set's
median, quartiles and spread against the metric's bound.

    python3 perfbench/steady.py --runs 10 --sets 2
    python3 perfbench/steady.py --workloads iterative_sf001 --runs 5 --sets 1

The spread is (Q3 - Q1) / median over a set's runs, with quartiles as
`statistics.quantiles(values, n=4)` gives them. A metric is steady when
every set's spread is within its bound and every later set's median
lies within the bound of the first set's, in either direction.
Every run also takes one box-speed probe sample after its
measurements (`run.py --probe`: `bench.probe_once`, about 12 s at 4
cores). The series is printed beside the metrics as a contention
diagnostic and is never used to normalise or drop runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0", "--probe"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    probes = [float(x) for line in lines if "box.probe_s samples:" in line
              for x in line.split(":", 1)[1].split()]
    return {"result": result, "wall": wall, "probe": probes}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", default=names, choices=names)
    ap.add_argument("--runs", type=int, default=10, help="runs per workload per set")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args(argv)

    metrics = bench["end_to_end"]
    runs: dict[tuple, list] = {}
    for s in range(args.sets):
        for w in args.workloads:
            for i in range(args.runs):
                seed = 1000 * (s + 1) + i
                r = run_once(w, seed, args.seconds)
                runs.setdefault((w, s), []).append(r)
                res = r["result"]
                vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
                print(f"set {s + 1} {w} seed {seed}: wall {r['wall']:.1f} s correct={res['correct']} "
                      f"failed={res['failed']}/{res['attempted']} {vals} probe={r['probe']}",
                      flush=True)

    steady = True
    for w in args.workloads:
        print(f"\n{w}")
        print(f"  {'metric':14s} {'set':>3s} {'median':>10s} {'Q1':>10s} {'Q3':>10s} "
              f"{'spread':>7s} {'bound':>6s} {'drift':>7s}")
        for m in metrics:
            first = None
            for s in range(args.sets):
                vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs[(w, s)]]
                med, q1, q3, sp = spread(vals)
                first = med if first is None else first
                drift = (med - first) / first
                ok_sp = sp <= m["bound"]
                ok_dr = abs(drift) <= m["bound"]
                steady &= ok_sp and ok_dr
                flag = "" if ok_sp and ok_dr else "  <-- outside bound"
                print(f"  {m['name']:14s} {s + 1:3d} {med:10.4f} {q1:10.4f} {q3:10.4f} "
                      f"{sp:7.3f} {m['bound']:6.2f} {drift:+7.3f}{flag}")
        for s in range(args.sets):
            walls = [r["wall"] for r in runs[(w, s)]]
            probes = [p for r in runs[(w, s)] for p in r["probe"]]
            failed = sum(r["result"]["failed"] for r in runs[(w, s)])
            print(f"  set {s + 1}: run wall median {statistics.median(walls):.1f} s "
                  f"(max {max(walls):.1f}, probe included), failed ops {failed}, "
                  f"box.probe_s {' '.join(f'{p:.2f}' for p in probes)}")
    print("\nsteady" if steady else "\nNOT steady")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
