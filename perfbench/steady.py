#!/usr/bin/env python3
"""Steadiness check: run one workload N times with seeds 1..N and print, for
each metric, the median, the quartiles and whether the quartile spread fits
the metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py --workload copy [--runs 10] [--trace 0]

Run from the root of a checkout. The spread is (Q3 - Q1) / median with the
quartiles of statistics.quantiles(values, n=4), held to the bound of every
metric that has one. Exits 1 when a spread exceeds its bound or the share of
failed operations differs between runs.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")

    values, shares = {}, set()
    for seed in range(args.first_seed, args.first_seed + args.runs):
        out = subprocess.run(
            [sys.executable, run, "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True, timeout=900)
        if out.returncode != 0:
            print(f"seed {seed}: exit code {out.returncode}")
            sys.exit(1)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        shares.add((res["failed"], res["attempted"]) if res["attempted"] else None)
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        if not res["correct"]:
            sys.exit(1)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])

    ok = len({f / a for f, a in shares}) == 1
    print(f"\nfailed share per run: {sorted(shares)}{'' if ok else '  DIFFERS'}")
    print(f"{'metric':32} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        spread = (q3 - q1) / med if med else 0.0
        b = bounds.get(k)
        verdict = ""
        if b is not None:
            fits = spread <= b
            ok &= fits
            verdict = "ok" if spread <= b / 3 else "fits" if fits else "TOO WIDE"
        print(f"{k:32} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f} "
              f"{'' if b is None else b:>6} {verdict}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
