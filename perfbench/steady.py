#!/usr/bin/env python3
"""Steadiness check: run workloads repeatedly on one commit, one seed per run,
and print each end-to-end metric's median and quartiles next to its bound.

Usage (from the root of a checkout):
  python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--workload NAME ...]

The spread is (Q3 - Q1) / median over the runs, with the quartiles of
statistics.quantiles(values, n=4). A metric is steady when its spread stays
within its bound from BENCHMARK.json, setup_s included. Every run's result
line is appended to .bench_build/steady.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def main():
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser(description="Benchmark steadiness check.")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    help="default: every workload of BENCHMARK.json")
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    os.makedirs(".bench_build", exist_ok=True)
    log = open(os.path.join(".bench_build", "steady.jsonl"), "a")
    ok = True
    for w in workloads:
        values, shares = {}, set()
        for seed in range(a.first_seed, a.first_seed + a.runs):
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed), "--seconds",
                                      str(bench["run_seconds"]), "--trace", "0"]
            r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            if r.returncode != 0:
                print(f"{w} seed {seed}: exit code {r.returncode}")
                ok = False
                continue
            lines = r.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            summary = lines[-2] if len(lines) > 1 else ""
            log.write(json.dumps({"workload": w, "seed": seed, "summary": summary, **res}) + "\n")
            log.flush()
            ok &= res["correct"]
            shares.add(res["failed"] / res["attempted"])
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
        print(f"== {w}: {len(next(iter(values.values()), []))} runs, "
              f"failed share {sorted(shares)}")
        for m in bench["end_to_end"]:
            v = values.get(m["name"], [])
            if len(v) < 2:
                continue
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med
            steady = spread <= m["bound"]
            ok &= steady
            print(f"  {m['name']:<18} median {med:12.4f} {m['unit']:<7} "
                  f"Q1 {q1:12.4f} Q3 {q3:12.4f} spread {spread:6.3f} "
                  f"bound {m['bound']:.2f} {'ok' if steady else 'TOO WIDE'}")
        ok &= len(shares) <= 1
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
