#!/usr/bin/env python3
"""Steadiness check: run each workload on several seeds, in two sets, and
report every end-to-end metric's median, quartiles and spread per set.

    python3 perfbench/steady.py [--seeds 10] [--sets 2] [--seconds 20]

Spread is (Q3 - Q1) / median over one set's seeds, with quartiles as
Python's statistics.quantiles(values, n=4) gives them. A metric passes when
its spread is within its bound in BENCHMARK.json and the
second set's median is not worse than the first's by more than the bound.
The bounds in BENCHMARK.json rest on these numbers. Run from the checkout
root; results also go to .bench_build/perfbench/steady-<time>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    a = ap.parse_args()
    workloads = [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    values = {}  # (workload, set) -> metric -> [values]
    failures = 0

    def run(wl, seed, key):
        nonlocal failures
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                            "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        if res is None or not res["correct"]:
            failures += 1
            print(f"{key} {wl} seed {seed}: exit {p.returncode}\n{p.stdout[-3000:]}\n{p.stderr[-3000:]}")
        if res is None:
            return
        print(f"{key} {wl} seed {seed}: {time.time() - t0:.1f} s, correct={res['correct']}, "
              + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault((wl, key), {}).setdefault(k, []).append(v["value"])

    for s in range(a.sets):
        for wl in workloads:
            for seed in range(1, 1 + a.seeds):
                run(wl, seed, s)
    report = []
    ok = failures == 0
    print(f"\n{'workload':16} {'metric':14} {'set':>3} {'median':>11} {'q1':>11} {'q3':>11} "
          f"{'spread':>7} {'bound':>6} {'drift':>7}")
    for wl in workloads:
        for k, b in bounds.items():
            first = None
            for s in range(a.sets):
                xs = values.get((wl, s), {}).get(k, [])
                if len(xs) < 2:
                    continue
                q1, med, q3 = statistics.quantiles(xs, n=4)
                spread = (q3 - q1) / med if med else float("inf")
                worse = 1 if b["better"] == "lower" else -1
                drift = 0.0 if first is None else worse * (med - first) / first
                first = med if first is None else first
                passed = spread <= b["bound"] and drift <= b["bound"]
                ok &= passed
                report.append({"workload": wl, "metric": k, "set": s + 1, "median": med, "q1": q1,
                               "q3": q3, "spread": spread, "drift": drift, "bound": b["bound"],
                               "pass": passed, "values": xs})
                print(f"{wl:16} {k:14} {s + 1:>3} {med:>11.4g} {q1:>11.4g} {q3:>11.4g} "
                      f"{spread:>7.3f} {b['bound']:>6.2f} {drift:>7.3f}{'' if passed else '  FAIL'}")
    out = os.path.join(ROOT, ".bench_build", "perfbench", f"steady-{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"failures": failures, "rows": report}, f, indent=1)
    print(f"\n{'PASS' if ok else 'FAIL'}: {failures} failed runs; details in {out}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
