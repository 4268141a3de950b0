#!/usr/bin/env python3
"""Run every workload untraced and traced; print all metrics and the
tracing overhead.

Usage (from the root of a checkout):
  python3 perfbench/report.py [--seed N] [--seconds S] [--workloads a,b]

For each workload this runs perfbench/run.py twice with the same seed:
--trace 0 for the end-to-end metrics and --trace 1 for the per-layer ones.
The traced run repeats the end-to-end timings as traced.*; the overhead
line is traced minus untraced.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{workload} --trace {trace} failed")
    lines = r.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    a = ap.parse_args()
    for w in a.workloads.split(","):
        notes, plain = run(w, a.seed, a.seconds, 0)
        _, traced = run(w, a.seed, a.seconds, 1)
        print(f"== {w}  (seed {a.seed}; correct={plain['correct']}, "
              f"failed_frac={plain['failed'] / plain['attempted']:.6f} of {plain['attempted']})")
        for n in notes:
            if not n.split(":")[0] in plain["metrics"] and not n.startswith("failed_frac"):
                print("   " + n)
        for k, v in plain["metrics"].items():
            print(f"   {k:<28} {v['value']:>14.3f} {v['unit']}")
        layer = None
        for k, v in traced["metrics"].items():
            head = k.split(".")[0]
            if head != layer:
                layer = head
                print(f"   [{layer}]")
            print(f"     {k:<44} {v['value']:>16.3f} {v['unit']}")
        for k in ("throughput_per_s", "latency_p50_ms", "latency_p95_ms"):
            u, t = plain["metrics"][k]["value"], traced["metrics"]["traced." + k]["value"]
            print(f"   tracing overhead {k}: {t - u:+.3f} ({(t - u) / u * 100:+.1f}%)")


if __name__ == "__main__":
    main()
