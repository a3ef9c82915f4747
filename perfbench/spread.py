#!/usr/bin/env python3
"""Run a workload over several seeds and print each metric's spread.

Usage (from the checkout root):

  python3 perfbench/spread.py --workload W --seeds 1-10 [--seconds S] [--trace 0|1]

For each metric of the result line, prints the median over the seeds and
the spread: the distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median, next to
the metric's bound from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")))
    secs = a.seconds if a.seconds is not None else spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values, bad = {}, 0
    for s in seeds(a.seeds):
        cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", a.workload,
               "--seed", str(s), "--seconds", str(secs), "--trace", str(a.trace)]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            print(f"seed {s}: exit {r.returncode}", file=sys.stderr)
            bad += 1
            continue
        res = json.loads(r.stdout.strip().splitlines()[-1])
        bad += 0 if res["correct"] else 1
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {s}: " + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
              flush=True)
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{k:32} median {med:.6g}  spread {spread:.4f}  bound {bounds.get(k, '-')}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
