#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
spread: the distance between the first and third quartile of its values
(statistics.quantiles, n=4) as a share of their median. A spread of a
third of the metric's bound or more is flagged UNSTEADY, one above the
bound OVER BOUND; setup_s is flagged like every other metric.

    python3 perfbench/steadiness.py --seeds 1-10 [--workloads a,b] [--out f]

Run from the root of a checkout, like run.py. With --out, the raw values,
medians, spreads, bounds and run times are written there as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, help="inclusive range, e.g. 1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = (a.workloads.split(",") if a.workloads
             else [w["name"] for w in bench["workloads"]])
    report = {}
    for w in names:
        values, walls = {}, []
        for s in seeds(a.seeds):
            t0 = time.time()
            out = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(s),
                                    "--seconds", str(bench["run_seconds"]),
                                    "--trace", "0"],
                capture_output=True, text=True)
            walls.append(time.time() - t0)
            if out.returncode != 0:
                sys.exit(f"{w} seed {s} failed:\n{out.stderr[-2000:]}")
            res = json.loads(out.stdout.strip().splitlines()[-1])
            if not res["correct"] or res["failed"]:
                sys.exit(f"{w} seed {s} is incorrect:\n{out.stdout}")
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        rows = {}
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            rows[k] = {"values": vs, "median": med,
                       "spread": (q3 - q1) / med, "bound": bounds[k]}
            spread = rows[k]["spread"]
            flag = ("  OVER BOUND" if spread > bounds[k] else
                    "  UNSTEADY" if spread >= bounds[k] / 3 else "")
            print(f"{w} {k}: median {med:.4g} spread {rows[k]['spread']:.3%}"
                  f" bound {bounds[k]:.0%}{flag}", flush=True)
        print(f"{w}: run wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s", flush=True)
        report[w] = {"metrics": rows, "run_wall_s": walls}
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
