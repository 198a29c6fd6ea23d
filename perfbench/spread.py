#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports each metric's median,
quartiles and spread (quartile distance over median), as the acceptance
check computes them.

Usage (from the repository root):
    python3 perfbench/spread.py --workload query_suite --seeds 1-10 [--trace 1]
        [--out record.json]
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    if args.seconds is None:
        with open("BENCHMARK.json") as f:
            args.seconds = json.load(f)["run_seconds"]
    runs = []
    for seed in args.seeds:
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)], capture_output=True, text=True)
        if proc.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{proc.stderr[-3000:]}")
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        out["seed"] = seed
        runs.append(out)
        print(json.dumps({"seed": seed, "correct": out["correct"],
                          "run_s": round(time.monotonic() - t0, 1),
                          **{k: round(v["value"], 4) for k, v in out["metrics"].items()
                             if len(out["metrics"]) < 10}}), flush=True)
    names = runs[0]["metrics"]
    stats = {k: {"unit": names[k]["unit"],
                 **summary([r["metrics"][k]["value"] for r in runs])} for k in names}
    if len(names) < 10:
        for k, s in stats.items():
            print(f"{k:>16} median {s['median']:.4f} q1 {s['q1']:.4f} q3 {s['q3']:.4f}"
                  f" spread {s['spread']:.4f}")
    record = {"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
              "all_correct": all(r["correct"] for r in runs), "metrics": stats}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
