#!/usr/bin/env python3
"""Runs run.py once per seed and reports, per end-to-end metric, the
median and the quartile spread (Q3 - Q1 as a share of the median, from
statistics.quantiles(n=4)) against the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload migrate_orders --seeds 1-10

Runs are sequential. Each run's JSON result line is appended to
.bench_build/perfbench/spread-<workload>.jsonl.
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


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    log = os.path.join(ROOT, ".bench_build", "perfbench", f"spread-{a.workload}.jsonl")
    values = {}
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {s}: run.py exited {p.returncode}")
        r = json.loads(p.stdout.strip().splitlines()[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": s, **r}) + "\n")
        print(f"seed {s}: {time.time() - t0:.0f}s correct={r['correct']} failed={r['failed']}",
              flush=True)
        for k, m in r["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for k, v in values.items():
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med
        flag = "" if spread <= bounds[k] / 3 else "  > bound/3"
        print(f"{k:<26} median {med:>14.6g}  spread {spread:6.3f}  bound {bounds[k]}{flag}")


if __name__ == "__main__":
    main()
