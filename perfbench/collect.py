#!/usr/bin/env python3
"""Run the benchmark over several seeds and keep every result.

    python3 perfbench/collect.py --out perfbench/results/setA --seeds 1-10
    python3 perfbench/collect.py --out /tmp/b --seeds 3,7 --workloads curate --trace 1

Writes <out>/<workload>-seed<n>-trace<t>.json holding the result line and
the run's record (environment, tail percentile, per-kind latencies).
Workloads and run length default to BENCHMARK.json's.
"""
import argparse
import glob
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    for w in args.workloads:
        for s in seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                                "--trace", str(args.trace)],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {s}: exit {p.returncode}", flush=True)
                continue
            records = sorted(glob.glob(os.path.join(
                HERE, "results", f"{w}-seed{s}-trace{args.trace}-*.json")))
            rec = json.load(open(records[-1])) if records else {}
            with open(os.path.join(args.out, f"{w}-seed{s}-trace{args.trace}.json"), "w") as f:
                json.dump({"result": json.loads(lines[-1]), "record": rec}, f)
            print(f"{w} seed {s}: {time.time() - t0:.0f} s", flush=True)


if __name__ == "__main__":
    main()
