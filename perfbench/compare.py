#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric.

    python3 perfbench/compare.py perfbench/results/setA perfbench/results/setB
    python3 perfbench/compare.py perfbench/results/setA        # one set: spreads only

Each set is a directory written by collect.py. For every (workload,
metric) it prints each set's median and quartiles (Python's
statistics.quantiles, n=4), the spread (interquartile distance over the
median) and the change of the second median against the first, with the
runs' env.steal_frac and env.calib_ms medians beside them. A pair is
flagged when a spread (setup_s excepted) or a worsening exceeds the
metric's bound in BENCHMARK.json. Exits 1 when anything is flagged.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load(d):
    """{workload: {metric: [values]}} and {workload: {env key: [values]}}."""
    vals, env = {}, {}
    for f in sorted(glob.glob(os.path.join(d, "*-trace0.json"))):
        run = json.load(open(f))
        w = os.path.basename(f).split("-seed")[0]
        for m, v in run["result"]["metrics"].items():
            vals.setdefault(w, {}).setdefault(m, []).append(v["value"])
        for k in ("env.steal_frac", "env.calib_ms"):
            if k in run["record"]:
                env.setdefault(w, {}).setdefault(k, []).append(run["record"][k])
    return vals, env


def summary(xs):
    """(median, q1, q3, spread)."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0], 0.0
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return med, q1, q3, (q3 - q1) / abs(med) if med else float("inf")


def worse(metric, a, b):
    """Relative worsening of median b against median a (positive = worse)."""
    change = (b - a) / abs(a) if a else 0.0
    return -change if metric["better"] == "higher" else change


def compare(dirs, bench):
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    sets = [load(d) for d in dirs]
    flagged = 0
    for w in [x["name"] for x in bench["workloads"]]:
        if not all(w in s[0] for s in sets):
            continue
        env = "  ".join(f"{k}={statistics.median(v):.4g}"
                        for s in sets for k, v in sorted(s[1].get(w, {}).items()))
        print(f"\n== {w}  ({', '.join(str(len(next(iter(s[0][w].values())))) for s in sets)} runs)"
              f"  {env}")
        print(f"{'metric':<16}" + "".join(
            f"{'median':>12}{'q1':>11}{'q3':>11}{'spread':>8}" for _ in sets) +
            ("   change  bound" if len(sets) == 2 else "   bound"))
        for name, m in metrics.items():
            sums = [summary(s[0][w][name]) for s in sets if name in s[0][w]]
            if len(sums) != len(sets):
                continue
            flags = []
            line = f"{name:<16}"
            for med, q1, q3, spread in sums:
                line += f"{med:>12.5g}{q1:>11.5g}{q3:>11.5g}{spread:>8.3f}"
                if name != "setup_s" and spread > m["bound"]:
                    flags.append("SPREAD")
            if len(sums) == 2:
                wv = worse(m, sums[0][0], sums[1][0])
                line += f"  {wv:+7.3f}"
                if wv > m["bound"]:
                    flags.append("WORSE")
            line += f"  {m['bound']:.2f}  {' '.join(flags)}"
            flagged += bool(flags)
            print(line)
    return flagged


def main():
    if not 1 <= len(sys.argv) - 1 <= 2:
        raise SystemExit(__doc__)
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    sys.exit(1 if compare(sys.argv[1:], bench) else 0)


if __name__ == "__main__":
    main()
