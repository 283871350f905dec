#!/usr/bin/env python3
"""Run-to-run spread and median comparison of the end-to-end metrics.

Run from the repository root:

    python3 perfbench/spread.py --seeds 1-10 --out perfbench/results/spread.json
    python3 perfbench/spread.py --seeds 11-20 --compare perfbench/results/spread.json

Runs `perfbench/run.py` once per workload and seed (untraced), then reports
for each end-to-end metric of BENCHMARK.json its median, its first and third
quartile (Python's `statistics.quantiles(values, n=4)`), the interquartile
distance as a share of the median, and whether that spread stays within the
metric's bound and within a third of it. The benchmark contract exempts
setup_s from the spread rule, so its spread is shown but does not fail the
check. With --compare, it also checks that no median, setup_s included, is
worse than the earlier set's by more than the bound. Exits 1 when a check
fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def quartiles(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q3 = quartiles(values)
    return (q3 - q1) / abs(statistics.median(values))


def worse_than(base, cand, bound, better):
    """True when cand is worse than base by more than bound (a share of base)."""
    if better == "lower":
        return cand > base * (1 + bound)
    return cand < base * (1 - bound)


def summarize(values, metric):
    med = statistics.median(values)
    q1, q3 = quartiles(values)
    sp = spread(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": sp, "bound": metric["bound"],
            "within_bound": sp <= metric["bound"],
            "within_third": sp <= metric["bound"] / 3,
            "spread_gated": metric["name"] != "setup_s", "values": values}


def parse_seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    ap.add_argument("--compare", default="")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    runs = {w: [] for w in workloads}
    for seed in parse_seeds(args.seeds):
        for w in workloads:
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.stderr.write(p.stderr[-3000:])
                sys.exit("run failed: %s seed %d (exit %d)" % (w, seed, p.returncode))
            result = json.loads(lines[-1])
            print("%s seed %d: correct=%s %s" % (w, seed, result["correct"], " ".join(
                "%s=%.4f" % (k, v["value"]) for k, v in result["metrics"].items())), flush=True)
            runs[w].append(result)
    report, ok = {}, True
    previous = {}
    if args.compare:
        with open(args.compare) as f:
            previous = json.load(f)
    for w in workloads:
        report[w] = {"correct": all(r["correct"] for r in runs[w])}
        ok &= report[w]["correct"]
        for m in bench["end_to_end"]:
            s = summarize([r["metrics"][m["name"]]["value"] for r in runs[w]], m)
            if w in previous:
                base = previous[w][m["name"]]["median"]
                s["worse_than_previous"] = worse_than(base, s["median"], m["bound"], m["better"])
                ok &= not s["worse_than_previous"]
            ok &= s["within_bound"] or not s["spread_gated"]
            report[w][m["name"]] = s
            print("%-14s %-18s median %12.4f  spread %.4f  bound %.2f  %s%s%s%s" % (
                w, m["name"], s["median"], s["spread"], m["bound"],
                "ok" if s["within_bound"] else "SPREAD OVER BOUND",
                "" if s["within_third"] else " (over a third of the bound)",
                "" if s["spread_gated"] else " (spread not gated)",
                " MEDIAN WORSE THAN PREVIOUS" if s.get("worse_than_previous") else ""))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
