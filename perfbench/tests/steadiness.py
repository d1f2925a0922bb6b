"""Steadiness check: do two sets of runs of the same commit agree?

    python3 perfbench/tests/steadiness.py [--workload NAME ...]

Run from the root of a checkout. For each workload of BENCHMARK.json (or
each --workload given) it makes two sets of ten untraced runs at
run_seconds, each run with its own seed (seeds 101-110, then 111-120),
and reports for every end-to-end metric: each set's median and
quartiles, the spread (distance between the quartiles as a share of the
median, from statistics.quantiles(n=4)), and whether

  * every set's spread stays within the metric's bound,
  * every later set's median is no worse than the first's by more than
    the bound.

It also flags spreads above a third of the bound, the margin a steady
benchmark keeps. Exits 1 if any check fails or any run is wrong.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT_FILE = "BENCHMARK.json"
SETS = 2
RUNS = 10
FIRST_SEED = 101


def run(cmd, workload, seed, seconds):
    p = subprocess.run(cmd + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                              "--trace", "0"], stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    try:
        res = json.loads(last)
    except json.JSONDecodeError:
        res = {}
    if p.returncode != 0 or not res.get("correct"):
        return None
    return {k: v["value"] for k, v in res["metrics"].items()}


def spread(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    if not os.path.exists(ROOT_FILE):
        sys.exit(f"{ROOT_FILE} not found: run from the root of a checkout")
    bench = json.load(open(ROOT_FILE))
    seconds = bench["run_seconds"]
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    ok = True
    for w in workloads:
        sets = []
        for k in range(SETS):
            rows = []
            for r in range(RUNS):
                seed = FIRST_SEED + k * RUNS + r
                m = run(bench["command"], w, seed, seconds)
                if m is None:
                    print(f"{w} seed {seed}: run failed or output wrong")
                    ok = False
                    continue
                rows.append(m)
                print(f"{w} set {k} seed {seed}: " +
                      " ".join(f"{n}={m[n]:.4g}" for n in (x["name"] for x in metrics)), flush=True)
            sets.append(rows)
        print(f"\n{w}: metric, then per set median [q1, q3] spread; verdict")
        for met in metrics:
            name, bound, lower = met["name"], met["bound"], met["better"] == "lower"
            stats = [spread([r[name] for r in rows]) for rows in sets if len(rows) >= 2]
            if len(stats) < SETS:
                ok = False
                continue
            cells = [f"{s[1]:.4g} [{s[0]:.4g}, {s[2]:.4g}] {s[3]:.3f}" for s in stats]
            verdict = []
            if any(s[3] > bound for s in stats):
                verdict.append("SPREAD>BOUND")
                ok = False
            elif any(s[3] > bound / 3 for s in stats):
                verdict.append("spread>bound/3")
            base = stats[0][1]
            for s in stats[1:]:
                worse = (s[1] - base) / base if lower else (base - s[1]) / base
                if worse > bound:
                    verdict.append(f"MEDIAN_WORSE({worse:.3f})")
                    ok = False
            print(f"  {name:<14} bound {bound:<5} " + " | ".join(cells) + "  " +
                  (" ".join(verdict) or "agree"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
