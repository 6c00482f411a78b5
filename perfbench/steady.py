#!/usr/bin/env python3
"""Steadiness check: run the workloads on several seeds and print, per
end-to-end metric, the median and the spread (distance between first and
third quartile over the median) next to the metric's bound.

    python3 perfbench/steady.py --seeds 10 --repeats 4 [--workloads a,b] [--out f.json]

Runs are sequential, one fresh JVM each, at BENCHMARK.json's run_seconds.
They are interleaved: each seed runs every workload before the next seed
starts, so a slow stretch of the host hits all workloads alike rather than
one. The first seed is run `--repeats` more times, spread evenly through
the sweep. Its spread ("same seed") holds the inputs fixed, so it shows
how much of the spread across seeds comes from the host rather than from
the inputs.
"""

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402


def cpu_times():
    """Machine-wide CPU jiffies from /proc/stat: (total, steal). Steal is
    time the hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as f:
        xs = [int(x) for x in f.readline().split()[1:]]
    return sum(xs[:8]), xs[7]


def run_once(bench, workload, seed):
    c0 = cpu_times()
    t0 = time.time()
    r = subprocess.run(bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    c1 = cpu_times()
    steal = (c1[1] - c0[1]) / max(1, c1[0] - c0[0])
    print(f"{workload} seed {seed}: exit {r.returncode}, {wall:.0f} s, "
          f"steal {100 * steal:.1f}%", file=sys.stderr, flush=True)
    if r.returncode != 0:
        return None
    res = json.loads(r.stdout.strip().splitlines()[-1])
    return {"seed": seed, "wall_s": wall, "steal": steal,
            "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def schedule(seeds, repeats):
    """(seed, is_repeat) in run order: every seed once, and the first seed
    `repeats` more times, evenly spaced."""
    after = {round((j + 1) * len(seeds) / repeats) - 1 for j in range(repeats)} \
        if repeats else set()
    out = []
    for i, s in enumerate(seeds):
        out.append((s, False))
        if i in after:
            out.append((seeds[0], True))
    return out


def summary(runs, bounds):
    out = {}
    for k in bounds:
        xs = [r["metrics"][k] for r in runs]
        out[k] = {"median": stats.median(xs),
                  "spread": stats.spread(xs) if len(xs) > 1 else 0.0}
    return out


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--repeats", type=int, default=4)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = a.workloads.split(",")
    seeds = list(range(a.first_seed, a.first_seed + a.seeds))
    runs = {w: {"seeds": [], "same_seed": [], "failed": []} for w in workloads}
    for seed, repeat in schedule(seeds, a.repeats):
        for w in workloads:
            r = run_once(bench, w, seed)
            if r is None:
                runs[w]["failed"].append(seed)
                continue
            if not repeat:
                runs[w]["seeds"].append(r)
            if seed == seeds[0]:
                runs[w]["same_seed"].append(r)
    report = {}
    for w in workloads:
        d = runs[w]
        across = summary(d["seeds"], bounds)
        same = summary(d["same_seed"], bounds)
        report[w] = {"runs": d, "across_seeds": across, "same_seed": same}
        print(f"\n{w}: {len(d['seeds'])} seeds ok, {len(d['same_seed'])} runs of seed "
              f"{seeds[0]}, failed: {d['failed'] or 'none'}")
        print(f"  {'metric':14s} {'median':>12s} {'spread':>7s} {'same seed':>9s} {'bound':>6s}")
        for k in bounds:
            sp = across[k]["spread"]
            flag = "" if sp < bounds[k] / 3 else \
                ("  <-- over bound/3" if sp <= bounds[k] else "  <-- OVER BOUND")
            print(f"  {k:14s} {across[k]['median']:12.4f} {sp:7.3f} "
                  f"{same[k]['spread']:9.3f} {bounds[k]:6.3f}{flag}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
