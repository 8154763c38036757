#!/usr/bin/env python3
"""Steadiness evidence for the benchmark.

Run a set (N seeds per workload, untraced, plus one traced run each):

    python3 perfbench/steadiness.py run --set A --runs 10 --first-seed 100

writes perfbench/results/set-A.json: per workload and end-to-end metric the
ten values, median, quartiles (statistics.quantiles(values, n=4)) and the
spread (q3 - q1) / median, plus the traced run's copy of each end-to-end
metric and its tracing overhead against the untraced median.

Compare two sets against the bounds in BENCHMARK.json:

    python3 perfbench/steadiness.py compare A B

prints every spread and median shift and exits non-zero if a spread or the
size of a median shift, in either direction, exceeds its metric's bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
RESULTS = os.path.join(HERE, "results")


def run_once(workload, seed, trace):
    cmd = BENCH["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(BENCH["run_seconds"]),
                              "--trace", str(trace)]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    wall = time.time() - t0
    if r.returncode != 0:
        sys.stderr.write(r.stderr.decode(errors="replace")[-2000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {r.returncode}")
    res = json.loads(r.stdout.decode().strip().splitlines()[-1])
    return res, wall


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None}


def cmd_run(a):
    os.makedirs(RESULTS, exist_ok=True)
    path = os.path.join(RESULTS, f"set-{a.set}.json")
    out = {"set": a.set, "runs": a.runs, "first_seed": a.first_seed,
           "run_seconds": BENCH["run_seconds"], "workloads": {}}
    for w in [x["name"] for x in BENCH["workloads"]]:
        vals = {m["name"]: [] for m in BENCH["end_to_end"]}
        walls, checks = [], []
        for i in range(a.runs):
            res, wall = run_once(w, a.first_seed + i, 0)
            walls.append(round(wall, 1))
            checks.append([res["correct"], res["attempted"], res["failed"]])
            for m in vals:
                vals[m].append(res["metrics"][m]["value"])
            print(f"{w} seed {a.first_seed + i}: {wall:.0f}s correct={res['correct']}",
                  file=sys.stderr)
        entry = {"wall_s": walls, "correct_attempted_failed": checks,
                 "metrics": {m: summary(v) for m, v in vals.items()}}
        res, wall = run_once(w, a.first_seed, 1)
        entry["traced_wall_s"] = round(wall, 1)
        entry["traced_correct"] = res["correct"]
        entry["tracing_overhead"] = {
            m: {"traced": res["metrics"][f"trace.{m}"]["value"],
                "untraced_median": entry["metrics"][m]["median"],
                "overhead": res["metrics"][f"trace.{m}"]["value"]
                / entry["metrics"][m]["median"] - 1}
            for m in vals}
        out["workloads"][w] = entry
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(path)


def cmd_compare(a):
    sets = [json.load(open(os.path.join(RESULTS, f"set-{s}.json"))) for s in (a.a, a.b)]
    bad = 0
    for w in sets[0]["workloads"]:
        for m in BENCH["end_to_end"]:
            n, bound = m["name"], m["bound"]
            s1, s2 = (s["workloads"][w]["metrics"][n] for s in sets)
            worse = (s2["median"] - s1["median"]) / s1["median"]
            if m["better"] == "higher":
                worse = -worse
            ok = max(s1["spread"], s2["spread"]) <= bound and abs(worse) <= bound
            bad += not ok
            print(f"{w:14s} {n:22s} spread {s1['spread']:.3f}/{s2['spread']:.3f} "
                  f"shift {worse:+.3f} bound {bound} {'ok' if ok else 'FAIL'}")
    sys.exit(1 if bad else 0)


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--set", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1)
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    a = ap.parse_args()
    cmd_run(a) if a.cmd == "run" else cmd_compare(a)


if __name__ == "__main__":
    main()
