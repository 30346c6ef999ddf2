#!/usr/bin/env python3
"""Paired comparison of two builds on the benchmark.

Collect pairs: runs `perfbench/run.py` in two checkouts (parent and
change) on the same seeds, alternating which side runs first, for the
`run_seconds` of BENCHMARK.json, and keeps each side's result files:

    python3 perfbench/compare.py run PARENT_CHECKOUT CHANGE_CHECKOUT OUT_DIR \
        --workload dashboard --pairs 10

Report: reads the two result directories (files named
`<workload>-seed<N>-trace0.json`, as `run.py` writes to `.bench_out/`)
and prints one row per workload and end-to-end metric:

    python3 perfbench/compare.py report PARENT_DIR CHANGE_DIR

Verdicts, with pairs matched by seed:
  failed      a change run is not correct or has more failed ops than
              the parent run of its pair: no metric of the workload
              counts as a gain
  better      >= 10 pairs, the change wins >= 9/10 of them (ties count for
              neither side) and the medians differ by more than the
              parent's inter-quartile spread
  worse       the change's median is worse than the parent's by more
              than the metric's bound
  unresolved  the parent's own spread exceeds the bound, unless every
              change run beats every parent run
  same        none of the above
"""
import argparse
import glob
import json
import os
import re
import shutil
import statistics
import subprocess
import sys

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "BENCHMARK.json")
FIRST_SEED = 1000  # pairs use seeds FIRST_SEED, FIRST_SEED + 1, ...


def load(d):
    """{(workload, seed): result} from a result directory."""
    out = {}
    for f in glob.glob(os.path.join(d, "*-trace0.json")):
        m = re.match(r"(.+)-seed(\d+)-trace0\.json$", os.path.basename(f))
        if not m:
            continue
        with open(f) as fh:
            out[(m.group(1), int(m.group(2)))] = json.load(fh)
    return out


def value(r, name):
    return r["metrics"][name]["value"]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(p, c, better, bound):
    sign = 1 if better == "higher" else -1
    n = len(p)
    wins = sum(1 for a, b in zip(p, c) if sign * (b - a) > 0)
    mp, mc = statistics.median(p), statistics.median(c)
    q1, q3 = quartiles(p)
    spread = q3 - q1
    all_better = (min(c) > max(p)) if sign > 0 else (max(c) < min(p))
    if n >= 10 and wins >= 0.9 * n and sign * (mc - mp) > spread:
        v = "better"
    elif sign * (mp - mc) > bound * abs(mp):
        v = "worse"
    elif spread > bound * abs(mp) and not all_better:
        v = "unresolved"
    else:
        v = "same"
    return wins, mp, mc, (q1, q3), quartiles(c), v


def report(parent_dir, change_dir):
    with open(BENCH) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    p, c = load(parent_dir), load(change_dir)
    keys = sorted(set(p) & set(c))
    workloads = sorted({w for w, _ in keys})
    print(f"{'workload':14} {'metric':16} {'n':>3} {'parent median [q1, q3]':>34} "
          f"{'change median [q1, q3]':>34} {'wins':>6}  verdict")
    for w in workloads:
        seeds = [s for ww, s in keys if ww == w]
        failed = any(not c[(w, s)]["correct"] or c[(w, s)]["failed"] > p[(w, s)]["failed"]
                     for s in seeds)
        for name, m in spec.items():
            pv = [value(p[(w, s)], name) for s in seeds]
            cv = [value(c[(w, s)], name) for s in seeds]
            wins, mp, mc, pq, cq, v = verdict(pv, cv, m["better"], m["bound"])
            if failed:
                v = "failed"
            print(f"{w:14} {name:16} {len(seeds):3d} "
                  f"{mp:12.4g} [{pq[0]:9.4g}, {pq[1]:9.4g}] "
                  f"{mc:12.4g} [{cq[0]:9.4g}, {cq[1]:9.4g}] {wins:3d}/{len(seeds):<2d}  {v}")


def collect(parent, change, out, workload, pairs):
    """Alternate sides: even pairs run the parent first, odd the change."""
    with open(BENCH) as f:
        seconds = json.load(f)["run_seconds"]
    for side in ("parent", "change"):
        os.makedirs(os.path.join(out, side), exist_ok=True)
    for i in range(pairs):
        seed = FIRST_SEED + i
        order = [("parent", parent), ("change", change)]
        for side, tree in (order if i % 2 == 0 else order[::-1]):
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                                "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                               cwd=tree)
            if r.returncode != 0:
                raise SystemExit(f"{side} run failed (seed {seed})")
            name = f"{workload}-seed{seed}-trace0.json"
            shutil.copy(os.path.join(tree, ".bench_out", name), os.path.join(out, side, name))


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("parent")
    r.add_argument("change")
    r.add_argument("out")
    r.add_argument("--workload", required=True)
    r.add_argument("--pairs", type=int, default=10)
    rep = sub.add_parser("report")
    rep.add_argument("parent_dir")
    rep.add_argument("change_dir")
    a = ap.parse_args()
    if a.cmd == "run":
        collect(a.parent, a.change, a.out, a.workload, a.pairs)
        report(os.path.join(a.out, "parent"), os.path.join(a.out, "change"))
    else:
        report(a.parent_dir, a.change_dir)


if __name__ == "__main__":
    main()
