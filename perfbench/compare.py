#!/usr/bin/env python3
"""Compare two sets of benchmark result files, A (base) and B (change).

Usage: python3 perfbench/compare.py A_DIR_OR_FILES... -- B_DIR_OR_FILES...

Each side is a list of result files or directories of them (the JSON
files `run.py` writes under `.bench_build/results/<workload>/`). For every
(end-to-end metric, workload) pair it prints each side's median and
quartiles, the relative change of the median, B's pair win share, and a
verdict:

  better      B wins at least nine tenths of the pairs (ties count for
              neither) and the medians differ by more than A's own
              quartile spread;
  worse       B's median is worse than A's by more than the metric's
              bound in BENCHMARK.json;
  no worse    neither, and both sides' spreads are within the bound;
  unresolved  neither, and a side's spread is wider than the bound
              (unless every B run beats every A run, which is "better").

Runs are paired by seed when both sides ran the same seeds, otherwise
in file order. Latency percentiles per operation kind are pooled over
all runs of a side and printed with their sample counts; a percentile
is marked invalid when fewer than ten samples lie beyond it.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(paths):
    files = []
    for p in paths:
        if os.path.isdir(p):
            files += sorted(glob.glob(os.path.join(p, "**", "*.json"),
                                      recursive=True))
        else:
            files.append(p)
    runs = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if r.get("env", {}).get("trace") == 0:
            runs.append(r)
    return runs


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def verdict(a, b, better, bound):
    sign = 1.0 if better == "higher" else -1.0
    qa, qb = quartiles(a), quartiles(b)
    med_a, med_b = qa[1], qb[1]
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    share = wins / len(pairs) if pairs else 0.0
    spread_a = qa[2] - qa[0]
    all_better = all(sign * (y - x) > 0 for x in a for y in b)
    if all_better or (share >= 0.9 and sign * (med_b - med_a) > spread_a):
        v = "better"
    elif sign * (med_b - med_a) < -bound * abs(med_a):
        v = "worse"
    elif max(spread_a / abs(med_a), (qb[2] - qb[0]) / abs(med_b)) > bound:
        v = "unresolved"
    else:
        v = "no worse"
    return qa, qb, share, v


def paired(a_runs, b_runs):
    sa = {r["env"]["seed"]: r for r in a_runs}
    sb = {r["env"]["seed"]: r for r in b_runs}
    common = sorted(set(sa) & set(sb))
    if len(common) == len(a_runs) == len(b_runs):
        return [sa[s] for s in common], [sb[s] for s in common]
    n = min(len(a_runs), len(b_runs))
    return a_runs[:n], b_runs[:n]


def pooled(runs, q):
    out = {}
    for r in runs:
        for s in r["samples"]:
            out.setdefault(s[1], []).append(s[3])
    rows = []
    for kind, v in sorted(out.items()):
        v.sort()
        idx = min(len(v) - 1, int(q * (len(v) - 1) + 0.5))
        beyond = len(v) - 1 - idx
        rows.append((kind, v[idx], len(v), beyond >= 10))
    return rows


def main(argv):
    if "--" not in argv:
        print(__doc__)
        return 2
    i = argv.index("--")
    a_all, b_all = load(argv[:i]), load(argv[i + 1:])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = sorted({r["env"]["workload"] for r in a_all + b_all})
    print(f"{'workload':<14} {'metric':<16} {'A q1/med/q3':>30} "
          f"{'B q1/med/q3':>30} {'med B/A-1':>9} {'B wins':>6}  verdict")
    for w in workloads:
        a, b = paired([r for r in a_all if r["env"]["workload"] == w],
                      [r for r in b_all if r["env"]["workload"] == w])
        if not a or not b:
            print(f"{w:<14} (missing runs on one side)")
            continue
        for m in spec["end_to_end"]:
            va = [r["metrics"][m["name"]] for r in a]
            vb = [r["metrics"][m["name"]] for r in b]
            qa, qb, share, v = verdict(va, vb, m["better"], m["bound"])
            fa = "/".join(f"{x:.4g}" for x in qa)
            fb = "/".join(f"{x:.4g}" for x in qb)
            print(f"{w:<14} {m['name']:<16} {fa:>30} {fb:>30} "
                  f"{qb[1] / qa[1] - 1:+9.3f} {share:6.0%}  {v}")
        for side, runs in (("A", a), ("B", b)):
            for q in (0.5, 0.9):
                for kind, val, n, ok in pooled(runs, q):
                    print(f"{w:<14} {side} pooled {kind} p{int(q * 100)} "
                          f"= {val:.1f} ms (n={n}"
                          f"{'' if ok else ', invalid: <10 beyond'})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
