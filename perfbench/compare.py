#!/usr/bin/env python3
"""Compare two sets of benchmark results, or summarise one.

Usage, from the repository root:

    python3 perfbench/compare.py PARENT_RESULTS [CHANGE_RESULTS]

Each argument is a directory of run records as run.py leaves them in
perfbench/.work/results (one JSON file per run). Untraced runs give the
end-to-end rows: for each workload and metric, each side's median and
quartiles, the pairs the change won (runs paired by seed; ties count for
neither side), and a verdict against the bounds in BENCHMARK.json:

  regressed   the change's median is worse than the parent's by more than
              the bound
  unresolved  the parent's own spread (interquartile range over median) is
              wider than the bound, and not every change run beats every
              parent run
  unchanged   otherwise

A `gain` mark is added where the change won at least 9 in 10 pairs and the
medians differ by more than the parent's interquartile range. Traced runs
give the per-layer rows, rolled up by layer and by query family (the key's
prefix before its first underscore); every ratio is printed with its base.
With one directory, it prints each metric's median, quartiles and spread
against its bound instead.
"""
import glob
import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = []
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        if isinstance(r, dict) and "workload" in r and "env" in r:
            runs.append(r)
    if not runs:
        sys.exit(f"no run records in {d}")
    return runs


def label(r):
    """runs on different table sets are different workloads"""
    return f"{r['workload']}@{r['env']['data']}"


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def end_to_end(runs):
    """workload -> metric -> {seed: value}, from untraced runs"""
    out = defaultdict(lambda: defaultdict(dict))
    for r in runs:
        if not r["trace"]:
            for k, v in r["end_to_end"].items():
                if v["value"] is not None:
                    out[label(r)][k][r["seed"]] = v["value"]
    return out


def layers(runs):
    """workload -> per-layer metric -> mean over traced runs"""
    acc = defaultdict(lambda: defaultdict(list))
    for r in runs:
        if r["trace"]:
            for k, v in r["per_layer"].items():
                if v["value"] is not None:
                    acc[label(r)][k].append(v["value"])
    return {w: {k: statistics.mean(v) for k, v in m.items()} for w, m in acc.items()}


def families(runs):
    """workload -> family -> counter -> mean over traced runs of the family's
    per-pass total"""
    acc = defaultdict(lambda: defaultdict(lambda: defaultdict(list)))
    for r in runs:
        if not r["trace"]:
            continue
        tot = defaultdict(lambda: defaultdict(float))
        for key, counters in r["per_query"].items():
            for c, v in counters.items():
                tot[key.split("_")[0]][c] += v
        for fam, cs in tot.items():
            for c, v in cs.items():
                acc[label(r)][fam][c].append(v)
    return {w: {f: {c: statistics.mean(v) for c, v in cs.items()} for f, cs in fs.items()}
            for w, fs in acc.items()}


def envs(runs):
    return sorted({json.dumps(r["env"] | {"seed": None}, sort_keys=True) for r in runs})


def ratio(new, base):
    if base == 0:
        return f"ratio n/a (base 0, now {new:.6g})"
    return f"ratio {new / base:.3f} of base {base:.6g}"


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    bound = {m["name"]: m for m in spec["end_to_end"]}
    sides = [load(d) for d in sys.argv[1:]]
    for name, runs in zip(("parent", "change"), sides):
        for e in envs(runs):
            print(f"{name} env: {e}")
    if len(sides) == 2 and envs(sides[0]) != envs(sides[1]):
        print("WARNING: the two sets ran on different environments; "
              "their numbers are not comparable")

    e2e = [end_to_end(s) for s in sides]
    print("\n== end to end (untraced runs) ==")
    for w in sorted(e2e[0]):
        for m in sorted(e2e[0][w]):
            spec_m = bound.get(m)
            if spec_m is None:
                continue
            b, lower = spec_m["bound"], spec_m["better"] == "lower"
            pv = e2e[0][w][m]
            pq1, pmed, pq3 = quartiles(list(pv.values()))
            pspread = (pq3 - pq1) / pmed if pmed else 0.0
            head = (f"{w:23} {m:13} {spec_m['unit']:5} parent {pmed:.6g} "
                    f"[{pq1:.6g}, {pq3:.6g}] n={len(pv)}")
            if len(sides) == 1:
                flag = "steady" if pspread <= b / 3 else ("within bound" if pspread <= b else "UNSTEADY")
                print(f"{head} spread {pspread:.3f} bound {b} {flag}")
                continue
            cv = e2e[1].get(w, {}).get(m, {})
            if not cv:
                print(f"{head} change: no runs")
                continue
            cq1, cmed, cq3 = quartiles(list(cv.values()))
            better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
            pairs = [s for s in pv if s in cv]
            won = sum(better(cv[s], pv[s]) for s in pairs)
            worse = ((cmed - pmed) if lower else (pmed - cmed)) / pmed if pmed else 0.0
            all_better = all(better(c, p) for c in cv.values() for p in pv.values())
            if worse > b:
                verdict = "regressed"
            elif pspread > b and not all_better:
                verdict = "unresolved"
            else:
                verdict = "unchanged"
            gain = (pairs and won >= 0.9 * len(pairs) and abs(cmed - pmed) > pq3 - pq1)
            print(f"{head} | change {cmed:.6g} [{cq1:.6g}, {cq3:.6g}] n={len(cv)} "
                  f"| won {won}/{len(pairs)} | {verdict}{' gain' if gain else ''}")

    lay = [layers(s) for s in sides]
    fam = [families(s) for s in sides]
    print("\n== per layer (traced runs, per timed pass) ==")
    for w in sorted(lay[0]):
        by_layer = defaultdict(list)
        for k in lay[0][w]:
            by_layer[k.split(".")[0]].append(k)
        for layer in sorted(by_layer):
            print(f"{w} / {layer}")
            for k in sorted(by_layer[layer]):
                base = lay[0][w][k]
                if len(sides) == 1:
                    print(f"    {k:32} {base:.6g}")
                else:
                    new = lay[1].get(w, {}).get(k)
                    print(f"    {k:32} parent {base:.6g}  change "
                          + ("n/a" if new is None else f"{new:.6g}  {ratio(new, base)}"))
    print("\n== per query family (traced runs, per timed pass) ==")
    for w in sorted(fam[0]):
        for f in sorted(fam[0][w]):
            print(f"{w} / {f}")
            for c in sorted(fam[0][w][f]):
                base = fam[0][w][f][c]
                if len(sides) == 1:
                    print(f"    {c:32} {base:.6g}")
                else:
                    new = fam[1].get(w, {}).get(f, {}).get(c)
                    print(f"    {c:32} parent {base:.6g}  change "
                          + ("n/a" if new is None else f"{new:.6g}  {ratio(new, base)}"))


if __name__ == "__main__":
    main()
