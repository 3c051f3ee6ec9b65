#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or report the spread of one.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR
    python3 perfbench/compare.py BASE_DIR

A run is a file holding the standard output of ``run.py``; its name starts
with the workload name followed by ``-`` (``query_board-7.out``). Runs of
one workload pair up in name order, so name them in the order they were run
and alternate which side runs first.

For each workload and end-to-end metric of ``BENCHMARK.json`` the two-set
form prints each side's median and quartiles, the share of pairs the change
won (ties count for neither side), and a verdict:

* ``better``: the change won at least 9 of 10 pairs and its median differs
  from the base's by more than the base's own quartile spread;
* ``worse``: the change's median is worse than the base's by more than the
  metric's bound;
* ``unresolved``: either side's quartile spread exceeds the bound, unless
  every change run reads better (``better``) or worse (``worse``) than
  every base run;
* ``within bound`` otherwise.

The one-set form prints each metric's quartile spread as a share of its
median against its bound, and the share of failed operations per workload.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(dirpath, workloads):
    runs = {}
    for name in sorted(os.listdir(dirpath)):
        w = next((w for w in workloads if name.startswith(w + "-")), None)
        if w is None:
            continue
        lines = [ln for ln in open(os.path.join(dirpath, name)).read().splitlines() if ln.strip()]
        if not lines:
            continue
        try:
            runs.setdefault(w, []).append(json.loads(lines[-1]))
        except json.JSONDecodeError:
            print(f"skipping {name}: last line is not a result", file=sys.stderr)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base, change, bound, lower_better):
    sign = 1 if lower_better else -1
    bq1, bmed, bq3 = quartiles(base)
    cq1, cmed, cq3 = quartiles(change)
    pairs = list(zip(base, change))
    wins = sum(1 for b, c in pairs if sign * (b - c) > 0)
    share = wins / len(pairs) if pairs else 0.0
    worse_by = sign * (cmed - bmed) / bmed
    if all(sign * (b - c) > 0 for b in base for c in change):
        v = "better"
    elif all(sign * (c - b) > 0 for b in base for c in change):
        v = "worse"
    elif (bq3 - bq1) / bmed > bound or (cq3 - cq1) / cmed > bound:
        v = "unresolved"
    elif share >= 0.9 and abs(cmed - bmed) > (bq3 - bq1):
        v = "better"
    elif worse_by > bound:
        v = "worse"
    else:
        v = "within bound"
    return (bq1, bmed, bq3), (cq1, cmed, cq3), share, v


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    workloads = [w["name"] for w in spec["workloads"]]
    base = load(sys.argv[1], workloads)
    change = load(sys.argv[2], workloads) if len(sys.argv) == 3 else None
    fmt = "{:.4g}"
    for w in workloads:
        if w not in base:
            continue
        b = base[w]
        print(f"{w}: {len(b)} base runs" + (f", {len(change.get(w, []))} change runs" if change else ""))
        shares = sorted({r["failed"] / r["attempted"] for r in b})
        print(f"  failed share of attempted (base): {shares}")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            bv = [r["metrics"][name]["value"] for r in b if name in r["metrics"]]
            if not bv:
                continue
            if change is None:
                q1, med, q3 = quartiles(bv)
                spread = (q3 - q1) / med
                flag = "ok" if spread < bound / 3 else ("within bound" if spread <= bound else "WIDE")
                print(f"  {name:14s} median {fmt.format(med)} {m['unit']}  "
                      f"[{fmt.format(q1)}, {fmt.format(q3)}]  spread {spread:.3f} "
                      f"(bound {bound}) {flag}")
                continue
            cv = [r["metrics"][name]["value"] for r in change.get(w, []) if name in r["metrics"]]
            if not cv:
                continue
            (bq1, bm, bq3), (cq1, cm, cq3), share, v = verdict(bv, cv, bound, m["better"] == "lower")
            print(f"  {name:14s} base {fmt.format(bm)} [{fmt.format(bq1)}, {fmt.format(bq3)}]  "
                  f"change {fmt.format(cm)} [{fmt.format(cq1)}, {fmt.format(cq3)}] {m['unit']}  "
                  f"pairs won {share:.2f}  {v}")


if __name__ == "__main__":
    main()
