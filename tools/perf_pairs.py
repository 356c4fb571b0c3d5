#!/usr/bin/env python3
"""Paired comparison of two sets of perfbench result files.

    python3 tools/perf_pairs.py --parent P [P ...] --change C [C ...]

Each P or C is a result file (`<workload>-seed<N>-trace0.json`) or a
directory of them. Runs of the two sets are paired by workload and seed;
a run without its partner is listed and left out.

For each workload and each end-to-end metric of BENCHMARK.json it prints
each side's median and quartiles, how many pairs the change won, the
parent's quartile distance (IQR) and a verdict: "within" or "OUTSIDE" its
relative bound, or "unresolved" when the parent's IQR over its median is
wider than the bound. Then the two medians of every op (`passes[].ops[]`,
each run's median over its passes, then the median over runs), each run's
`fail_ratio`, and the pairs in which either run saw more than 5 s of CPU
steal. Reads files only.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STEAL_S = 5.0


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def load(paths):
    runs = {}
    for p in map(Path, paths):
        files = sorted(p.glob("*-seed*-trace0.json")) if p.is_dir() else [p]
        for f in files:
            r = json.loads(f.read_text())
            runs[(r["workload"], r["seed"])] = r
    return runs


def op_medians(runs):
    per_op = {}
    for r in runs:
        secs = {}
        for p in r["passes"]:
            for o in p["ops"]:
                secs.setdefault(o["op"], []).append(o["secs"])
        for op, xs in secs.items():
            per_op.setdefault(op, []).append(statistics.median(xs))
    return {op: statistics.median(xs) for op, xs in per_op.items()}


def report(workload, pairs, spec):
    print(f"== {workload}: {len(pairs)} pairs, seeds "
          f"{', '.join(str(s) for s, _, _ in pairs)}")
    print(f"{'metric':<12} {'parent q1/med/q3':>28} {'change q1/med/q3':>28} "
          f"{'delta':>8} {'won':>6} {'p.IQR':>9}  verdict")
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        sign = 1 if m["better"] == "lower" else -1
        par = [p["metrics"][name]["value"] for _, p, _ in pairs]
        chg = [c["metrics"][name]["value"] for _, _, c in pairs]
        pq, cq = quartiles(par), quartiles(chg)
        won = sum(1 for a, b in zip(par, chg) if sign * (b - a) < 0)
        iqr = pq[2] - pq[0]
        worse = sign * (cq[1] - pq[1]) / pq[1]
        verdict = ("unresolved" if iqr / pq[1] > bound
                   else "within" if worse <= bound else "OUTSIDE")
        fmt = lambda q: "/".join(f"{x:.3f}" for x in q)
        print(f"{name:<12} {fmt(pq):>28} {fmt(cq):>28} {sign * worse:>+8.1%} "
              f"{won:>3}/{len(pairs):<2} {iqr:>9.3f}  {verdict} (bound {bound:.0%})")
    print("fail_ratio   parent " + " ".join(f"{p['metrics']['fail_ratio']['value']:g}" for _, p, _ in pairs)
          + " | change " + " ".join(f"{c['metrics']['fail_ratio']['value']:g}" for _, _, c in pairs))
    noisy = [(s, p.get("cpu_steal_s", 0.0), c.get("cpu_steal_s", 0.0)) for s, p, c in pairs
             if max(p.get("cpu_steal_s", 0.0), c.get("cpu_steal_s", 0.0)) > STEAL_S]
    for s, a, b in noisy:
        print(f"steal        seed {s}: parent {a:.1f} s, change {b:.1f} s (more than {STEAL_S:g} s)")
    po = op_medians([p for _, p, _ in pairs])
    co = op_medians([c for _, _, c in pairs])
    print(f"{'op':<24} {'parent s':>10} {'change s':>10} {'delta':>8}")
    for op in po:
        if op in co:
            print(f"{op:<24} {po[op]:>10.4f} {co[op]:>10.4f} {(co[op] - po[op]) / po[op]:>+8.1%}")
    print()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", nargs="+", required=True)
    ap.add_argument("--change", nargs="+", required=True)
    ap.add_argument("--benchmark", default=str(ROOT / "BENCHMARK.json"))
    args = ap.parse_args()
    spec = json.loads(Path(args.benchmark).read_text())
    par, chg = load(args.parent), load(args.change)
    for key in sorted(set(par) ^ set(chg)):
        print(f"unpaired: {key[0]} seed {key[1]} ({'parent' if key in par else 'change'} only)")
    keys = sorted(set(par) & set(chg))
    if not keys:
        sys.exit("perf_pairs: no pairs")
    for w in sorted({w for w, _ in keys}):
        report(w, [(s, par[(w, s)], chg[(w, s)]) for ww, s in keys if ww == w], spec)


if __name__ == "__main__":
    main()
