#!/usr/bin/env python3
"""Compares two sets of benchmark runs, for example the parent commit and a
change, from the result files perfbench/run.py saves (one JSON per run, in
<build dir>/perfbench/results of each checkout).

    python3 perfbench/compare.py BASE_RESULTS_DIR CHANGE_RESULTS_DIR

Runs are paired by workload and seed; run both sides with the same seeds,
alternating which side runs first. Per workload and end-to-end metric it
prints each side's median and quartiles, the share of pairs the change wins
(ties count for neither side), and whether the change's median stays within
the bound BENCHMARK.json fixes. A metric whose base spread (quartile
distance over median) exceeds its bound is reported as unresolved unless
every change run beats every base run. It refuses a workload's runs when
they differ in cores, data scale, JVM settings, run length or session
config.
Exit status: 0 when every metric is within its bound, 1 otherwise, 2 when
the sets are not comparable.
"""
import glob
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = {}
    for f in glob.glob(os.path.join(d, "*.json")):
        if f.endswith(".spans.json"):
            continue
        with open(f) as fh:
            r = json.load(fh)
        if not r.get("trace"):
            runs.setdefault((r["workload"], r["seed"]), []).append(r)
    return runs


def setting(r):
    """What must match for two runs to be comparable."""
    c = r["context"]
    return {
        "cores": c["cores"],
        "sf": c.get("sf"),
        "heap": c.get("heap"),
        "jvm": c.get("jvm"),
        "seconds": r["seconds"],
        "session_confs": c["session_confs"],
        "periodic_gc": c.get("hygiene", {}).get("spark.cleaner.periodicGC.interval"),
    }


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    base, change = load(argv[1]), load(argv[2])
    if not base or not change:
        sys.exit("compare: no untraced result files in one of the directories")
    if set(base) != set(change):
        print("compare: refused, the two sets ran different (workload, seed) pairs:\n"
              f"  only base: {sorted(set(base) - set(change))}\n"
              f"  only change: {sorted(set(change) - set(base))}")
        return 2
    for w in sorted({k[0] for k in base}):
        ref = setting(next(r for (ww, _), rs in base.items() if ww == w for r in rs))
        for side in (base, change):
            for key, rs in side.items():
                for r in rs:
                    s = setting(r)
                    if key[0] == w and s != ref:
                        diff = sorted(k for k in s if s[k] != ref[k])
                        print(f"compare: refused, run {key} differs in {diff}")
                        return 2
    worst = 0
    for w in sorted({k[0] for k in base}):
        seeds = sorted(s for (ww, s) in base if ww == w)
        print(f"{w}: {len(seeds)} pairs (seeds {seeds})")
        print(f"  {'metric':<14}{'base median [q1, q3]':>30}{'change median [q1, q3]':>30}"
              f"{'change wins':>13}  verdict")
        for m in spec["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            b = [r["end_to_end"][name] for s in seeds for r in base[(w, s)]]
            c = [r["end_to_end"][name] for s in seeds for r in change[(w, s)]]
            pairs = [(statistics.median(r["end_to_end"][name] for r in base[(w, s)]),
                      statistics.median(r["end_to_end"][name] for r in change[(w, s)]))
                     for s in seeds]
            wins = sum((cv < bv) if lower else (cv > bv) for bv, cv in pairs)
            bm, cm = statistics.median(b), statistics.median(c)
            bq, cq = quartiles(b), quartiles(c)
            worse = (cm - bm) / bm if lower else (bm - cm) / bm
            spread = (bq[1] - bq[0]) / bm
            all_better = (max(c) < min(b)) if lower else (min(c) > max(b))
            if spread > bound and not all_better:
                verdict = f"unresolved (base spread {spread:.3f} > bound {bound})"
            elif worse > bound:
                verdict, worst = f"REGRESSION ({worse:+.1%} > bound {bound:.0%})", 1
            else:
                verdict = f"within bound ({worse:+.1%} worse, bound {bound:.0%})"
            print(f"  {name:<14}{bm:>12.4g} [{bq[0]:.4g}, {bq[1]:.4g}]"
                  f"{cm:>12.4g} [{cq[0]:.4g}, {cq[1]:.4g}]{wins:>7}/{len(pairs):<5}  {verdict}")
    return worst


if __name__ == "__main__":
    sys.exit(main(sys.argv))
