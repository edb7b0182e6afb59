#!/usr/bin/env python3
"""Compare two sets of benchmark runs (parent vs change).

    python3 perfbench/compare.py PARENT_RECORDS_DIR CHANGE_RECORDS_DIR

Each dir holds run records written by run.py (.bench_build/records/).
Untraced records are compared on the end-to-end metrics. Runs pair up by
(workload, seed); run the two sides alternately so no side always goes
first. Per (workload, metric) the comparator reports each side's median
and quartiles, the share of pairs the change wins (ties count for
neither), and a verdict against the bound in BENCHMARK.json:

  worse       change median worse than parent median by more than the bound
  unresolved  parent's quartile spread exceeds the bound, unless every
              change run beats every parent run (then: better)
  better      change wins >= 9/10 of pairs and the medians differ by more
              than the parent's quartile spread
  same        otherwise

It prints one row per workload and lists runs whose CPU or memory-bandwidth
probe read over 1.5x the median probe of all runs (contended box). Exits 1
when any metric is worse.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PROBES = ("cpu_before_s", "cpu_after_s", "bw_before_s", "bw_after_s")


def load(d):
    runs = [json.loads(p.read_text()) for p in sorted(Path(d).glob("*.json"))]
    return [r for r in runs if r["trace"] == 0]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, pairs, bound, higher_better):
    sign = 1 if higher_better else -1
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    wins = sum(1 for a, b in pairs if sign * (b - a) > 0)
    worse_by = sign * (pm - cm) / pm
    all_better = (min(change) > max(parent) if higher_better
                  else max(change) < min(parent))
    if (p3 - p1) / pm > bound:
        v = "better" if all_better else "unresolved"
    elif worse_by > bound:
        v = "worse"
    elif pairs and wins >= 0.9 * len(pairs) and abs(cm - pm) > p3 - p1:
        v = "better"
    else:
        v = "same"
    return v, (p1, pm, p3), (c1, cm, c3), wins


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    all_runs = parent + change
    medians = {p: statistics.median(r["probes"][p] for r in all_runs)
               for p in PROBES} if all_runs else {}
    any_worse = False
    for w in (w["name"] for w in bench["workloads"]):
        ps = {r["seed"]: r for r in parent if r["workload"] == w}
        cs = {r["seed"]: r for r in change if r["workload"] == w}
        if not ps or not cs:
            print(f"{w:14} no runs on {'both sides' if not ps and not cs else 'one side'}")
            continue
        cells = []
        for m in bench["end_to_end"]:
            name = m["name"]
            pv = [r["metrics"][name] for r in ps.values()]
            cv = [r["metrics"][name] for r in cs.values()]
            pairs = [(ps[s]["metrics"][name], cs[s]["metrics"][name])
                     for s in sorted(ps.keys() & cs.keys())]
            v, (p1, pm, p3), (c1, cm, c3), wins = verdict(
                pv, cv, pairs, m["bound"], m["better"] == "higher")
            any_worse |= v == "worse"
            cells.append(f"{name}={v} {pm:.4g}[{p1:.4g},{p3:.4g}]"
                         f"->{cm:.4g}[{c1:.4g},{c3:.4g}] win {wins}/{len(pairs)}")
        print(f"{w:14} " + " | ".join(cells))
    for side, runs in (("parent", parent), ("change", change)):
        for r in runs:
            hot = [p for p in PROBES if r["probes"][p] > 1.5 * medians[p]]
            if hot:
                print(f"contended: {side} {r['workload']} seed {r['seed']} "
                      f"({', '.join(hot)})")
    sys.exit(1 if any_worse else 0)


if __name__ == "__main__":
    main()
