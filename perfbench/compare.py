#!/usr/bin/env python3
"""Compares two result sets of the benchmark (benchdiff).

    python3 perfbench/compare.py BASE.json CHANGE.json [--traced-base B.json --traced-change C.json]

Each file is written by steady.py. For every workload and end-to-end
metric it prints both sides' medians and quartiles and a verdict:

  improved   the change wins at least 9 in 10 pairs (runs paired by seed,
             ties count for neither) and the medians differ by more than
             the base's quartile distance, in the metric's better direction
  unresolved either side's spread, (Q3 - Q1) / median, exceeds the
             metric's bound, and not every change run beats every base run
  worse      the change's median is worse than the base's by more than
             the bound
  no worse   otherwise

Bounds and directions come from BENCHMARK.json. It also prints the share
of failed ops per side and, given traced sets, every per-layer median with
its relative change.
"""
import argparse
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    with open(path) as fh:
        return json.load(fh)


def values(rs, workload, metric):
    return {r["seed"]: r["record"]["metrics"][metric]["value"]
            for r in rs["runs"] if r["workload"] == workload and "record" in r
            and metric in r["record"]["metrics"]}


def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(base, chg, better, bound):
    sign = 1 if better == "higher" else -1
    b, c = list(base.values()), list(chg.values())
    bq1, bmed, bq3 = quart(b)
    cq1, cmed, cq3 = quart(c)
    seeds = sorted(set(base) & set(chg))
    pairs = [(base[s], chg[s]) for s in seeds] if seeds else list(zip(b, c))
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    if pairs and wins >= 0.9 * len(pairs) and sign * (cmed - bmed) > (bq3 - bq1):
        return "improved"
    spread = max((bq3 - bq1) / bmed if bmed else 0, (cq3 - cq1) / cmed if cmed else 0)
    all_better = all(sign * (y - x) > 0 for x in b for y in c)
    if spread > bound and not all_better:
        return "unresolved"
    worse = -sign * (cmed - bmed) / bmed if bmed else 0
    return "worse" if worse > bound else "no worse"


def failed_share(rs, workload):
    att = sum(r["record"]["attempted"] for r in rs["runs"] if r["workload"] == workload and "record" in r)
    fail = sum(r["record"]["failed"] for r in rs["runs"] if r["workload"] == workload and "record" in r)
    broken = sum(1 for r in rs["runs"] if r["workload"] == workload and "record" not in r)
    return f"{fail}/{att}" + (f" (+{broken} runs without a record)" if broken else "")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--traced-base")
    ap.add_argument("--traced-change")
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    args = ap.parse_args()
    bench = load(args.benchmark)
    base, chg = load(args.base), load(args.change)

    workloads = [w["name"] for w in bench["workloads"]]
    print(f"{'workload':18s} {'metric':18s} {'base median [q1, q3]':>34s} "
          f"{'change median [q1, q3]':>34s} {'delta':>8s}  verdict")
    for w in workloads:
        for m in bench["end_to_end"]:
            b, c = values(base, w, m["name"]), values(chg, w, m["name"])
            if not b or not c:
                print(f"{w:18s} {m['name']:18s} missing on one side")
                continue
            bq1, bmed, bq3 = quart(list(b.values()))
            cq1, cmed, cq3 = quart(list(c.values()))
            print(f"{w:18s} {m['name']:18s} {bmed:12.6g} [{bq1:9.6g}, {bq3:9.6g}] "
                  f"{cmed:12.6g} [{cq1:9.6g}, {cq3:9.6g}] {100 * (cmed - bmed) / bmed:+7.2f}%  "
                  f"{verdict(b, c, m['better'], m['bound'])}")
        print(f"{w:18s} failed ops: base {failed_share(base, w)}, change {failed_share(chg, w)}")

    if args.traced_base and args.traced_change:
        tb, tc = load(args.traced_base), load(args.traced_change)
        print(f"\n{'workload':18s} {'per-layer metric':36s} {'base':>12s} {'change':>12s} {'delta':>8s}")
        for w in workloads:
            for m in bench["per_layer"]:
                b, c = values(tb, w, m["name"]), values(tc, w, m["name"])
                if not b or not c:
                    continue
                bmed, cmed = statistics.median(b.values()), statistics.median(c.values())
                delta = f"{100 * (cmed - bmed) / bmed:+7.2f}%" if bmed else "   n/a"
                print(f"{w:18s} {m['name']:36s} {bmed:12.6g} {cmed:12.6g} {delta}")


if __name__ == "__main__":
    main()
