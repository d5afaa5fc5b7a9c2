#!/usr/bin/env python3
"""Runs workloads over several seeds, one fresh process per run, and
writes every record plus each metric's median and quartiles.

    python3 perfbench/steady.py --workloads etl_backlog,query_board \
        --seeds 1-10 --seconds 10 --trace 0 --out perfbench/results/set.json

The output is a result set for compare.py. The spread printed per metric
is (Q3 - Q1) / median, with the quartiles of statistics.quantiles(n=4).
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LINE = re.compile(r"^perfbench (\S+) (\S+) = (\S+) (\S+) \(samples=(\d+)\)$")


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def run_one(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall,
                "error": p.stderr[-2000:]}
    samples = {m.group(2): int(m.group(5)) for m in map(LINE.match, lines) if m}
    return {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall,
            "record": json.loads(lines[-1]), "samples": samples}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,4,9")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    runs = []
    for w in args.workloads.split(","):
        for s in seeds(args.seeds):
            r = run_one(w, s, args.seconds, args.trace)
            runs.append(r)
            rec = r.get("record", {})
            print(f"{w} seed={s} wall={r['wall_s']:.1f}s correct={rec.get('correct')} "
                  + " ".join(f"{k}={v['value']:.6g}" for k, v in rec.get("metrics", {}).items()
                             if args.trace == 0), flush=True)
            if "error" in r:
                print(r["error"], file=sys.stderr)

    summary = {}
    for w in args.workloads.split(","):
        ok = [r for r in runs if r["workload"] == w and "record" in r]
        names = ok[0]["record"]["metrics"].keys() if ok else []
        summary[w] = {n: summarize([r["record"]["metrics"][n]["value"] for r in ok]) for n in names}
        summary[w]["wall_s"] = summarize([r["wall_s"] for r in runs if r["workload"] == w])
        for n, s in summary[w].items():
            if args.trace == 0 or n == "wall_s":
                print(f"{w:18s} {n:18s} median={s['median']:.6g} q1={s['q1']:.6g} "
                      f"q3={s['q3']:.6g} spread={s['spread']:.4f}")
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump({"seconds": args.seconds, "trace": args.trace, "runs": runs,
                   "summary": summary}, fh, indent=1)


if __name__ == "__main__":
    main()
