#!/usr/bin/env python3
"""Runs one workload of the benchmark once and prints its record.

    python3 perfbench/run.py --workload etl_backlog --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds the program and the
benchmark from source (see build.py), starts one JVM for the run, and
prints every metric by name with its unit and sample count, then, as the
last line, one JSON object: correct, attempted, failed and metrics. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_backlog", "publish_readback", "query_board")
JAVA_TIMEOUT_S = 165

# what `spark-submit` adds on JDK 17; the same list as build.sbt's javaOptions
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, log=None):
    if log and os.path.exists(log):
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="FILE",
                    help="query_board only: write the subset's outputs to FILE instead of timing")
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    args = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail(f"{ROOT} is not a checkout of the program (no build.sbt or src/main/scala)")
    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    import build
    classpath = build.build()

    os.makedirs(build.OUT, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-{args.seed}-", dir=build.OUT)
    out = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "java.log")
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              f"-Djava.io.tmpdir={run_dir}",
              "-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--run-dir", run_dir, "--data", os.path.join(HERE, "data"), "--out", out])
    if args.record:
        cmd += ["--record", os.path.abspath(args.record)]
    env = dict(os.environ, SPARK_LOCAL_IP=os.environ.get("SPARK_LOCAL_IP", "127.0.0.1"))
    try:
        with open(log, "w") as fh:
            try:
                p = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=run_dir,
                                   env=env, timeout=JAVA_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"run exceeded {JAVA_TIMEOUT_S} s", log)
        if args.record:
            return
        if p.returncode != 0 or not os.path.exists(out):
            fail(f"run exited with {p.returncode} and no record", log)
        with open(out) as fh:
            rec = json.load(fh)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
        if [m["name"] for m in declared] != list(rec["metrics"]):
            fail("the run's metrics differ from those BENCHMARK.json declares", log)
        for name, m in rec["metrics"].items():
            print(f"perfbench {args.workload} {name} = {m['value']!r} {m['unit']} (samples={m['samples']})")
        print(f"perfbench {args.workload} ops attempted={rec['attempted']} failed={rec['failed']}")
        for c in rec["checks"]:
            print(f"perfbench {args.workload} CHECK FAILED: {c}")
        print(json.dumps({
            "correct": rec["correct"], "attempted": rec["attempted"], "failed": rec["failed"],
            "metrics": {n: {"value": m["value"], "unit": m["unit"]} for n, m in rec["metrics"].items()},
        }))
    finally:
        if args.keep:
            sys.stderr.write(f"perfbench: run directory kept at {run_dir}\n")
        else:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
