"""Build file of the benchmark: compiles the program and the benchmark.

The repository's `build.sbt` compiles `src/main/scala` with Scala 2.13.17
against the Spark jars its `unmanagedBase` names, with no extra scalac
options. This script runs that same compile with the Scala compiler
shipped in those jars, plus the benchmark's own sources
under `perfbench/src`, into `.bench_build/perfbench/<hash>/classes`. The
hash covers every source file and this script, so a changed program is
rebuilt and an unchanged one is reused. Going around sbt keeps a build at
about half a minute and touches nothing outside the checkout.

    python3 perfbench/build.py        # prints the run classpath
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The jar directory build.sbt's `unmanagedBase` names, else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if m:
        return m.group(1)
    if "SPARK_HOME" not in os.environ:
        raise SystemExit("build.sbt names no unmanagedBase and SPARK_HOME is not set")
    return os.path.join(os.environ["SPARK_HOME"], "jars")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return prog, bench


def source_hash(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def classpath_for(classes):
    parts = [classes]
    res = os.path.join(ROOT, "src/main/resources")
    if os.path.isdir(res):
        parts.append(res)
    parts.append(os.path.join(spark_jars(), "*"))
    return os.pathsep.join(parts)


def build():
    prog, bench = sources()
    if not prog:
        raise SystemExit("no program sources under src/main/scala")
    dest = os.path.join(OUT, "build-" + source_hash(prog + bench))
    classes = os.path.join(dest, "classes")
    done = os.path.join(dest, "DONE")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(done):
            shutil.rmtree(dest, ignore_errors=True)
            os.makedirs(classes)
            cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
                   "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                   "-d", classes] + prog + bench
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
            if r.returncode != 0:
                sys.stderr.write(r.stdout[-8000:])
                raise SystemExit("compile failed")
            open(done, "w").close()
    return classpath_for(classes)


if __name__ == "__main__":
    print(build())
