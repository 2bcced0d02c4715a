"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's (perfbench/src) into
.bench_build/classes-<digest>, using the Scala compiler that ships in the
Spark distribution's jars directory: $SPARK_HOME/jars, or else the directory
the program's build.sbt compiles against (its unmanagedBase).

A build is reused while no source file changes. Run from the root of a
checkout:  python3 perfbench/build.py
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
PROGRAM_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME; build.sbt names no unmanagedBase")
    return m.group(1)


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"perfbench: no program sources at {PROGRAM_SRC}; run from the repository root")
    found = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Returns the classes directory, compiling first if needed."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    os.makedirs(BUILD_DIR, exist_ok=True)
    classes = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    with open(os.path.join(BUILD_DIR, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes):
            return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
        rc = subprocess.call(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if rc != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise SystemExit(f"perfbench: compilation failed ({rc})")
        os.rename(tmp, classes)
        for old in os.listdir(BUILD_DIR):
            if old.startswith("classes-") and os.path.join(BUILD_DIR, old) != classes:
                shutil.rmtree(os.path.join(BUILD_DIR, old), ignore_errors=True)
        return classes


if __name__ == "__main__":
    print(build())
