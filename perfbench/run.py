#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line of
standard output. Run from the root of a checkout:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

The program and the benchmark are compiled from source on first use (see
build.py). Everything the run writes stays under .bench_build/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("serve", "curate")
RUN_TIMEOUT_S = 170
HEAP = "-Xmx3g"
# Spark on JDK 17 outside spark-submit needs these (as in the program's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    classes = os.path.abspath(build.build())

    base = os.path.abspath(build.BUILD_DIR)
    work = os.path.join(base, "work", a.workload)
    local = os.path.join(base, "spark-local", a.workload)
    tmp = os.path.join(base, "tmp", a.workload)
    for d in (work, local, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    out = os.path.join(work, "result.json")

    # the program reads no tuning knob from the benchmark: GRAFT_* and
    # SPARK_GRAFT_* are not passed on; Spark's scratch space stays in the checkout
    env = {k: v for k, v in os.environ.items() if not k.startswith(("GRAFT_", "SPARK_GRAFT_"))}
    env["SPARK_LOCAL_DIRS"] = local
    cmd = (["java", "-XX:-UsePerfData", HEAP, f"-Djava.io.tmpdir={tmp}"]
           + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", out])
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(1)))
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    except KeyboardInterrupt:
        stop()
        raise
    if rc != 0 or not os.path.exists(out):
        fail(f"benchmark JVM exited with {rc}")
    print(f"perfbench: run took {time.monotonic() - t0:.1f} s", file=sys.stderr)

    with open(out) as f:
        result = json.load(f)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(want.items()))}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
