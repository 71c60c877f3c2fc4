"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Builds the program from source if needed (see build.py), then runs one JVM
with a ``local[nproc]`` Spark session. Inputs, outputs, Spark's local
directory and traces live under ``.bench_work/`` in the checkout. The last
line of stdout is the result JSON; everything else goes to stderr. Exits
non-zero without a result when the build, the run or its output fails.
"""

import argparse
import json
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["citygml_obj", "image_join_tiles_knn"]

# JDK 17 module openings Spark needs outside spark-submit (the same list as
# the program's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

JVM_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args()

    root = os.getcwd()
    try:
        classes = build.build(root)
        jars = os.path.join(build.spark_jars(root), "*")
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        sys.stderr.write(f"perfbench: build failed: {e}\n")
        return 2

    work = os.path.join(root, ".bench_work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    # a fixed set of JIT compiler threads, so their CPU can be told apart
    # from the program's (Proc.workCpuNs)
    cmd = [build.java(), "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss8m",
           "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + jars, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", work, "--cores", str(cores)]
    if args.smoke:
        cmd.append("--smoke")

    t0 = time.time()
    # a terminated benchmark stops its JVM too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"perfbench: run exceeded {JVM_TIMEOUT_S} s\n")
        return 3
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    lines = out.splitlines()
    for line in lines[:-1]:
        sys.stderr.write(line + "\n")
    if p.returncode != 0 or not lines:
        sys.stderr.write(f"perfbench: JVM exited with {p.returncode}\n")
        return 4
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        sys.stderr.write(f"perfbench: malformed result line: {lines[-1]!r}\n")
        return 5
    sys.stderr.write(f"perfbench: {args.workload} run took {time.time() - t0:.1f} s\n")
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
