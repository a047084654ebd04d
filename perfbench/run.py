"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from this checkout (see build.py), then runs the harness
in one JVM on local[nproc]. Exit code 0 when every output matched its
oracle, 1 when one missed, 2 when the run could not be made. Scratch data
lives under .bench_build/perfbench/ and is removed afterwards; a traced run
leaves its spans in .bench_build/perfbench/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

# Longest a run may take once built; the JVM is killed after this.
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these opened modules.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_OPTS = [o for p in ADD_OPENS for o in ("--add-opens", p + "=ALL-UNNAMED")] + [
    # a fixed heap and young generation: adaptive resizing of a growing heap
    # stretches the warmup drift of iteration times
    "-Xms3g", "-Xmx3g", "-Xmn1536m", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
    "-XX:-UsePerfData",  # no hsperfdata files outside the checkout
]


def fail(msg):
    print(msg, file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        cp = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    work = os.path.join(build.OUT, f"work-{os.getpid()}")
    traces = os.path.join(build.OUT, "traces")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(traces, exist_ok=True)
    cmd = ["java", *JVM_OPTS, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-cp", os.pathsep.join(cp), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work]
    if a.trace:
        cmd += ["--trace-out", os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=build.ROOT)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail(f"harness exited with {proc.returncode} and printed no result")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
