"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (perfbench/src) into one class directory with the Scala compiler
that ships with the engine's Spark distribution.

The output directory is keyed by a hash of every source, so a changed
engine is rebuilt and an unchanged one is reused:

    python3 perfbench/build.py      # prints the run-time classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory the engine's own build compiles against."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("no build.sbt at the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def sources():
    found = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        if not os.path.isdir(top):
            raise BuildError(f"missing source directory {os.path.relpath(top, ROOT)}")
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compile if needed; return the classpath entries to run with."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if not os.path.isdir(classes):
        os.makedirs(OUT, exist_ok=True)
        tmp = f"{classes}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(tmp, "sources.txt")
        with open(argfile, "w") as f:  # relative: the checkout path may hold spaces
            f.write("\n".join(os.path.relpath(s, ROOT) for s in srcs))
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
        r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
        os.remove(argfile)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError(f"scalac exited with {r.returncode}")
        try:
            os.rename(tmp, classes)
        except OSError:
            # a concurrent build of the same sources finished first
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(classes):
                raise
    return [classes, os.path.join(jars, "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
