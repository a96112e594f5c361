"""Build file of the benchmark package.

Compiles the program (src/main/scala at the repository root) together with
the benchmark's own sources (perfbench/src) using the Scala compiler that
ships in Spark's jars directory, into perfbench/target/classes. The output is
reused while no source file changes.

    python3 perfbench/build.py        # build, print the runtime classpath
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "classes.sha256")


class BuildError(Exception):
    pass


def spark_jars():
    """The jars of the Spark installation at SPARK_HOME, else of the first
    spark-submit on PATH that sits in a full Spark distribution."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if home and jars:
            return jars
    raise BuildError("no Spark jars found (set SPARK_HOME or put Spark's bin on PATH)")


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources missing: {PROGRAM_SRC}")
    found = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return [CLASSES, PROGRAM_RESOURCES] + spark_jars()


def build(log=sys.stderr):
    """Compile if any source changed; return the runtime classpath."""
    files = sources()
    jars = spark_jars()
    fp = fingerprint(files)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == fp and os.path.isdir(CLASSES):
        return classpath()
    compiler = [j for j in jars if os.path.basename(j).split("-2.")[0]
                in ("scala-compiler", "scala-library", "scala-reflect")]
    if len(compiler) != 3:
        raise BuildError("scala-compiler/library/reflect jars not found among the Spark jars")
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-Ybackend-parallelism", str(len(os.sched_getaffinity(0))),
           "-d", tmp, "-classpath", ":".join(jars)] + files
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    done = subprocess.run(cmd, stdout=log, stderr=log)
    if done.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {done.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(fp + "\n")
    return classpath()


if __name__ == "__main__":
    try:
        print(":".join(build()))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
