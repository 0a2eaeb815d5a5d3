"""Builds the benchmark: compiles the project's main sources together with
the benchmark's own sources, using the Scala compiler and the Spark jars
that ship with the Spark installation ($SPARK_HOME), into
graftbench/target/classes.

    python3 graftbench/build.py        # from the repository root

A build is skipped when a stamp of every source file's path and content
matches the stamp of the last successful build.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "build.stamp")


def spark_jars():
    """The jars of the Spark installation: $SPARK_HOME/jars, else the jars
    next to the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("no Spark installation found: set SPARK_HOME")
    return os.path.join(home, "jars")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return main, bench


def classpath():
    return [CLASSES, os.path.join(ROOT, "src/main/resources"), os.path.join(spark_jars(), "*")]


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    main, bench = sources()
    if not main:
        raise SystemExit(f"no project sources under {ROOT}/src/main/scala")
    s = stamp(main + bench)
    if os.path.exists(STAMP) and open(STAMP).read() == s:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    args_file = os.path.join(TARGET, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(main + bench))
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.pathsep.join(jars), "@" + args_file]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"scalac failed with exit code {r.returncode}")
    with open(STAMP, "w") as f:
        f.write(s)


if __name__ == "__main__":
    build()
