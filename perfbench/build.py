"""Build file of the benchmark package: compiles the library sources
(`src/main/scala`) together with the benchmark's own Scala sources
(`perfbench/scala`) into `.bench_build/classes`, with the Scala compiler
and Spark jars of the local Spark install. A stamp over every source
file's path and bytes skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
LIB_SRC = os.path.join("src", "main", "scala")
LIB_RES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join("perfbench", "scala")


def spark_jars():
    """The Spark install's jars: `$SPARK_HOME/jars`, else the first
    `jars` directory beside a `spark-submit` on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(exe))))
    for home in filter(None, homes):
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if jars:
            return jars
    raise SystemExit("build: no Spark jars found under $SPARK_HOME or beside spark-submit")


def sources():
    if not os.path.isdir(LIB_SRC):
        raise SystemExit(f"build: library sources not found at {LIB_SRC}")
    out = []
    for root in (LIB_SRC, BENCH_SRC):
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return [CLASSES] + spark_jars()


def build():
    """Compiles when the sources changed; returns the runtime classpath."""
    files = sources()
    stamp = stamp_of(files)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = spark_jars()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", CLASSES] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    if os.path.isdir(LIB_RES):
        shutil.copytree(LIB_RES, CLASSES, dirs_exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return classpath()


if __name__ == "__main__":
    build()
