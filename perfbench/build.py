#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine sources (src/main/scala) together with the benchmark
sources (perfbench/src) into .bench_build/classes with the Scala compiler
that ships in the Spark distribution's jars directory, and packs them
into .bench_build/classes.jar. The build is skipped when a stamp over
every source path and byte matches the last build. Exits non-zero,
printing the reason, when the engine sources or the toolchain are
missing.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
JAR = os.path.join(OUT, "classes.jar")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark distribution
    whose bin/spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isdir(jars) and any(
                f.startswith("scala-compiler") for f in os.listdir(jars)):
            return jars
    sys.exit("build: no Spark distribution with a Scala compiler (set SPARK_HOME)")


def scala_sources(base):
    out = []
    for d, _, files in os.walk(base):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def pack(stamp):
    """classes.jar from the compiled classes: class-data sharing maps
    classes from jars only."""
    tmp = JAR + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(CLASSES):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, CLASSES))
    os.replace(tmp, JAR)
    with open(JAR + ".stamp", "w") as f:
        f.write(stamp)


def build():
    """Returns (jar of the compiled classes, build stamp)."""
    jars = spark_jars()
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"build: engine sources missing at {os.path.relpath(ENGINE_SRC, ROOT)}")
    sources = scala_sources(ENGINE_SRC) + scala_sources(BENCH_SRC)
    h = hashlib.sha256()
    for p in sources:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(CLASSES, "BUILD_STAMP")
    jar_stamp = JAR + ".stamp"
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        if not (os.path.isfile(jar_stamp) and open(jar_stamp).read() == stamp):
            pack(stamp)
        return JAR, stamp
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        sys.exit(f"build: scalac failed with exit code {r.returncode}")
    with open(os.path.join(tmp, "BUILD_STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    pack(stamp)
    return JAR, stamp


if __name__ == "__main__":
    build()
