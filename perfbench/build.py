#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources
(src/main/scala, with src/main/resources) together with the benchmark's
own (perfbench/scala) into perfbench/.build/graft-perfbench.jar, using the
Scala compiler that ships with Spark ($SPARK_HOME/jars). Skips the build
when no source changed since the last one; a rebuild also drops the class
data archive that run.py derives from the jar. Usage: python3
perfbench/build.py (from the repository root)."""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")
JAR = os.path.join(OUT, "graft-perfbench.jar")
STAMP = os.path.join(OUT, "stamp")
ARCHIVE = os.path.join(OUT, "classes.jsa")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    home = os.environ.get("SPARK_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("spark-submit") or "")))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"build: no Spark jars with a Scala compiler under {jars!r}; set SPARK_HOME")
    return jars


def _files(d):
    return [os.path.join(base, f) for base, _, files in os.walk(d) for f in files]


def sources():
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit(f"build: source directory {d!r} is missing")
    return sorted(f for d in SOURCE_DIRS for f in _files(d) if f.endswith((".scala", ".java")))


def classpath():
    return JAR + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    """Compile if any source changed; return the runtime classpath."""
    srcs = sources()
    resources = sorted(_files(RESOURCES)) if os.path.isdir(RESOURCES) else []
    h = hashlib.sha256()
    for s in srcs + resources:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return classpath()
    for f in (STAMP, ARCHIVE, JAR):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        sys.exit(f"build: scalac failed with exit code {res.returncode}")
    for r in resources:  # service registrations (the graft-lake data source)
        dst = os.path.join(CLASSES, os.path.relpath(r, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    # a jar, not a directory: the JVM's class data sharing needs one
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(_files(CLASSES)):
            z.write(f, os.path.relpath(f, CLASSES))
    with open(STAMP, "w") as f:
        f.write(digest)
    return classpath()


if __name__ == "__main__":
    print(build())
