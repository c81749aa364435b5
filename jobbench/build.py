#!/usr/bin/env python3
"""Build file of the job-path benchmark.

Compiles the server (`src/main/scala`) together with the benchmark's own
Scala sources (`jobbench/src`) straight from source with the Scala compiler
that ships in Spark's jar directory, into `jobbench/.work/classes`. No sbt,
no dependency resolution, nothing written outside the checkout. A stamp
(hash of every source file and of the compiler classpath) makes a second
call a no-op while nothing changed.

Usage: python3 jobbench/build.py   (prints the classes directory)
"""
import glob
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(WORK, "classes")
STAMP = os.path.join(WORK, "classes.stamp")

# Spark on JDK 17 outside spark-submit needs these (the list build.sbt passes)
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME, else the install `spark-submit`
    on the PATH belongs to, else the installed pyspark package."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.submodule_search_locations:
        homes += list(spec.submodule_search_locations)
    for home in filter(None, homes):
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if jars:
            return jars
    raise SystemExit("build: no Spark jars found (set SPARK_HOME)")


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        if not os.path.isdir(base):
            raise SystemExit(f"build: missing source directory {base}")
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp_of(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def build():
    """Compile if needed; return (classes dir, classpath list)."""
    jars = spark_jars()
    srcs = sources()
    want = stamp_of(srcs, jars)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == want:
        return CLASSES, jars
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(WORK, "scalac.args")
    with open(args_file, "w") as f:
        f.write("-d\n" + CLASSES + "\n-classpath\n" + os.pathsep.join(jars) + "\n")
        f.write("-nowarn\n-Ybackend-parallelism\n4\n")
        f.write("\n".join(srcs) + "\n")
    compiler_cp = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    # the compiler writes nothing but class files; keep its temp files inside
    # the checkout too
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={WORK}",
           "-cp", os.pathsep.join(compiler_cp), "scala.tools.nsc.Main", "@" + args_file]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    with open(STAMP, "w") as f:
        f.write(want)
    return CLASSES, jars


if __name__ == "__main__":
    print(build()[0])
