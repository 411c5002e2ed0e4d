#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft (`src/main/scala`) together
with the harness (`perfbench/src`) with the Scala compiler that ships in
the Spark distribution, into `.bench_build/classes` of the checkout.

A stamp of the sources' content makes a rebuild happen only when a source
changed. Usage: python3 perfbench/build.py   (from the checkout root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
CLASSES = os.path.join(BUILD, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME/jars`, else the
    `unmanagedBase` directory graft's own build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("set SPARK_HOME: build.sbt names no unmanagedBase")
        jar_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {jar_dir}")
    return jars


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"missing source directory {d}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp_of(srcs):
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([CLASSES] + spark_jars())


def java_opens():
    return [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def build(log=sys.stderr):
    """Compile if the sources changed since the last build; returns the classpath."""
    srcs = sources()
    stamp = stamp_of(srcs)
    stamp_file = os.path.join(BUILD, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", CLASSES, "-classpath", os.pathsep.join(jars)] + srcs))
    print(f"building {len(srcs)} sources into {CLASSES}", file=log)
    subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
                    "scala.tools.nsc.Main", "@" + argfile], check=True, stdout=log, stderr=log)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath()


if __name__ == "__main__":
    build()
