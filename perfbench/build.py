#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (perfbench/src) into perfbench/.build/classes with the
Scala compiler that ships in Spark's jar directory: the one build.sbt
builds the program against (its unmanagedBase), else $SPARK_HOME/jars.

    python3 perfbench/build.py        # from the repository root

The build is skipped when a stamp of the sources and the jar directory
matches the last build. Nothing is written outside perfbench/.build.
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
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")
SCALA_VERSION = "2.13.17"


def spark_jars():
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sys.exit("perfbench: no Spark jar directory (build.sbt names none, SPARK_HOME unset)")


def program_sources():
    return sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))


def bench_sources():
    return sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def classpath():
    return sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))


def stamp(sources, jars):
    h = hashlib.sha256()
    for p in sources:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def build():
    """Returns the classpath to run with; raises SystemExit on failure."""
    prog = program_sources()
    if not prog:
        sys.exit("perfbench: no program sources under src/main/scala; "
                 "run from a checkout of the repository")
    jars = classpath()
    compiler = [os.path.join(spark_jars(), f"scala-{n}-{SCALA_VERSION}.jar")
                for n in ("compiler", "library", "reflect")]
    missing = [c for c in compiler if not os.path.exists(c)]
    if missing:
        sys.exit(f"perfbench: Scala compiler jars not found: {missing}")
    sources = prog + bench_sources()
    want = stamp(sources, jars)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return [CLASSES] + jars
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(CLASSES)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.pathsep.join(jars), "-d", CLASSES] + sources
    print(f"perfbench: compiling {len(sources)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        sys.exit(f"perfbench: compile failed ({r.returncode})")
    with open(STAMP, "w") as f:
        f.write(want)
    return [CLASSES] + jars


if __name__ == "__main__":
    build()
