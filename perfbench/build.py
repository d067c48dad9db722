#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's own sources (perfbench/src) with the Scala compiler that ships in
Spark's jar directory, into .bench_build/classes. A stamp over every source
file skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the runtime classpath
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
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the program's build.sbt names."""
    jars = None
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    elif os.path.exists(os.path.join(ROOT, "build.sbt")):
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        jars = m and m.group(1)
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler under {jars}: set SPARK_HOME to a Spark install")
    return os.path.join(jars, "*")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"program sources not found at {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if stale; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    want = stamp(files)
    have = None
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            have = fh.read().strip()
    if have != want:
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.makedirs(CLASSES)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
               "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + argfile]
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=800)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-8000:])
            raise SystemExit("compile failed")
        with open(STAMP, "w") as fh:
            fh.write(want + "\n")
    return CLASSES + os.pathsep + jars


if __name__ == "__main__":
    print(build())
