#!/usr/bin/env python3
"""Build the benchmark: compile the repository's main sources together with
perfbench/src into .bench_build/classes with the Scala compiler that ships
in the Spark distribution (the same jar directory the repository's sbt
build compiles against). A stamp of the source contents skips the compile
when nothing changed.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory named by the root
    build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: no Spark jar directory (set SPARK_HOME)")
    return m.group(1)


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    if not os.path.isdir(dirs[0]):
        raise SystemExit("perfbench: src/main/scala is missing; run from a full checkout")
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    os.makedirs(classes, exist_ok=True)
    for base, _, files in os.walk(classes):
        for f in files:
            os.remove(os.path.join(base, f))
    cp = os.path.join(jars, "*")
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    proc = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                           "scala.tools.nsc.Main",
                           "-nowarn", "-d", classes, "-cp", cp, "@" + argfile],
                          stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({proc.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, jars


if __name__ == "__main__":
    print(build()[0])
