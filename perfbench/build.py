#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala`) together with the harness (`perfbench/harness`) with the
Scala compiler that ships among the Spark jars (the `unmanagedBase` of
`build.sbt`), into `$CARGO_TARGET_DIR/classes-<hash>` (default
`.bench_build`). The hash covers every compiled source, so an unchanged tree
reuses its classes.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """The jar directory the sbt build compiles against."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        sys.exit("build: no unmanagedBase jar directory in build.sbt")
    return m.group(1)


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    if not jars:
        sys.exit(f"build: no Spark jars under {spark_jars()}")
    return ":".join(jars)


def sources():
    found = []
    for base in ("src/main/scala", "perfbench/harness"):
        found += glob.glob(os.path.join(ROOT, base, "**", "*.scala"), recursive=True)
    if not any("/src/main/scala/" in f for f in found):
        sys.exit("build: no engine sources under src/main/scala")
    return sorted(found)


def build():
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = spark_classpath()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"build: scalac failed with code {r.returncode}")
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
