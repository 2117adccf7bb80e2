#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library sources
(src/main/scala) together with the benchmark's JVM program
(perfbench/src) with the Scala compiler that ships in the Spark jar
directory ($SPARK_HOME/jars, else the jars/ beside a bin/ on the PATH),
into .bench_build/classes-<source hash>.

Usage: python3 perfbench/build.py   (prints the runtime classpath)

sbt is not used, so a build needs only a JDK and the Spark jars; the
output directory is keyed by a hash of every source file, so an edit
to the library or the benchmark triggers exactly one rebuild.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


def sources():
    out = []
    for base in ("src/main/scala", "perfbench/src"):
        out += glob.glob(os.path.join(ROOT, base, "**", "*.scala"),
                         recursive=True)
    return sorted(out)


def jars():
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(":")]
    for home in homes:
        js = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if any(os.path.basename(j).startswith("spark-core_") for j in js):
            return js
    raise SystemExit("no Spark jars: set SPARK_HOME")


def build():
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    js = jars()
    if not os.path.exists(os.path.join(out, ".done")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        compiler = [j for j in js if os.path.basename(j).startswith(
            ("scala-compiler-", "scala-library-", "scala-reflect-"))]
        argfile = os.path.join(tmp, "scalac.args")
        with open(argfile, "w") as f:
            f.write("\n".join(["-nowarn", "-d", tmp,
                               "-classpath", ":".join(js)] + srcs))
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
             "scala.tools.nsc.Main", "@" + argfile],
            stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise SystemExit("scalac failed")
        os.remove(argfile)
        open(os.path.join(tmp, ".done"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return ":".join([out] + js)


if __name__ == "__main__":
    print(build())
