#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's sources (`src/main/scala` of the checkout) together
with the benchmark's own (`perfbench/src`) with the Scala compiler that
ships in Spark's jar directory (`$SPARK_HOME/jars`, or the distribution
that holds `spark-submit` on the PATH) into `.bench_build/classes`. The
output is keyed by a digest of every source file, so an unchanged tree is
not rebuilt.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def fail(msg):
    print(f"perfbench build: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("set SPARK_HOME to a Spark distribution whose jars/ holds scala-compiler")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        fail(f"no engine sources at {os.path.relpath(engine, os.getcwd())}")
    files = []
    for base in (engine, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile if needed; returns (classes dir, source digest, jars dir)."""
    jars = spark_jars()
    files = sources()
    digest = source_digest(files)
    out = os.path.join(BUILD, "classes")
    stamp = os.path.join(out, ".digest")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return out, digest, jars
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", cp, "@" + argfile]
    res = subprocess.run(cmd, cwd=ROOT)
    if res.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("scalac failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return out, digest, jars


if __name__ == "__main__":
    print(build()[0])
