#!/usr/bin/env python3
"""Builds the program (src/main/scala) and the benchmark (perfbench/src)
from source with the Scala compiler that ships in Spark's jars directory.

The classes land in .bench_build/classes-<digest> under the checkout root,
where <digest> hashes every source file; an up-to-date build is reused.

Usage: python3 perfbench/build.py   (prints the classes directory)
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


def spark_jars():
    """Spark's jars: under $SPARK_HOME, else next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not any(p.endswith("/graft/ingest/Ingest.scala") for p in prog):
        raise SystemExit("perfbench: the program's sources (src/main/scala/graft) are missing")
    return prog + bench


def digest(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def ensure_built():
    """Returns the classes directory, compiling first if it is missing."""
    files = sources()
    out = os.path.join(BUILD, "classes-" + digest(files))
    if os.path.isfile(os.path.join(out, "BUILT")):
        return out
    jars = spark_jars()
    compiler = [jar for m in ("compiler", "library", "reflect")
                for jar in glob.glob(os.path.join(jars, f"scala-{m}-2.13.*.jar"))]
    os.makedirs(BUILD, exist_ok=True)
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    os.remove(argfile)
    if done.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed ({done.returncode})")
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    open(os.path.join(out, "BUILT"), "w").close()
    return out


if __name__ == "__main__":
    print(ensure_built())
