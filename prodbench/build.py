#!/usr/bin/env python3
"""Build file of the product-path benchmark.

Compiles the library's sources (``src/main/scala`` at the repository root)
together with the benchmark's (``prodbench/src``) with the Scala compiler
that ships in the Spark distribution, into a class directory keyed by a
hash of every source file. A second build of unchanged sources is a no-op.

    python3 prodbench/build.py            # prints the class directory

The build directory is ``$CARGO_TARGET_DIR`` when set, else ``.bench_build``
(relative to the repository root). Spark's jars come from
``$SPARK_HOME/jars`` (default ``/opt/spark/jars``).
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"prodbench build: source directory {r} is missing")
    out = []
    for r in roots:
        for dp, _, fs in os.walk(r):
            out += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compiles if needed; returns the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(build_dir(), "prodbench-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".built")):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    argfile = os.path.join(tmp, ".sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    print("prodbench build: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("prodbench build: compilation failed")
    os.remove(argfile)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    open(os.path.join(classes, ".built"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())
