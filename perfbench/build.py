#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's Scala sources (`src/main/scala`) together with the
harness sources (`perfbench/src`) with the Scala compiler that ships in
Spark's jar directory, into `<out>/classes`. The output is keyed by a hash
of every input file, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py [--out .bench_build]

Prints the classpath to use on its last line.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(BENCH_DIR, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars) and any(
                n.startswith("scala-compiler") for n in os.listdir(jars)):
            return jars
    raise BuildError("no Spark installation with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources not found at {PROGRAM_SRC}")
    out = []
    for top in (PROGRAM_SRC, HARNESS_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def tree_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    if os.path.isdir(PROGRAM_RES):
        for d, _, names in sorted(os.walk(PROGRAM_RES)):
            for n in sorted(names):
                p = os.path.join(d, n)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(out_dir, log=sys.stderr):
    """Compile if needed; returns (classpath, tree hash)."""
    jars = spark_jars()
    files = sources()
    tree = tree_hash(files)
    classes = os.path.join(out_dir, "classes")
    stamp = os.path.join(out_dir, "classes.tree")
    cp = os.pathsep.join([classes, PROGRAM_RES, os.path.join(jars, "*")])
    if os.path.exists(stamp) and open(stamp).read().strip() == tree:
        return cp, tree
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args = os.path.join(out_dir, "scalac.args")
    with open(args, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"compiling {len(files)} Scala sources", file=log, flush=True)
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", classes,
         "-classpath", os.path.join(jars, "*"), "@" + args],
        stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    with open(stamp, "w") as fh:
        fh.write(tree + "\n")
    return cp, tree


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build"))
    a = ap.parse_args()
    try:
        cp, _ = build(os.path.abspath(a.out))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 1
    print(cp)
    return 0


if __name__ == "__main__":
    sys.exit(main())
