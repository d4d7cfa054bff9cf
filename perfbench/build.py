#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources and the
benchmark harness (perfbench/src) with scalac from the Spark distribution.

Usage: python3 perfbench/build.py   (from the repository root)

Outputs go under .bench_build/graft/: classes/main (the program),
classes/bench (the harness). Each tree carries a stamp of the sources it
was built from, so an unchanged tree is not rebuilt. Exits non-zero when
the sources or the Scala toolchain are missing.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "graft")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Spark/Scala jars under {jars!r}; set SPARK_HOME")
    return jars


def sources(root):
    files = sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    if not files:
        raise SystemExit(f"build: no Scala sources under {root}")
    return files


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_tree(name, files, classpath, jars, extra=""):
    """Compile `files` into classes/<name> unless its stamp matches;
    returns (directory, stamp)."""
    dest = os.path.join(OUT, "classes", name)
    stamp_file = dest + ".stamp"
    digest = stamp(files, classpath + extra)
    if os.path.exists(stamp_file) and open(stamp_file).read() == digest:
        return dest, digest
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath] + files
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed on {name} (exit {proc.returncode})")
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return dest, digest


def build():
    """Compile (or reuse) both trees; returns (runtime classpath, stamp of
    the program sources). The harness is rebuilt whenever the program is."""
    jars = spark_jars()
    jar_cp = os.path.join(jars, "*")
    main, main_digest = compile_tree("main", sources(PROGRAM_SRC), jar_cp, jars)
    bench, _ = compile_tree("bench", sources(BENCH_SRC),
                            os.pathsep.join([main, jar_cp]), jars, main_digest)
    return os.pathsep.join([bench, main, jar_cp]), main_digest


if __name__ == "__main__":
    print(build()[0])
