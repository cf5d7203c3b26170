#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources together with
the harness under perfbench/src into perfbench/.build/classes.

Usage: python3 perfbench/build.py   (from the repository root)

The engine is built from source on every fresh checkout; a stamp of the
source file list, sizes and modification times skips the compile when
nothing changed. Spark (and the Scala compiler it ships) is taken from
$SPARK_HOME/jars (or the Spark installation whose spark-submit is on PATH),
the same jars the engine's sbt build uses.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(BENCH, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(BENCH, "src")


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return os.path.join(jars, "*")
    raise SystemExit("build: no Spark jars found (set SPARK_HOME)")


def sources():
    prog = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise SystemExit(f"build: no engine sources under {PROGRAM_SRC}")
    harness = sorted(glob.glob(os.path.join(HARNESS_SRC, "**", "*.scala"),
                               recursive=True))
    if not harness:
        raise SystemExit(f"build: no harness sources under {HARNESS_SRC}")
    return prog + harness


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}|{st.st_size}|{st.st_mtime_ns}\n"
                 .encode())
    return h.hexdigest()


def classpath():
    """Runtime classpath: the compiled classes, then the Spark jars."""
    return CLASSES + os.pathsep + spark_jars()


def build(quiet=False):
    files = sources()
    stamp = stamp_of(files)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath()
    # compile into a private directory and move it into place, so an
    # interrupted or concurrent build never leaves half a classes tree
    tmp = os.path.join(ROOT, "perfbench", f".build-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    out_dir = os.path.join(tmp, "classes")
    os.makedirs(out_dir)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn", "-d", out_dir,
           "-classpath", spark_jars(), "@" + argfile]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if out.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(out.stdout)
        raise SystemExit(f"build: scalac failed with code {out.returncode}")
    if os.path.isdir(PROGRAM_RES):
        shutil.copytree(PROGRAM_RES, out_dir, dirs_exist_ok=True)
    with open(os.path.join(tmp, "stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(BUILD, ignore_errors=True)
    os.rename(tmp, BUILD)
    if not quiet:
        print(f"build: compiled {len(files)} sources", file=sys.stderr)
    return classpath()


if __name__ == "__main__":
    build()
