#!/usr/bin/env python3
"""Build file of the perfbench package.

Compiles the program's sources (`src/main/scala`) together with the
benchmark's own (`perfbench/src`) using the Scala compiler that ships in
the Spark distribution (`$SPARK_HOME`, else the `pyspark` package), so
no dependency resolution is needed:

    python3 perfbench/build.py

Classes go to `.bench_build/perfbench/classes-<hash>`, where the hash
covers every compiled source; an unchanged tree is not rebuilt.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:  # a pip-installed Spark ships the same jars
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            home = ""
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")) or \
            not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Spark distribution with a Scala compiler at {home} "
                         "(set SPARK_HOME)")
    return jars


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog):
        raise BuildError(f"program sources not found: {prog}")
    own = os.path.join(HERE, "src")
    files = sorted(glob.glob(os.path.join(prog, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(own, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError("no Scala sources")
    return files


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def ensure_built(log=sys.stderr):
    """Return the classes directory, compiling first if needed."""
    files = sources()
    jars = spark_jars()
    out = os.path.join(BUILD, "classes-" + source_hash(files))
    if os.path.isdir(out):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, f"sources{os.getpid()}.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    os.remove(argfile)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compilation failed:\n" + p.stdout[-4000:])
    try:
        os.rename(tmp, out)
    except OSError:  # built concurrently by another run
        shutil.rmtree(tmp, ignore_errors=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != out and ".tmp" not in old:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
