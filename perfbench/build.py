#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the engine sources (`src/main/scala`) together with the benchmark's
own sources (`perfbench/src`) into `<build dir>/classes`, using the Scala
compiler that ships in the Spark distribution's `jars/` directory
(`$SPARK_HOME/jars`). The build dir is `$CARGO_TARGET_DIR` when set, else
`.bench_build`, relative to the repository root. A build is skipped when a
stamp over every source file's path and content still matches.

Usage, from the repository root:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ENGINE_SRC = os.path.join("src", "main", "scala")


class BuildError(Exception):
    pass


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set; the benchmark needs a Spark 4 distribution")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar under {jars}")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {ENGINE_SRC}; run from the repository root")
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "src", "*.scala")))
    return engine + bench


def build():
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs + sorted(glob.glob(os.path.join(jars, "scala-*.jar"))):
        digest.update(path.encode())
        if path.endswith(".scala"):
            with open(path, "rb") as f:
                digest.update(f.read())
    stamp = digest.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out] + srcs
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if res.returncode != 0:
        raise BuildError(f"scalac exited with {res.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
