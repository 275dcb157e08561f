"""Builds the program and the benchmark into one class directory.

The program's sources (src/main/scala) and the benchmark's (perfbench/src)
are compiled together with the Scala compiler that ships in the Spark
distribution ($SPARK_HOME/jars), so the build needs neither sbt nor a
network. Class directories are keyed by a hash of every source file and
live under .bench_build/perfbench; a second run with the same sources
reuses the first run's classes.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_ROOT = os.path.join(".bench_build", "perfbench")
SOURCE_DIRS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "src")]


def spark_jars() -> str:
    home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(home, "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("perfbench: SPARK_HOME must point at a Spark 4 distribution "
                 "(its jars/ holds the Scala compiler and the Spark runtime)")
    return jars


def sources() -> list:
    files = []
    for d in SOURCE_DIRS:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    if not any(f.startswith(SOURCE_DIRS[0]) for f in files):
        sys.exit("perfbench: no program sources under src/main/scala; "
                 "run from the root of a repository checkout")
    return sorted(files)


def build() -> str:
    """Returns the class directory, compiling it first if needed."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD_ROOT, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "_BUILT")):
        return out
    for old in glob.glob(os.path.join(BUILD_ROOT, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", jars, "-d", out] + files
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.exit("perfbench: compilation failed")
    open(os.path.join(out, "_BUILT"), "w").close()
    return out


def classpath(classes: str) -> str:
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


if __name__ == "__main__":
    print(build())
