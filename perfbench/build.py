"""Compiles graft (src/main/scala) and the benchmark harness
(perfbench/scala) with the Scala compiler that ships in Spark's jars, into
.bench_build/graft-bench.jar, then records a class-data-sharing archive of
the classes a short etl_cycles run loads, so that each benchmark JVM starts
without re-parsing them. A stamp of the sources' hash skips an unchanged
rebuild. Run from the root of the repository:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import subprocess
import sys

BUILD = ".bench_build"
JAR = os.path.join(BUILD, "graft-bench.jar")
ARCHIVE = os.path.join(BUILD, "graft-bench.jsa")
STAMP = os.path.join(BUILD, "graft-bench.stamp")
SOURCES = ["src/main/scala", "perfbench/scala"]


def spark_jars() -> list:
    """The jars of the Spark install at $SPARK_HOME."""
    home = os.environ.get("SPARK_HOME", "")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not home or not jars:
        raise SystemExit("no Spark jars: set SPARK_HOME to a Spark install")
    return jars


def sources() -> list:
    files = []
    for root in SOURCES:
        if not os.path.isdir(root):
            raise SystemExit(f"missing source directory {root}")
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(files)


def classpath() -> str:
    return os.pathsep.join([JAR] + spark_jars())


def build(dump_archive) -> str:
    """Builds unless the sources are unchanged; `dump_archive(path)` runs a
    short workload that writes the class-data-sharing archive."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath()
    os.makedirs(BUILD, exist_ok=True)
    for f in (STAMP, JAR, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    jars = os.pathsep.join(spark_jars())
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", JAR, "-classpath", jars] + files
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("compilation failed")
    dump_archive(ARCHIVE)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return classpath()


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import run
    build(run.dump_archive)
