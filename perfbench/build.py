"""Build the program and the benchmark harness from source.

Compiles every Scala file under src/main/scala (the program) and
perfbench/src (the harness) against the Spark distribution's jars into
.bench_build/classes. A stamp of the sources' contents skips the
compile when nothing changed.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("no Spark jars found: set SPARK_HOME")
    return jars


def sources():
    found = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not found:
        raise SystemExit("no program sources under src/main/scala: run from "
                         "the root of a checkout")
    return found + sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])


def build():
    """Compile if the sources changed; return the compile seconds (0 when
    up to date)."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return 0.0
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    t0 = time.monotonic()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(spark_jars(), "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES,
         "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compile failed")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return time.monotonic() - t0


if __name__ == "__main__":
    print(f"compiled in {build():.1f} s")
