"""Build file of the benchmark: compiles the engine's sources together with
the benchmark's JVM half into one class directory.

The engine is compiled from the checkout's ``src/main/scala`` with the Scala
compiler that ships in Spark's jar directory (``$SPARK_HOME/jars``, or the
jars of the installed ``pyspark``), so no build tool or network is needed.
The output is keyed by a hash of every source file and reused while the
sources are unchanged.

Usage: python3 build.py   (prints the class directory)
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


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
    except ImportError:
        sys.exit("build: set SPARK_HOME or install pyspark (Spark 4.1, Scala 2.13)")
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        sys.exit(f"build: no engine sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return engine + bench


def build():
    """Compile if needed; return the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    if os.path.isdir(BUILD):
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            shutil.rmtree(old)
    os.makedirs(out)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)),
           "-d", out, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        shutil.rmtree(out, ignore_errors=True)
        sys.exit(f"build: scalac failed with code {r.returncode}")
    open(os.path.join(out, ".complete"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
