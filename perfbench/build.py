"""Builds the engine and the benchmark's JVM runner from source.

The engine (`src/main/scala`) and the runner (`perfbench/scala`) compile in
one scalac pass against Spark's jars, which also carry the Scala 2.13
compiler. The classes land in `perfbench/build/classes`, keyed by a hash
of every source file, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py        # build (or confirm the cached build)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "scala")]

# the JDK 17 module openings Spark needs outside spark-submit (as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """Spark's jar directory, $SPARK_HOME/jars."""
    d = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(d, "spark-sql_*.jar")):
        raise SystemExit("perfbench: no Spark jars under $SPARK_HOME/jars")
    return d


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: source directory {d} is missing")
        files += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    return files


def build():
    """Returns the classes directory, compiling when the sources changed."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = os.path.join(BUILD, f"classes.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + files
    # cwd: scalac puts "." on its class path, where perfbench/scala would
    # read as a package
    r = subprocess.run(cmd, cwd=BUILD, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=850)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
