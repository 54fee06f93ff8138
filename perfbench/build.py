"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark driver (perfbench/src) into one class directory with the Scala
compiler that ships with Spark, so no build tool or network is needed.

    python3 perfbench/build.py          # build (no-op when up to date)

The output lives under .bench_build/ at the repository root and is reused
while no source file changed (a content hash of every input is stamped
beside the classes). The classes are also packed into a jar, because the
JVM's class-data-sharing archive (see run.py) only covers classes in jars.
"""

import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "perfbench-classes")
JAR = os.path.join(BUILD, "perfbench.jar")
STAMP = os.path.join(BUILD, "perfbench-classes.sha256")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars of a Spark whose `bin` is on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.abspath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isdir(jars):
            return os.path.join(jars, "*")
    raise SystemExit("build: Spark jars not found (set SPARK_HOME)")


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: source directory {os.path.relpath(d, ROOT)} is missing")
        for base, _, files in os.walk(d):
            out.extend(os.path.join(base, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def pack():
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for base, _, files in sorted(os.walk(CLASSES)):
            for f in sorted(files):
                full = os.path.join(base, f)
                z.write(full, os.path.relpath(full, CLASSES))
    os.replace(JAR + ".tmp", JAR)


def build():
    """Compile when the sources changed; return (jar path, source digest)."""
    files = sources()
    want = digest(files)
    if os.path.exists(JAR) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return JAR, want
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(STAMP):
        os.remove(STAMP)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "perfbench-sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-encoding", "UTF-8", "-d", CLASSES, "-classpath", jars,
           "@" + argfile]
    print(f"build: compiling {len(files)} Scala files", file=sys.stderr, flush=True)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise SystemExit(f"build: scalac failed with exit code {res.returncode}")
    pack()
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return JAR, want


if __name__ == "__main__":
    print(build()[0])
