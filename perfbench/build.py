"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's own Scala sources (`perfbench/scala`) into one class
directory with the Scala compiler that ships in Spark's jar directory.
No sbt and no dependency resolution: the only classpath is Spark's jars.

The build is skipped when a stamp of every source file's content matches
the previous build.

Usage: python3 perfbench/build.py [build_dir]   (default: .bench_build)
"""

import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala")]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("perfbench build: Spark jars not found (set SPARK_HOME)")
    return jars


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench build: missing source directory {os.path.relpath(d, ROOT)}")
        for dirpath, _, files in os.walk(d):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(build_dir=os.path.join(ROOT, ".bench_build")):
    """Compile if needed; returns the classpath string to run with."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.stamp")
    classpath = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classpath
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", classes, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise SystemExit("perfbench build: compilation failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath


if __name__ == "__main__":
    print(build(*sys.argv[1:]))
