#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's JVM half (perfbench/scala) with the Scala compiler that
ships in Spark's jars directory, into .bench_build/classes.

    python3 perfbench/build.py        # from the root of a checkout

A build whose stamp (a hash of every source file and of the jar list)
matches the one left by the previous build is skipped. The jars come from
$SPARK_HOME/jars, else from the `unmanagedBase` directory named in the
repo's build.sbt.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala")]

# What spark-submit would pass on JDK 17 (Spark's JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def jars_dir():
    """Spark's jars directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars directory: set SPARK_HOME")


def sources():
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise BuildError(f"no program sources under {SOURCE_DIRS[0]}")
    files = []
    for d in SOURCE_DIRS:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def classpath():
    return f"{CLASSES}{os.pathsep}{os.path.join(jars_dir(), '*')}"


def build(log=sys.stderr):
    """Compile if any source changed since the last build; return the classpath."""
    files = sources()
    jars = jars_dir()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath()
    if os.path.exists(CLASSES):
        subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"[build] compiling {len(files)} files", file=log, flush=True)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-encoding", "UTF-8", "-d", CLASSES, "@" + argfile],
        stdout=log, stderr=log, timeout=800)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath()


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
