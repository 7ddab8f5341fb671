"""Build file of the benchmark: compiles the repo's main sources and the
harness under perfbench/harness with the Scala compiler that ships in the
Spark jars directory (see `classpath`), without sbt. The output is cached
under the build directory, keyed by a digest of every source file, so only
the first run in a checkout pays for the build.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import sys

sys.dont_write_bytecode = True

import fcntl
import glob
import hashlib
import os
import re
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not main:
        raise SystemExit("perfbench: no src/main/scala sources in this checkout")
    return main + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def classpath():
    """The Spark jars: $SPARK_HOME/jars, else the `unmanagedBase` directory
    that build.sbt compiles the program against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: SPARK_HOME is unset and build.sbt names no unmanagedBase")
    return os.path.join(m.group(1), "*")


def build():
    """Returns the classes directory, compiling it first if needed."""
    files = sources()
    key = digest(files)
    out = os.path.join(build_dir(), "classes-" + key)
    os.makedirs(build_dir(), exist_ok=True)
    with open(os.path.join(build_dir(), "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, ".done")):
            return out, key
        os.makedirs(out, exist_ok=True)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath(), "scala.tools.nsc.Main",
               "-nowarn", "-d", out, "-classpath", classpath()] + files
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if proc.returncode != 0:
            sys.stderr.write(proc.stdout[-4000:])
            raise SystemExit("perfbench: build failed")
        open(os.path.join(out, ".done"), "w").close()
    return out, key


if __name__ == "__main__":
    print(build()[0])
