"""Build file of the benchmark: compiles the engine's main sources
(src/main/scala) together with the benchmark's own sources
(perfbench/src) into one class directory, with the Scala compiler that
ships among the Spark jars. No dependency is resolved: the classpath is
the Spark distribution's jars directory, as in the engine's build.sbt.

A build is keyed by a hash of every source file, so an unchanged tree
reuses its classes and an edited one rebuilds.

Usage: python3 perfbench/build.py [build_dir]   (run from the repo root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root="."):
    """The Spark distribution's jars: $SPARK_HOME/jars, else the
    directory the engine's build.sbt names as its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        where = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        where = m.group(1) if m else ""
    jars = sorted(glob.glob(os.path.join(where, "*.jar")))
    if not jars:
        raise SystemExit(f"perfbench: no Spark jars found in '{where}'")
    return jars


def sources(root):
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"perfbench: engine sources not found at {engine}")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    return files


def build(root, build_dir):
    """Return the class directory for the current sources, compiling
    them first if no build of this exact tree exists."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    key = h.hexdigest()[:16]
    out = os.path.join(build_dir, "classes-" + key)
    if os.path.isdir(out):
        return out
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(spark_jars(root))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("perfbench: compile failed")
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    root = os.getcwd()
    print(build(root, os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")))
