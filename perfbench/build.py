#!/usr/bin/env python3
"""Build graft and the benchmark from source, without sbt.

    python3 perfbench/build.py [BUILD_DIR]

Compiles the engine (src/main/scala) together with the benchmark
(perfbench/src) using the Scala compiler that ships among Spark's jars, and
copies the engine's resources next to the classes. The output lands in
BUILD_DIR/classes (default: $CARGO_TARGET_DIR, else .bench_build). A stamp
of every source's content makes a rebuild happen only when a source changed.
Run from the repository root.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ENGINE_SRC = "src/main/scala"
ENGINE_RES = "src/main/resources"
BENCH_SRC = "perfbench/src"


def spark_jars():
    """Spark's jars (the compiler among them): under $SPARK_HOME, else beside
    the first spark-submit on the PATH whose installation has them."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if os.path.isfile(os.path.join(d, "spark-submit")):
            homes.append(os.path.dirname(os.path.realpath(d)))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Spark installation with a Scala compiler among its jars (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def default_build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def sources():
    files = []
    for d in (ENGINE_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    if not any(f.startswith(ENGINE_SRC) for f in files):
        raise SystemExit(f"no engine sources under {ENGINE_SRC}: run from the repository root")
    return sorted(files)


def stamp(files, resources):
    h = hashlib.sha256()
    for f in files + resources:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(build_dir=None):
    """Compile if any source changed; return (classes dir, source stamp)."""
    build_dir = build_dir or default_build_dir()
    files = sources()
    resources = sorted(glob.glob(os.path.join(ENGINE_RES, "*")))
    want = stamp(files, resources)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classes, want
    jars = spark_jars()
    tmp = os.path.join(build_dir, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = [java(), "-Xmx2g", "-Xss16m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp, "@" + argfile]
    print(f"[build] compiling {len(files)} sources into {classes}", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    for r in resources:
        shutil.copy(r, tmp)
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(want)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes, want


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else None)[0])
