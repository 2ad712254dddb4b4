#!/usr/bin/env python3
"""Build file of the benchmark's JVM side.

Compiles the engine (`src/main/scala`) together with the benchmark's
own Scala sources (`perfbench/src`) into `.bench_build/perfbench/classes`
with the Scala compiler that ships in the Spark distribution's `jars`
directory (found through `SPARK_HOME`, else through `spark-submit` on
the PATH). Nothing is fetched and nothing is written outside the
checkout. The compile is skipped when a digest of every source file
matches the one recorded by the last successful build.

Usage, from the repository root: `python3 perfbench/build.py`
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = os.path.join(".bench_build", "perfbench")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.digest")
ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


class BuildError(RuntimeError):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    if not any(f.endswith(os.path.join("graft", "SparkEntry.scala")) for f in files):
        raise BuildError(f"engine sources not found under {ENGINE_SRC}")
    return files + sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns the classes directory, compiling first if it is stale."""
    jars = spark_jars()
    files = sources()
    want = digest(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return CLASSES
    compiler = glob.glob(os.path.join(jars, "scala-compiler-*.jar"))
    if not compiler:
        raise BuildError(f"no scala-compiler jar in {jars}")
    version = os.path.basename(compiler[0])[len("scala-compiler-"):-len(".jar")]
    tool_cp = os.pathsep.join(os.path.join(jars, f"scala-{p}-{version}.jar")
                              for p in ("compiler", "library", "reflect"))
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", tool_cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    with open(STAMP, "w") as fh:
        fh.write(want)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
