"""Build file of the sync benchmark.

Compiles the engine's main sources (`src/main/scala`) together with the
benchmark's own sources (`perfbench/src`) with the Scala compiler that ships
in Spark's jar directory, into `.bench_build/perfbench/classes` of the
checkout. A stamp of the source contents skips the compile when nothing
changed. Run it directly to build: `python3 perfbench/build.py`.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the `jars` beside the
    first `spark-submit` on PATH whose distribution ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        if glob.glob(os.path.join(home, "jars", "scala-compiler-2.13.*.jar")):
            return os.path.join(home, "jars")
    sys.exit("perfbench: no Spark distribution with Scala 2.13 found; set SPARK_HOME")


def classpath():
    """Runtime class path: the compiled classes, the engine's resources, Spark."""
    return os.pathsep.join([CLASSES, RESOURCES, os.path.join(spark_jars(), "*")])


def sources():
    found = []
    for base in (MAIN_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(srcs):
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(" ".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()


def ensure_built():
    """Compile if the sources changed since the last build; exit non-zero when
    the engine's sources or the compiler are missing, or the compile fails."""
    if not os.path.isdir(MAIN_SRC) or not os.path.isdir(RESOURCES):
        sys.exit("perfbench: engine sources not found under src/main; "
                 "run from the root of a full checkout")
    jars = spark_jars()
    compiler = {name: glob.glob(os.path.join(jars, f"scala-{name}-2.13.*.jar"))
                for name in ("compiler", "library", "reflect")}
    if not all(compiler.values()):
        sys.exit(f"perfbench: no Scala 2.13 compiler in {jars}")
    srcs = sources()
    want = stamp(srcs)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == want:
                return
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    tool_cp = os.pathsep.join(c[0] for c in compiler.values())
    cmd = ["java", "-Xss16m", "-Xmx3g", "-XX:-UsePerfData", "-cp", tool_cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("perfbench: compile failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(want + "\n")


if __name__ == "__main__":
    ensure_built()
