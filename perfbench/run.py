"""Sync benchmark: one workload of the live ES -> explode -> ClickHouse sync.

    python3 perfbench/run.py --workload backfill_skewed|resume_cron \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine and the benchmark from
source (see build.py), then runs `graft.perfbench.SyncBench` in one JVM. The
last line of standard output is the JSON result; the exit code is 0 only when
every round matched the generator. All files the run writes stay under
`.bench_build/` of the checkout.
"""

import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("backfill_skewed", "resume_cron")
# the JVM is stopped if it runs past this; the contract allows 180 s a run
TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these opens (the engine's own
# build passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build.ensure_built()
    work = os.path.join(build.OUT, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # More compiler threads than the JVM's default for 4 CPUs (3): with the
    # default, the compile queue stays backlogged through the first dozen
    # rounds and round times keep falling for about 30 s; with 8 it drains
    # within the warm-up rounds.
    jvm = ["java", "-Xms4g", "-Xmx4g", "-XX:-UsePerfData", "-XX:CICompilerCount=8",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(build.HERE, 'log4j2.properties')}",
           "-cp", build.classpath(), "graft.perfbench.SyncBench",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", work]
    # a stop request ends the JVM too: the finally below runs on SIGTERM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(jvm, cwd=build.ROOT)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: run exceeded {TIMEOUT_S} s, stopped", file=sys.stderr)
        code = 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        # traced runs leave their span file beside the run directory
        for f in os.listdir(work):
            if f.startswith("spans-"):
                shutil.move(os.path.join(work, f), os.path.join(build.OUT, f))
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
