#!/usr/bin/env python3
"""Run one perfbench workload against the graft checkout it sits in.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark from source on first use (perfbench/build.py),
then starts one JVM running Spark local[nproc] that generates the seeded
corpus, sets up, measures for --seconds and checks every output. With
--trace 0 the last stdout line is a JSON object holding the end-to-end
metrics; with --trace 1 it holds the per-layer metrics of a traced run (a
fixed number of ops, whatever --seconds says), and the span trace is
written to <build dir>/traces/. Exits non-zero, without a
result line, when the build, the run or its output checks break down.

    python3 perfbench/run.py --check gen       # generator determinism tests
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402  (perfbench/build.py)

WORKLOADS = ("serve", "ingest", "maintain")
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the set build.sbt
# passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_command(classpath, work, main_args):
    conf = os.path.abspath(os.path.join("perfbench", "conf"))
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    opts += [
        "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:+UseParallelGC",
        "-XX:-UsePerfData",  # no hsperfdata files outside the checkout
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(conf, 'log4j2.properties')}",
        "-Dspark.sql.codegen.cache.maxEntries=8192",
        f"-Dperfbench.work={work}",
    ]
    return ["java"] + opts + ["-cp", classpath, "perfbench.Main"] + main_args


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check", choices=("gen",),
                    help="run a self-check instead of a workload")
    a = ap.parse_args()
    if not a.check and not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join("src", "main", "scala", "graft")):
        sys.exit("perfbench: run from the root of a graft checkout "
                 "(src/main/scala/graft not found)")
    classpath = build.build()
    base = os.path.abspath(build.build_dir())
    work = os.path.join(base, "work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(base, "traces"), exist_ok=True)
    if a.check:
        args = ["--check", a.check]
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--trace-dir", os.path.join(base, "traces")]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # keep Spark's scratch in the work dir
    proc = subprocess.Popen(jvm_command(classpath, work, args), env=env,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: run exceeded {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0:
        sys.stderr.write(out)
        sys.exit(f"perfbench: JVM exited with {proc.returncode}")
    if a.check:
        print(out, end="")
        return
    result = json.loads(lines[-1]) if lines else None
    if not isinstance(result, dict) or set(result) != {
            "correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(out)
        sys.exit("perfbench: the run printed no result line")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
