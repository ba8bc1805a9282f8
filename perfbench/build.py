#!/usr/bin/env python3
"""Build file of the perfbench package.

Compiles graft (``src/main/scala``) and the benchmark's own sources
(``perfbench/src``) with the Scala compiler that ships in the Spark
distribution's jar directory, so no dependency resolver is needed. Run it
from the root of a graft checkout::

    python3 perfbench/build.py

Outputs go to ``$CARGO_TARGET_DIR`` (default ``.bench_build``): graft's
classes under ``graft-classes/`` and the benchmark's under
``bench-classes/``. Each stage records a digest of its inputs and is
skipped when nothing changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

GRAFT_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


def build_dir():
    return os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


def spark_jars():
    """The Spark distribution's jar directory ($SPARK_HOME/jars, else the
    one beside the spark-submit found on PATH)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark distribution found "
                         "(set SPARK_HOME)")
    return jars


def scala_files(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_stage(name, files, classpath, out, upstream=""):
    """Compile `files` into `out` unless the stamp matches; returns the
    stage digest (a later stage passes it as `upstream`)."""
    stamp = out + ".stamp"
    want = digest(files, classpath + upstream)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return want
    jars = spark_jars()
    compiler = os.pathsep.join(
        os.path.join(jars, f"scala-{m}-2.13.17.jar")
        for m in ("compiler", "library", "reflect"))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", out] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compiling {name} failed")
    with open(stamp, "w") as fh:
        fh.write(want)
    print(f"perfbench: compiled {name} ({len(files)} files) in "
          f"{time.time() - t0:.0f} s", file=sys.stderr)
    return want


def build():
    """Compile both stages; return the runtime classpath."""
    graft = scala_files(GRAFT_SRC)
    bench = scala_files(BENCH_SRC)
    if not graft:
        raise SystemExit(f"perfbench: no graft sources under {GRAFT_SRC} "
                         "(run from the root of a graft checkout)")
    if not bench:
        raise SystemExit(f"perfbench: no benchmark sources under {BENCH_SRC}")
    base = os.path.abspath(build_dir())
    jars = os.path.join(spark_jars(), "*")
    graft_out = os.path.join(base, "graft-classes")
    bench_out = os.path.join(base, "bench-classes")
    up = compile_stage("graft", graft, jars, graft_out)
    compile_stage("perfbench", bench,
                  os.pathsep.join([jars, graft_out]), bench_out, up)
    conf = os.path.abspath(os.path.join("perfbench", "conf"))
    return os.pathsep.join([conf, bench_out, graft_out, jars])


if __name__ == "__main__":
    build()
