#!/usr/bin/env python3
"""Run one workload of the avrospark benchmark.

From the root of a checkout:

    python3 perfbench/run.py --workload codec|ingest --seed N \
        --seconds S --trace 0|1

On first use (or when any source changed) this compiles the library
(src/main/scala) together with the benchmark (perfbench/src) with the Scala
compiler shipped in the Spark distribution's jars, into perfbench/build.
Each run is its own JVM with a local[4] Spark session. The last line of
stdout is the result JSON; with --trace 1 the span file of the run is kept
under perfbench/out.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(HERE, "build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")

WORKLOADS = ("codec", "ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
HEAP = "3g"

# What spark-submit would pass on JDK 17 (see build.sbt).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the sbt build compiles
    against (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        fail("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources():
    out = []
    for base in (LIB_SRC, BENCH_SRC):
        out += sorted(glob.glob(os.path.join(base, "**", "*.scala"),
                                recursive=True))
    return out


def digest(files, jars):
    h = hashlib.sha256()
    for f in files + sorted(os.listdir(jars)):
        h.update(f.encode())
        if os.path.isfile(f):
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; the group is killed on timeout and
    when this script is interrupted or terminated."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        return None, None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build(jars):
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"no library sources under {LIB_SRC}")
    if not os.path.isdir(jars):
        fail(f"no Spark jars at {jars} (set SPARK_HOME)")
    files = sources()
    stamp = digest(files, jars)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="classes-", dir=BUILD)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + files
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        code, _ = run_group(cmd, BUILD_TIMEOUT_S, stdout=log,
                            stderr=subprocess.STDOUT)
    if code != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"build failed, see {os.path.join(BUILD, 'build.log')}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    jars = spark_jars()
    build(jars)

    os.makedirs(os.path.join(HERE, "work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-",
                            dir=os.path.join(HERE, "work"))
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-XX:-UsePerfData"] +
           [x for p in ADD_OPENS
            for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Duser.timezone=UTC",
            "-cp", CLASSES + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work])
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep scratch in
    # the checkout; bind to loopback only
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               SPARK_LOCAL_IP="127.0.0.1")
    log_path = os.path.join(work, "jvm.log")
    try:
        with open(log_path, "w") as log:
            code, out = run_group(cmd, RUN_TIMEOUT_S, stdout=subprocess.PIPE,
                                  stderr=log, text=True, env=env)
        result = None
        for line in reversed((out or "").splitlines()):
            try:
                result = json.loads(line)
                break
            except ValueError:
                continue
        if code != 0 or not isinstance(result, dict):
            with open(log_path) as log:
                sys.stderr.write("".join(log.readlines()[-40:]))
            fail("timed out" if code is None else f"JVM exited with {code}")
        with open(log_path) as log:
            sys.stderr.write("".join(l for l in log if l.startswith(
                ("setup:", "ingest ", "CHECK", "codec ", "dedup:"))))
        traces = glob.glob(os.path.join(work, "out", "*"))
        if traces:
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            for t in traces:
                shutil.move(t, os.path.join(HERE, "out", os.path.basename(t)))
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
