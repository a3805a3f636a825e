#!/usr/bin/env python3
"""Repository benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from the checkout's sources (once per
source state, into .bench_build/), runs one workload in a fresh JVM on
local[nproc], and prints the result object as the last stdout line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
(spans and layers land in .bench_build/runs/<workload>/).
`python3 perfbench/run.py --test` runs the benchmark's own test suite.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(REPO, "src", "main", "scala")
BUILD = os.path.join(REPO, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
WORKLOADS = ("geo_batch", "geo_service", "snapshot_ingest", "doc_assemble")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every source and build file the classes are built from."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        for d, _, fs in os.walk(root):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose jars the engine compiles and runs on:
    $SPARK_HOME, else the one whose spark-submit is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found: set SPARK_HOME")
    return home


def sbt_env():
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Xmx2g")
    return env


def run_group(cmd, timeout, **kw):
    """Run a command in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    os.makedirs(BUILD, exist_ok=True)
    print("perfbench: building engine + benchmark (sbt compile)", file=sys.stderr)
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], BUILD_TIMEOUT_S,
                   cwd=BENCH, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0:
        fail(f"build failed (sbt exit {rc})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--test", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"no engine sources under {ENGINE_SRC}: run from a full checkout")
    if a.test:
        os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
        sys.exit(run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"], BUILD_TIMEOUT_S,
                           cwd=BENCH, env=sbt_env()))
    if a.workload is None:
        fail("--workload is required")
    build()

    work = os.path.join(BUILD, "runs", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
              "-cp", f"{CLASSES}:{os.path.join(spark_home(), 'jars')}/*", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--dir", work])
    sys.stdout.flush()
    rc = run_group(cmd, RUN_TIMEOUT_S, cwd=REPO)
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        fail(f"workload {a.workload} failed (java exit {rc})")
    with open(result) as fh:
        res = json.load(fh)
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
