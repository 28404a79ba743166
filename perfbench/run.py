#!/usr/bin/env python3
"""Stream benchmark of the CDC pipeline.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the repository's main
sources together with the benchmark's own (sbt, offline) into
$CARGO_TARGET_DIR (default .bench_build); later runs reuse the build while
the sources are unchanged. Each run gets a fresh work directory, deleted
afterwards. The last stdout line is the JSON result. See perfbench/README.md.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("binlog_drain", "lww_backfill", "live_tail", "artifact_churn")
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
            "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")


def fail(msg):
    print("[perfbench] " + msg, file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build depends on, in a fixed order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"), os.path.abspath(__file__)]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, _, fs in sorted(os.walk(r)):
            for f in sorted(fs):
                yield os.path.join(d, f)


def build(build_dir):
    """Compiles with sbt unless the sources hash to the last build's."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no src/main/scala next to the benchmark: run from a full checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(build_dir, "perfbench.stamp")
    classes = os.path.join(build_dir, "perfbench", "scala-2.13", "classes")
    if os.path.isfile(stamp) and open(stamp).read() == h.hexdigest() and os.path.isdir(classes):
        return classes
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS") or SBT_OPTS % os.path.expanduser("~/.sbt/repositories"))
    # temporary files stay inside the checkout
    tmp = os.path.join(build_dir, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    try:
        r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "-Djava.io.tmpdir=" + tmp,
                            "-Djna.tmpdir=" + tmp, "Compile/products"], cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0 or not os.path.isdir(classes):
        fail("build failed")
    os.makedirs(build_dir, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classes


def spark_jars():
    """The Spark jar directory the root build compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if m is None:
        fail("no unmanagedBase in the root build.sbt")
    return m.group(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=("0", "1"))
    ap.add_argument("--cores", type=int, help="Spark task slots (default: min(4, nproc) - 2)")
    ap.add_argument("--selftest", action="store_true", help="only test the benchmark's checkers")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = build(build_dir)
    jars = os.path.join(spark_jars(), "*")
    run_id = "%d-%d" % (os.getpid(), time.time_ns())
    tmp = os.path.join(build_dir, "tmp-" + run_id)
    # a fixed-size heap with a fixed young generation: the resident set
    # then follows what the program keeps, not the collector's sizing
    cmd = ["java", "-XX:-UsePerfData", "-Xms1g", "-Xmx1g", "-Xmn256m", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy", "-XX:ParallelGCThreads=2", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + jars, "graft.perfbench.Main"]
    work = None
    if a.selftest:
        cmd.append("--selftest")
    else:
        work = os.path.join(build_dir, "work-" + run_id)
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", a.trace, "--work", work, "--t0-ms", str(int(time.time() * 1000))]
        if a.cores:
            cmd += ["--cores", str(a.cores)]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", TMPDIR=tmp)
    os.makedirs(tmp)
    p = None
    try:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
        code = p.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print("[perfbench] run exceeded %d s" % DEADLINE_S, file=sys.stderr)
        code = 3
    finally:
        if p is not None and p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        for d in (work, tmp):
            if d:
                shutil.rmtree(d, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
