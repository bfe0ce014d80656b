#!/usr/bin/env python3
"""Benchmark entry point for the CDC engine.

Builds the engine sources (src/main/scala) together with the benchmark
sources (perfbench/src) using the Scala compiler that ships with Spark,
then runs one workload on a fresh JVM and relays its standard output.

    python3 perfbench/run.py --workload cdc_catchup --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

Standard output carries one line per metric (``workload metric value unit``)
and, last, one JSON object with the keys correct/attempted/failed/metrics.
A failed output audit shows as ``"correct": false``; the exit code is 0
whenever a result is printed.
Build logs and Spark logs go to standard error.  Every file the run writes
lives under the build directory (``$CARGO_TARGET_DIR``, default
``.bench_build``) of the checkout it runs in.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
WORKLOADS = ("cdc_catchup", "cdc_live")
RUN_TIMEOUT_S = 170
SELFTEST_TIMEOUT_S = 600

# JDK 17 module opens Spark needs outside spark-submit (the same list the
# project's build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        sys.exit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    if not engine:
        sys.exit("perfbench: engine sources missing (expected src/main/scala)")
    if not bench:
        sys.exit("perfbench: benchmark sources missing (expected perfbench/src)")
    resources = sorted(p for p in glob.glob(os.path.join(ENGINE_RES, "**", "*"), recursive=True)
                       if os.path.isfile(p))
    return engine + bench, resources


def build(build_dir):
    """Compile engine + benchmark once per source state; returns the classes dir."""
    srcs, resources = sources()
    h = hashlib.sha256()
    for p in srcs + resources:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    log(f"compiling {len(srcs)} Scala sources")
    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    jars = spark_jars()
    cp = os.pathsep.join(jars)
    args_file = os.path.join(build_dir, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(f'"{p}"' for p in srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", staging, "-nowarn", "@" + args_file]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: compilation failed ({r.returncode})")
    for p in resources:
        dst = os.path.join(staging, os.path.relpath(p, ENGINE_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def main():
    # a terminated runner still stops its JVM and removes the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload or --selftest is required")

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes = build(build_dir)

    work = os.path.join(build_dir, "work", f"{a.workload or 'selftest'}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    cpus = str(len(os.sched_getaffinity(0)))
    # no hsperfdata file: the JVM would write it outside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes] + spark_jars()), "perfbench.Main",
            "--work", work, "--out", os.path.join(build_dir, "traces"), "--cpus", cpus]
    if a.selftest:
        cmd += ["--selftest"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    proc = subprocess.Popen(cmd, env=env, cwd=work, stdout=subprocess.PIPE, text=True)
    killer = threading.Timer(SELFTEST_TIMEOUT_S if a.selftest else RUN_TIMEOUT_S, proc.kill)
    killer.start()
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
        code = proc.wait()
    finally:
        killer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        log(f"benchmark JVM exited with {code}")
        sys.exit(code)


if __name__ == "__main__":
    main()
