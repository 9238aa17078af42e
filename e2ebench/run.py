#!/usr/bin/env python3
"""Run one benchmark workload against the library built from this checkout.

    python3 e2ebench/run.py --workload weekly --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. The first run compiles the library
(src/main/scala) together with the benchmark (e2ebench/src) into
.bench_build/ and takes one host-speed calibration reading; later runs
reuse both while the sources are unchanged. The run itself is one JVM at
local[<cores>]; its standard output ends with the one-line JSON result.
Exit code 0 means a result was printed; anything else means none was.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "e2ebench")
RUN_TIMEOUT_S = 170
WORKLOADS = ("weekly", "suite")

# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("no Spark jars: set SPARK_HOME or run from a checkout whose build.sbt names them")


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(lib, "graft")):
        fail(f"library sources not found under {lib}: run from the root of a checkout")
    out = []
    for top in (lib, os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def heap_gb():
    """Half of MemTotal in GiB, clamped to 2..8 (the tier-1 test convention)."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def jvm(jars, classes, heap, work, args, timeout):
    cmd = ["java", f"-Xmx{heap}g", "-Xss8m", "-XX:ReservedCodeCacheSize=1g"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Duser.timezone=UTC",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
        "e2ebench.Main",
    ] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=work, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"JVM did not finish within {timeout} s", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build(jars, files, heap):
    """Compile library + benchmark once per source hash; calibrate once."""
    digest = source_hash(files)
    classes = os.path.join(BUILD, f"classes-{digest}")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(classes):
            tmp = classes + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            t0 = time.time()
            rc = subprocess.call(
                ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
                 "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                 "-classpath", os.path.join(jars, "*")] + files)
            if rc != 0:
                shutil.rmtree(tmp, ignore_errors=True)
                fail(f"compile failed (exit {rc})", 4)
            os.rename(tmp, classes)
            print(f"e2ebench: compiled {len(files)} files in {time.time() - t0:.1f} s",
                  file=sys.stderr)
        calib = os.path.join(classes, "calib.json")
        if not os.path.exists(calib):
            work = os.path.join(BUILD, "work-calibrate")
            os.makedirs(work, exist_ok=True)
            try:
                if jvm(jars, classes, heap, work, ["--calibrate", calib], RUN_TIMEOUT_S) != 0:
                    fail("calibration run failed", 4)
            finally:
                shutil.rmtree(work, ignore_errors=True)
    return classes, digest


def git_rev():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-refs", action="store_true",
                    help="rewrite the suite's reference row counts and digests, then exit")
    a = ap.parse_args()

    files = sources()
    jars = spark_jars()
    heap = heap_gb()
    classes, digest = build(jars, files, heap)
    with open(os.path.join(classes, "calib.json")) as f:
        calib = json.load(f)
    stamp = {"nproc": os.cpu_count(), "heap_g": heap, "source": digest, "git_rev": git_rev(),
             "calib": calib}
    work = os.path.join(ROOT, ".bench_build", "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if a.record_refs:
        args = ["--record-refs", os.path.join(BENCH, "suite_refs.tsv"), "--bench", BENCH]
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--bench", BENCH,
                "--out", os.path.join(ROOT, ".bench_build", "results"),
                "--stamp", json.dumps(stamp, separators=(",", ":"))]
    t0 = time.time()
    try:
        rc = jvm(jars, classes, heap, work, args, RUN_TIMEOUT_S)
    finally:
        t1 = time.time()
        shutil.rmtree(work, ignore_errors=True)
        print(f"e2ebench: jvm {t1 - t0:.1f} s, cleanup {time.time() - t1:.1f} s", file=sys.stderr)
    if rc != 0:
        fail(f"run failed (exit {rc})", rc if rc > 0 else 5)


if __name__ == "__main__":
    main()
