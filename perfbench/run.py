#!/usr/bin/env python3
"""Always-on ETL benchmark for graft: seeded trace replays drained through
sources -> operators -> streaming -> sinks (+ obs) into an in-JVM Derby sink.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
harness with sbt (perfbench/build.sbt) into .bench_build/; later runs reuse
that build while the sources are unchanged. The last stdout line is the JSON
result: {"correct", "attempted", "failed", "metrics"}. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BUILD = ".bench_build"
RUN_TIMEOUT_S = 170
HEAP = "3g"
SBT_OPTS = [
    "-Dsbt.log.noformat=true",
    "-Dsbt.server.autostart=false",
    "-Dsbt.override.build.repos=true",
    "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
    "-Dsbt.offline=true",
]
# what spark-submit would pass on JDK 17 (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src/main"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classpath of an identical tree is there."""
    stamp_file = os.path.join(BUILD, "stamp")
    classpath_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(classpath_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classpath_file
    log("building with sbt (first run in this tree)")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch"] + SBT_OPTS + ["benchClasspath"]
    done = subprocess.run(cmd, cwd="perfbench", env=env, stdout=sys.stderr, stderr=sys.stderr,
                          stdin=subprocess.DEVNULL, timeout=800)
    if done.returncode != 0 or not os.path.exists(classpath_file):
        raise SystemExit("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath_file


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.isdir("src/main/scala/graft") and os.path.isfile("build.sbt")):
        raise SystemExit("no graft sources here: run from the root of a graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    with open(build()) as f:
        classpath = f.read().strip()

    work = os.path.abspath(os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans = os.path.abspath(os.path.join(BUILD, "spans", f"{a.workload}-seed{a.seed}.json"))
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={os.path.abspath(BUILD)}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--spans", spans])
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    # a terminated run takes its JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line)
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"benchmark JVM exited with {proc.returncode}")
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        raise SystemExit("malformed result line: " + lines[-1])
    log(f"run took {time.time() - t0:.1f} s")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
