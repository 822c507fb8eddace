#!/usr/bin/env python3
"""Seeded extraction benchmark: build, run one workload, print the result.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload <name> --seed <n> --gen-only

The first call builds the library and the benchmark from source with sbt
(perfbench/build.sbt) and caches the classpath under .bench_build/, keyed by
a hash of every source file; later calls start the JVM directly. The JVM
prints the result JSON as its last stdout line, which this script relays as
its own last line. Inputs, Spark scratch space and traces stay under
.bench_build/; the per-run scratch directory is removed on exit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these opens (the library's
# build passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the library's sources and build, and ours."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for r in (os.path.join(ROOT, "src", "main"), BENCH):
        for d, subdirs, names in os.walk(r):
            # build outputs are not sources; perfbench/project holds build.properties
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project", "__pycache__")
                                or (d == BENCH and s == "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build if the sources changed since the cached build; return the classpath."""
    cache = os.path.join(BUILD, "classpath.json")
    key = stamp()
    if os.path.exists(cache):
        with open(cache) as fh:
            c = json.load(fh)
        if c.get("stamp") == key:
            return c["classpath"]
    print("perfbench: building with sbt", file=sys.stderr)
    t = time.time()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = subprocess.run(
        ["sbt", "--batch", "--no-server", f"-J-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
         "-Dsbt.log.noformat=true", "-error", "export Runtime/fullClasspathAsJars"],
        cwd=BENCH, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = [l.strip() for l in out.stdout.splitlines() if ".jar" in l and os.pathsep in l]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout)
        fail(f"build failed (sbt exit {out.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(cache, "w") as fh:
        json.dump({"stamp": key, "classpath": lines[-1]}, fh)
    print(f"perfbench: built in {time.time() - t:.1f}s", file=sys.stderr)
    return lines[-1]


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", choices=["0", "1"], default="0")
    p.add_argument("--gen-only", action="store_true",
                   help="write the input under .bench_build/inputs, print its fingerprint, exit")
    a = p.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the repository root: the library sources (build.sbt, src/main) are missing")
    spec = os.path.join(BENCH, "workloads.json")
    with open(spec) as fh:
        if a.workload not in json.load(fh)["workloads"]:
            fail(f"unknown workload {a.workload!r}")

    cp = classpath()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xlog:disable", "-Xlog:all=error:stderr", "-XX:-UsePerfData",
           f"-Xmx{HEAP}", f"-Xms{HEAP}",
           "-Dfile.encoding=UTF-8",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--cpus", str(cpus), "--spec", spec, "--work", work,
            "--trace-out", os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json")]
    if a.gen_only:
        inputs = os.path.join(BUILD, "inputs", f"{a.workload}-seed{a.seed}")
        cmd += ["--gen-only", "--input", inputs]
        print(f"perfbench: writing the input to {inputs}", file=sys.stderr)
    # the library's development knobs must not change what is measured
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            env=env, cwd=ROOT, start_new_session=True)
    # a watchdog kills the JVM's whole process group if it overruns
    timer = threading.Timer(RUN_TIMEOUT_S, os.killpg, (proc.pid, signal.SIGKILL))
    timer.start()
    result = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith('{"correct"'):
                result = line
            elif line.strip():
                print(line, flush=True)
        code = proc.wait()
    except KeyboardInterrupt:
        os.killpg(proc.pid, signal.SIGKILL)
        code = proc.wait()
    finally:
        timed_out = not timer.is_alive() and code == -signal.SIGKILL
        timer.cancel()
        shutil.rmtree(work, ignore_errors=True)
    if timed_out:
        fail(f"run exceeded {RUN_TIMEOUT_S}s", 3)
    if code != 0:
        fail(f"benchmark JVM exited with {code}", code if code > 0 else 1)
    if a.gen_only:
        return
    try:
        assert set(json.loads(result)) == {"correct", "attempted", "failed", "metrics"}
    except Exception:
        fail("the benchmark printed no result line", 4)
    print(result, flush=True)


if __name__ == "__main__":
    main()
