#!/usr/bin/env python3
"""Benchmark entry point; run it from the repository root.

    python3 perfbench/run.py --workload pipeline|lookup --seed N \
        --seconds S --trace 0|1

Builds the library and the benchmark program with sbt on first use (the
classpath is cached under perfbench/target and rebuilt when a source file
changes), then runs the benchmark in one JVM with Spark local[k], k <= 4.
The last line of standard output is the result as one JSON object.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "bench-classpath.txt")
STAMP_FILE = os.path.join(TARGET, "bench-sources.sha1")
LIBRARY_MARKER = os.path.join(ROOT, "src", "main", "scala", "graft", "kg", "Pipeline.scala")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def sources_stamp():
    """Hash of every source and build file the classpath depends on."""
    h = hashlib.sha1()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
            os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(env):
    stamp = sources_stamp()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == stamp:
                return
    os.makedirs(TARGET, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    with open(CLASSPATH_FILE, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["pipeline", "lookup"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not os.path.isfile(LIBRARY_MARKER):
        fail("library sources not found next to the benchmark; run from a full checkout")
    # MALLOC_ARENA_MAX bounds the native allocator's per-thread arenas, so
    # that peak RSS does not depend on which threads happened to allocate.
    env = dict(os.environ, SPARK_HOME=spark_home(), MALLOC_ARENA_MAX="2")
    build(env)
    with open(CLASSPATH_FILE) as f:
        classpath = f.read().strip()

    run_id = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    work = os.path.join(TARGET, "runs", run_id)
    tmp = os.path.join(TARGET, "runs", run_id + "-tmp")
    os.makedirs(tmp, exist_ok=True)
    trace_out = os.path.join(TARGET, "traces", f"{a.workload}-seed{a.seed}.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # JVM settings that keep runs steady (README, "JVM settings"): C1 only,
    # so that background JIT compilation does not dominate CPU time; a fixed
    # heap touched at start, so that peak RSS does not follow the collector's
    # timing; two processors (Spark local[2]), so that task threads, driver,
    # compiler and collector do not contend for the cores; Parallel GC, which
    # has no concurrent threads.
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:TieredStopAtLevel=1",
        "-XX:ActiveProcessorCount=2", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work, "--trace-out", trace_out]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    if proc.returncode != 0 or not result:
        sys.stdout.write(out)
        fail(f"benchmark exited with {proc.returncode}")
    for l in lines:
        if l is not result[-1]:
            print(l)
    print(result[-1], flush=True)


if __name__ == "__main__":
    main()
