#!/usr/bin/env python3
"""End-to-end benchmark of the graft anonymization engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload adult_study --seed 42 --seconds 5 --trace 0

The first run builds the engine and the benchmark program, which includes the
engine's Adult test fixture, from source with sbt (perfbench/build.sbt)
and caches the classpath under perfbench/.build; later runs rebuild only when
a source file changed. Each run then starts one JVM (perfbench.Main) that
generates the workload's inputs from the seed, warms up, measures, checks
every output, and prints one JSON result line, which this script re-prints as
the last line of its standard output.
Everything a run writes stays under perfbench/ (.build, .work, .out).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("adult_study", "graph_iterative")
# compiled into the benchmark from the engine's test tree (see build.sbt)
ADULT_FIXTURE = os.path.join("src", "test", "scala", "graft", "pipelines", "AdultFixture.scala")
# Separate limits for the build and for the JVM, so that a slow build never
# shortens the measured run: together they stay under 900 s, and a run
# without a build under 180 s.
BUILD_LIMIT_S = 700
RUN_LIMIT_S = 170
# A fixed-size heap and young generation under the throughput collector:
# the heap's touched pages, and so peak RSS, then follow what the program
# keeps live instead of the collector's sizing heuristics.
JVM_MEMORY = ["-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
              "-Xms3g", "-Xmx3g", "-Xmn2g"]
# Task threads for Spark: half the cores, so that the driver thread, the
# scheduler and the JVM's own GC and JIT threads have cores of their own.
# With a task thread per core, a pass measured the OS scheduler: under two
# busy neighbour threads on 4 cores it slowed 1.6x, against 1.2x with 2
# task threads and the GC and JIT thread caps below, at the same speed
# unloaded. Shuffle partitions and the default parallelism stay at one per
# core, so every plan, job, stage and task count is as on local[nproc].
CPUS = len(os.sched_getaffinity(0))
TASK_THREADS = max(1, CPUS // 2)
JVM_THREADS = [f"-XX:ParallelGCThreads={TASK_THREADS}",
               f"-XX:CICompilerCount={max(2, TASK_THREADS)}"]
# glibc otherwise grows up to 8 malloc arenas per core, as many as the
# JVM's threads happen to touch, which makes native memory vary by run.
JVM_ENV = {"MALLOC_ARENA_MAX": "2"}
# Spark on JDK 17 needs these when started outside spark-submit (the same
# list the engine's own build passes to its forked JVMs).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change requires a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, ADULT_FIXTURE)]
    project = os.path.join(ROOT, "project")
    if os.path.isdir(project):
        files += [os.path.join(project, f) for f in os.listdir(project)
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it. Kills the whole
    group on timeout, or when this script is told to stop."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    previous = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    finally:
        for s, h in previous.items():
            signal.signal(s, h)
    return p.returncode, out


def build():
    """Compiles the engine and the benchmark when sources changed; returns the classpath."""
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    want = stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    with open(os.path.join(BUILD, "sbt.log"), "w") as log:
        rc, out = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BUILD_LIMIT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
            stderr=log, stdin=subprocess.DEVNULL, text=True)
    if rc != 0:
        tail = (out or "").strip().splitlines()[-15:]
        fail("build failed:\n" + "\n".join(tail))
    lines = [l for l in out.splitlines() if l and not l.startswith("[")]
    if not lines or "perfbench" not in lines[-1]:
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(want)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no engine sources next to perfbench/ (expected build.sbt and "
             "src/main/scala/graft at the checkout root)", code=2)
    classpath = build()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    spans = os.path.join(HERE, ".out", f"spans-{tag}.jsonl")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    cmd = [java, *JVM_MEMORY, *JVM_THREADS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--cpus", str(CPUS), "--threads", str(TASK_THREADS),
            "--work", work, "--spans", spans]
    log_path = os.path.join(HERE, ".out", f"jvm-{tag}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    try:
        with open(log_path, "w") as log:
            rc, out = run_group(cmd, RUN_LIMIT_S,
                                cwd=work, env={**os.environ, **JVM_ENV},
                                stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(log_path) as f:
        failures = [l.rstrip() for l in f if l.startswith("[perfbench] FAILED")]
    for l in failures:
        print(l, file=sys.stderr)
    if rc is None:
        fail(f"run exceeded {RUN_LIMIT_S} s; JVM log: {log_path}")
    if rc != 0:
        fail(f"JVM exited with {rc}; log: {log_path}")
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail(f"no JSON result line; log: {log_path}")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result: {lines[-1]}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
