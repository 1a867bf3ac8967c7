#!/usr/bin/env python3
"""Run one measurement of the repository benchmark.

    python3 perfbench/run.py --workload daily_revalidate --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark program from source with sbt (output under `.bench_build/`,
`target/` and `perfbench/target/`); later runs reuse that build while the
sources are unchanged. The first run after a build also writes a JVM
class-data archive there, which later runs map to start faster. Each run works in a fresh directory under
`.bench_out/` and removes it afterwards. The last line of standard output
is the result as one JSON object; lines before it starting with `#` are
the environment stamp and every metric in readable form.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# A class-data-sharing archive of the classes a run loads, written by the
# first run after a build and mapped by every later one: it takes JVM and
# Spark class loading (about 5 s of a run) out of the cold start.
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("full_diff", "daily_revalidate", "curated_feed")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700
HEAP = "3g"
# Bounded helper threads: with G1's concurrent marking and three JIT threads
# the JVM kept about three of four cores busy, so any other load on the host
# stretched the ops (2.1x under two busy neighbour processes, against 1.2x
# with these flags). Each op compiles generated code afresh, so the JIT and
# the collector never go quiet.
JVM_FLAGS = ["-XX:+UseParallelGC", "-XX:ParallelGCThreads=2", "-XX:CICompilerCount=2"]
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, limit_s, **kw):
    """Run cmd in its own process group; kill the group at the limit."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {limit_s} s and was stopped")
    return p.returncode, out


def classpath():
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    # the build resolves only what the local caches hold: never the network
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    rc, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "-Dsbt.server.autostart=false", "export perfbench/Runtime/fullClasspathAsJars"],
        BUILD_LIMIT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {rc})")
    os.makedirs(BUILD, exist_ok=True)
    # a class-data archive holds classes of the old jars: drop it
    for f in (ARCHIVE, ARCHIVE + ".tmp"):
        if os.path.exists(f):
            os.remove(f)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a checkout of the engine")

    cp = classpath()
    started = time.monotonic()
    # two task slots: the workloads are bound by fixed per-job costs, and
    # the JVM's compiler and collector threads keep cores of their own
    cores = min(2, len(os.sched_getaffinity(0)))
    work = os.path.join(ROOT, ".bench_out", f"run_{a.workload}_{a.seed}_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    if os.path.exists(ARCHIVE):
        cds = [f"-XX:SharedArchiveFile={ARCHIVE}"]
    else:
        cds = [f"-XX:ArchiveClassesAtExit={ARCHIVE}.tmp"]
    # no hsperfdata file: the JVM writes nothing outside the checkout; no
    # JVM log lines (class-data warnings) on stdout, which ends in the result
    cmd = [java, f"-Xmx{HEAP}", *JVM_FLAGS, "-XX:-UsePerfData", "-Xlog:disable", *cds, *opens,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.callstack.depth=200",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--root", ROOT, "--work", work, "--cores", str(cores)]
    try:
        rc, out = run_bounded(cmd, RUN_LIMIT_S - (time.monotonic() - started),
                              cwd=ROOT, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc == 0 and os.path.exists(ARCHIVE + ".tmp"):
        os.replace(ARCHIVE + ".tmp", ARCHIVE)
    lines = out.splitlines()
    if rc != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write("".join(l + "\n" for l in lines if l.startswith("#")))
        fail(f"benchmark exited with {rc} and no result")
    sys.stdout.write(out if out.endswith("\n") else out + "\n")


if __name__ == "__main__":
    main()
