#!/usr/bin/env python3
"""Search-serving benchmark: one run of one workload.

    python3 searchbench/run.py --workload exact-search --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the library from the
checkout's sources together with the client in searchbench/ (sbt, offline),
into the build directories listed in .gitignore; later runs reuse the build
while no source file changed. The client is a single JVM (Spark local[nproc/2],
one closed-loop client); its last stdout line is the JSON result. With
--trace 1 the per-layer metrics are reported instead of the end-to-end ones
and the spans are kept under .bench_build/traces/.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("exact-search", "cached-churn")
# each run must finish within 180 s; the build (first run only) within 900 s
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"searchbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of every input of the build: library and client sources and build files."""
    h = hashlib.sha1()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, limit, **kw):
    """Run cmd in its own process group; kill the group if it outlives limit."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} exceeded {limit} s")
    return p.returncode, out


def sbt_env():
    """sbt offline, as the repository's own test command runs it, with every
    write kept inside the checkout: global base (with the boot jars), ivy
    home and native-library scratch."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx4g "
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = " ".join([opts,
                                f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
                                f"-Dsbt.ivy.home={os.path.join(BUILD, 'ivy2')}",
                                f"-Djna.tmpdir={tmp}", f"-Djava.io.tmpdir={tmp}",
                                "-Dsbt.server.forcestart=false"])
    return env


def classpath():
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    code, out = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            BUILD_LIMIT_S, cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True)
    if code != 0 or not os.path.exists(cp_file):
        sys.stderr.write(out[-4000:])
        fail("build failed")
    print(f"[searchbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="self-test sizes (seconds, not minutes)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail(f"no library sources under {ROOT}; run from a full checkout")
    cp = classpath()

    work = os.path.join(BUILD, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # as many collector threads as Spark task threads: half the cores (Main.scala)
    gc_threads = max(1, len(os.sched_getaffinity(0)) // 2)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-XX:ParallelGCThreads={gc_threads}",
           f"-Djava.io.tmpdir={work}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}", *opens,
           "-cp", cp, "searchbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--toy", "1" if a.toy else "0", "--work", work]
    try:
        code, out = run_bounded(cmd, RUN_LIMIT_S, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = out.rstrip("\n").split("\n") if out else []
        if a.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            dst = os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")
            shutil.copyfile(os.path.join(work, "spans.jsonl"), dst)
            lines.insert(-1 if lines else 0, f"[searchbench] spans written to {os.path.relpath(dst, ROOT)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not lines:
        fail(f"client exited with {code}")
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        fail("client printed no result line")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result keys {sorted(result)}")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
