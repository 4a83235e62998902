#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from the checkout's sources with sbt
on first use (offline), then runs the workload in a fresh JVM with its own
scratch directory, which is deleted at exit. The last line of standard
output is the result as one JSON object; the line before it records the
environment (cores, heap, seed, source digest).
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
WORKLOADS = ("stedi_stream", "cta_stream", "store_ingest", "batch_operators")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [f for f in tops if os.path.isfile(f)]
    for t in trees:
        for d, dirs, names in os.walk(t):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(digest):
    """Compile with sbt unless this exact source is already built; returns
    the classpath."""
    cp_file = os.path.join(BENCH, "target", "bench.classpath")
    stamp = os.path.join(BENCH, "target", "bench.digest")
    if os.path.isfile(cp_file) and os.path.isfile(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as cf:
                    return cf.read().strip()
    if shutil.which("sbt") is None:
        raise RuntimeError("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.override.build.repos=true -Dsbt.offline=true").strip()
    log("building engine and benchmark (sbt, offline)")
    t0 = time.time()
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                   cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                   stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, check=True)
    log(f"build took {time.time() - t0:.1f} s")
    with open(stamp, "w") as fh:
        fh.write(digest)
    with open(cp_file) as cf:
        return cf.read().strip()


def java_cmd(classpath, run_dir):
    """The JVM and its pinned settings; workload arguments follow."""
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(run_dir, "local"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    return [java] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Main",
        "--dir", os.path.join(run_dir, "work"),
        "--expected", os.path.join(BENCH, "expected_batch.json"),
    ]


def java_env(run_dir, cores):
    return dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
                SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))


def clean(run_dir):
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(run_dir))
    except OSError:
        pass


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="Spark local threads (default: the cores this process may use)")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no engine sources next to the benchmark (looked in {ROOT})")
        return 2

    def stop(signum, _frame):
        raise SystemExit(128 + signum)

    # a terminated run still stops its children and deletes its scratch
    signal.signal(signal.SIGTERM, stop)
    digest = source_digest()
    try:
        classpath = build(digest)
    except (OSError, subprocess.SubprocessError, RuntimeError) as e:
        log(f"build failed: {e}")
        return 5
    # a run that had to build gets the build's time on top of its own
    deadline = time.time() + RUN_TIMEOUT_S

    run_dir = os.path.join(ROOT, ".bench_run", f"{os.getpid()}")
    cmd = java_cmd(classpath, run_dir) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace]
    env = java_env(run_dir, args.cores)
    proc = None
    try:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=sys.stderr, stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            log("workload did not finish in time")
            return 3
        lines = [l for l in out.splitlines() if l.strip()]
        if proc.returncode != 0 or not lines:
            log(f"workload exited with code {proc.returncode}")
            return 4
        result = json.loads(lines[-1])
        print(json.dumps({"env": {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": int(args.trace), "cores": args.cores, "heap": HEAP,
            "commit": git_commit(), "source_digest": digest}}))
        print(json.dumps(result))
        return 0
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        clean(run_dir)


if __name__ == "__main__":
    sys.exit(main())
