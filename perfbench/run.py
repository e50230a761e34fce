#!/usr/bin/env python3
"""Runs the graft engine benchmark.

    python3 perfbench/run.py --workload <etl_load|ext_ops> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark with sbt (about a minute) and generates the warehouse tables; later
runs reuse both until a source file changes. Each run gets a fresh directory
under .bench_build/perfbench/runs/ (warehouse, Spark scratch, temp files),
which is deleted when the run ends. The last line of stdout is the result
object; see perfbench/README.md.

    python3 perfbench/run.py --selftest   # determinism and check self-test
    python3 perfbench/run.py --record     # re-record expected ext_ops outputs
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(BENCH, "target", "perfbench-classpath.txt")
STAMP = os.path.join(WORK, "build.stamp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
HEAP = "4g"
WORKLOADS = ("etl_load", "ext_ops")

# Spark on JDK 17 outside spark-submit needs these (the root build.sbt
# passes the same list to forked runs and tests)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

_children = []


def _stop_children(*_):
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    sys.exit(3)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """Hash of every file the build reads: the engine's and the benchmark's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, cwd, timeout, stdout, stderr, env=None):
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr, env=env,
                         start_new_session=True)
    _children.append(p)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        _children.remove(p)
    return p.returncode


def build():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources not found ({need} is missing next to perfbench/)")
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                         BENCH, BUILD_TIMEOUT_S, fh, subprocess.STDOUT, env)
    if code != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"build failed (exit {code}); full log in {log}")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def revision():
    try:
        # the ceiling keeps git from taking the revision of an enclosing repository
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
        out = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10, env=env)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def java(main, run_dir, args):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    for sub in ("tmp", "warehouse", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xmx{HEAP}",
        # a fixed set of JIT compiler threads, so that their CPU time can be
        # read per thread and left out of pass_cpu_s
        "-XX:-UseDynamicNumberOfCompilerThreads",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dderby.system.home={run_dir}/tmp",
        f"-Dspark.local.dir={run_dir}/local",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
    ]
    return ["java"] + opts + ["-cp", cp, main] + args


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not (a.workload or a.selftest or a.record):
        ap.error("one of --workload, --selftest or --record is required")
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)

    build()
    launch = time.time()
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = os.path.join(WORK, "runs", f"{a.workload or 'selftest'}-{a.seed}-{os.getpid()}")
    common = ["--data-dir", os.path.join(WORK, "data"), "--run-dir", run_dir, "--bench-dir", BENCH]
    if a.selftest:
        jobs = [("perfbench.SelfTest", common)]
    else:
        names = [a.workload] if a.workload else ["ext_ops"]
        jobs = [("perfbench.Main", common + [
            "--workload", w, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--launch-epoch-s", repr(launch),
            "--trace-file", os.path.join(WORK, "traces", f"{w}-{a.seed}.jsonl"),
            "--revision", revision(), "--record", "1" if a.record else "0"]) for w in names]

    code = 0
    for main_class, args in jobs:
        shutil.rmtree(run_dir, ignore_errors=True)
        log = os.path.join(WORK, "last-run.log")
        out = os.path.join(WORK, "last-run.out")
        try:
            with open(out, "w") as so, open(log, "w") as se:
                code = run_child(java(main_class, run_dir, args), ROOT, RUN_TIMEOUT_S, so, se)
            with open(log) as fh:
                for line in fh:
                    if line.startswith("[perfbench]"):
                        sys.stderr.write(line)
            with open(out) as fh:
                sys.stdout.write(fh.read())
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        if code is None:
            fail(f"{main_class} did not finish within {RUN_TIMEOUT_S} s", 3)
        if code != 0:
            print(f"perfbench: {main_class} exited with {code}; JVM log in {log}", file=sys.stderr)
            break
    sys.exit(code)


if __name__ == "__main__":
    main()
