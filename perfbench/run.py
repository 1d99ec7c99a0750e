#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload relational|llm_pipeline|glue_statements \
        --seed N --seconds S --trace 0|1

Builds the repository's main sources together with the benchmark's code
(perfbench/build.sbt, once per source change, into .bench_build/), then
runs one workload in one JVM. The last line of standard output is the
result object; see perfbench/README.md.
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
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "build.stamp")
WORKLOADS = ("relational", "llm_pipeline", "glue_statements")
# The smallest test data of TESTDATA.md: a query costs its fixed per-query
# overhead, which a run of a few seconds can measure on a small host.
SF = "sf0.001"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Module options Spark needs on JDK 17 outside spark-submit (the same
# list as the repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("cannot find the Spark installation: set SPARK_HOME")
    return home


def build(digest, env):
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    print("[perfbench] building (sbt compile)", file=sys.stderr, flush=True)
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true", "compile"]
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S, start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not os.path.isdir(CLASSES):
        fail(f"build failed (exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--trace-out", help="trace file (default .bench_build/trace/<workload>-seed<n>.jsonl)")
    p.add_argument("--conf", action="append", default=[], metavar="K=V",
                   help="override a session conf entry (for layer-diff demonstrations)")
    p.add_argument("--record-golden", action="store_true",
                   help="write the golden row counts and hashes instead of checking them")
    a = p.parse_args()
    # Turn a termination into an exception, so the build or the JVM this
    # script started is stopped on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "build.sbt")):
        if not os.path.exists(need):
            fail(f"not a checkout of the repository: {os.path.relpath(need, ROOT)} is missing")
    data = os.path.join(HERE, "data", SF)
    if a.workload != "glue_statements" and not os.path.isdir(data):
        fail(f"no data directory {os.path.relpath(data, ROOT)}")
    golden = os.path.join(HERE, "golden", f"{a.workload}-{SF}.json")
    if a.workload != "glue_statements" and not a.record_golden and not os.path.exists(golden):
        fail(f"no golden file {os.path.relpath(golden, ROOT)}")

    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    home = spark_jars()
    env["SPARK_HOME"] = home
    digest = source_digest()
    build(digest, env)

    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--data", data, "--work", work,
            "--provenance", f"git_commit={git_commit()}", "--provenance", f"source_digest={digest}",
            "--provenance", f"sf={SF}"]
    if a.workload != "glue_statements":
        if a.record_golden:
            os.makedirs(os.path.dirname(golden), exist_ok=True)
            args += ["--record-golden", golden]
        else:
            args += ["--golden", golden]
    if a.trace == "1":
        args += ["--trace-out", a.trace_out or os.path.join(
            BUILD, "trace", f"{a.workload}-seed{a.seed}.jsonl")]
    for kv in a.conf:
        args += ["--conf", kv]
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", f"{CLASSES}{os.pathsep}{os.path.join(home, 'jars', '*')}", "perfbench.Main"]
           + args)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = 3
        print("[perfbench] run timed out", file=sys.stderr)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
