#!/usr/bin/env python3
"""Runs one benchmark workload of the daily weather pipeline and the LLM
curation indexes.

    python3 pipebench/run.py --workload wx_daily --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. The first run builds the program and
the benchmark from source with sbt (offline) into the checkout's `target`
directories and caches the resulting classpath under `.bench_build/`;
later runs start the JVM directly. Each run works in its own directory
under `.bench_build/runs/`, removed on every exit path. The full result
(every metric, and the spans of a traced run) is kept in
`.bench_build/results/` for `pipebench/summarize.py`.

The last line of stdout is the result object
`{"correct", "attempted", "failed", "metrics"}`. The exit code is 0 only
when every output check passed.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("wx_daily", "corpus_ingest")
# The JVM's time beyond --seconds: three set-ups, finishing the last cycle
# of operations, the end-of-run checks and starting and stopping the JVM.
# With --seconds 15 a run ends within 170 s, inside three minutes.
RUN_OVERHEAD_S = 155
BUILD_LIMIT_S = 850
# A fixed-size heap with the throughput collector and a fixed young
# generation: the heap does not resize with GC timing, which made timings
# vary from run to run. No performance-data file: the JVM would write it
# under the system's temp directory, outside the checkout.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
MAIN = "graft.pipebench.Main"
# Spark on JDK 17 outside spark-submit needs these (as the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# What the build reads: a change to any of these rebuilds.
BUILD_INPUTS = ("build.sbt", "project/build.properties", "src/main",
                "pipebench/build.sbt", "pipebench/project/build.properties", "pipebench/src/main")


def jvm_env():
    """Spark in local mode on the loopback interface, whatever the host's
    name: without these, Spark looks the host name up at start-up and
    fails where it does not resolve."""
    env = dict(os.environ)
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    env["SPARK_LOCAL_HOSTNAME"] = "localhost"
    return env


def fail(msg, code=2):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint(root):
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        p = os.path.join(root, rel)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath(root, cache_dir):
    """Builds if the sources changed since the cached build; returns the classpath."""
    cache = os.path.join(cache_dir, "classpath.txt")
    fp = fingerprint(root)
    if os.path.isfile(cache):
        with open(cache) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == fp and all(os.path.exists(e) for e in lines[1].split(":")):
            return lines[1]
    print("pipebench: building program and benchmark (sbt, offline)", file=sys.stderr)
    try:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export pipebench/Runtime/fullClasspath"],
            cwd=os.path.join(root, "pipebench"), env=sbt_env(), stdin=subprocess.DEVNULL,
            capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    cps = [l for l in r.stdout.splitlines() if ".jar" in l and ":" in l and " " not in l.strip()]
    if r.returncode != 0 or not cps:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed", 3)
    os.makedirs(cache_dir, exist_ok=True)
    with open(cache, "w") as f:
        f.write(fp + "\n" + cps[-1].strip() + "\n")
    return cps[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    run_limit_s = args.seconds + RUN_OVERHEAD_S
    # a SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    for rel in ("build.sbt", "src/main/scala/graft/weather/Pipeline.scala", "pipebench/build.sbt"):
        if not os.path.isfile(os.path.join(root, rel)):
            fail(f"run from the root of a checkout of the program: {rel} is missing")

    bench_dir = os.path.join(root, ".bench_build")
    cp = classpath(root, os.path.join(bench_dir, "pipebench"))

    run_dir = os.path.join(bench_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(bench_dir, "results")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = (["java"] + JVM_OPTS + [
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, MAIN, "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace, "--root", run_dir, "--out", out])
    proc = subprocess.Popen(cmd, cwd=run_dir, env=jvm_env(), stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=run_limit_s)
    except subprocess.TimeoutExpired:
        stdout = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    if stdout is None:
        fail(f"{args.workload} did not finish within {run_limit_s} s", 3)
    lines = stdout.rstrip("\n").split("\n")
    result = lines[-1] if lines and lines[-1].startswith('{"correct"') else None
    if result is None:
        sys.stdout.write(stdout)
        fail(f"{args.workload} exited with {proc.returncode} and no result", proc.returncode or 4)
    print("\n".join(lines[:-1]))
    print(result, flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
