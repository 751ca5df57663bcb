#!/usr/bin/env python3
"""Benchmark of graft: one workload per call, result JSON as the last line.

    python3 benchmark/run.py --workload interactive|ingest \
        --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first call builds graft and
the benchmark code with sbt into .bench_build/. Inputs: the sf0.1
tables in $GRAFT_BENCH_SF_DIR (default ~/testdata/sf0.1). See README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("interactive", "ingest")
RUN_TIMEOUT_S = 170
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("run.py: set SPARK_HOME to a Spark distribution with a jars/ directory")
    return home


def source_signature():
    h = hashlib.sha1()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) if "target" not in d for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


CHILDREN = []


def kill_children(*_):
    """Kills every child process group and waits for it to end."""
    for proc in CHILDREN:
        if proc.poll() is None:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()


def on_signal(signum, _frame):
    kill_children()
    sys.exit(128 + signum)


def spawn(cmd, cwd, env, stdout, stderr):
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                            start_new_session=True)
    CHILDREN.append(proc)
    return proc


def run_checked(cmd, cwd, env, timeout, what):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = spawn(cmd, cwd, env, subprocess.PIPE, subprocess.STDOUT)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill_children()
        sys.exit(f"run.py: {what} timed out after {timeout}s")
    if proc.returncode != 0:
        sys.stderr.write(out.decode(errors="replace")[-4000:])
        sys.exit(f"run.py: {what} failed with exit code {proc.returncode}")
    return out.decode(errors="replace")


def build(env):
    """Compiles graft plus the benchmark code with sbt; returns the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    sig = source_signature()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == sig:
                with open(cp_file) as f:
                    return f.read().strip()
    log("building graft and the benchmark code with sbt")
    out = run_checked(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                       "export Runtime/fullClasspath"], HERE, env, 840, "sbt build")
    cp = [l for l in out.splitlines() if l.strip() and not l.startswith("[")][-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(sig)
    return cp


def java_cmd(cp, tmp, main, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, f"-Xmx{HEAP}", "-XX:-UsePerfData", *opens,
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, main, *args]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, on_signal)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("run.py: no graft sources (src/main/scala/graft) next to the benchmark")
    sf = os.environ.get("GRAFT_BENCH_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
    if not os.path.isfile(os.path.join(sf, "lineitem.parquet")):
        sys.exit(f"run.py: no sf0.1 tables at {sf} (set GRAFT_BENCH_SF_DIR)")

    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.pop("SPARK_GRAFT_ONLY", None)
    cp = build(env)

    run_dir = os.path.join(BUILD, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    trace_file = os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.jsonl")
    log_file = os.path.join(BUILD, "logs", f"{a.workload}-{a.seed}-t{a.trace}.log")
    os.makedirs(os.path.dirname(log_file), exist_ok=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--sf", sf,
            "--work-dir", os.path.join(run_dir, "work"), "--trace-file", trace_file]
    with open(log_file, "wb") as err:
        proc = spawn(java_cmd(cp, tmp, "graftbench.Main", args), ROOT, env, subprocess.PIPE, err)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            kill_children()
            shutil.rmtree(run_dir, ignore_errors=True)
            sys.exit(f"run.py: run exceeded {RUN_TIMEOUT_S}s; log in {log_file}")
    shutil.rmtree(run_dir, ignore_errors=True)
    with open(log_file, errors="replace") as f:
        for line in f:
            if line.startswith("[graftbench]"):
                sys.stderr.write(line)
    results = [l[len("GRAFTBENCH_RESULT "):] for l in out.decode(errors="replace").splitlines()
               if l.startswith("GRAFTBENCH_RESULT ")]
    if proc.returncode != 0 or not results:
        sys.exit(f"run.py: benchmark JVM exited {proc.returncode} without a result; log in {log_file}")
    result = json.loads(results[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
