#!/usr/bin/env python3
"""Benchmark of the online invoice-anomaly pipeline (apps/Pipeline).

Run from the root of a checkout:

    python3 perfbench/run.py --workload stream_small --seed 1 --seconds 18 --trace 0

Builds the engine and the harness from source on first use (sbt, offline,
into perfbench/target), then runs one workload in one JVM and prints one
JSON line last: {"correct", "attempted", "failed", "metrics"}. `--trace 1`
prints the per-layer metrics instead of the end-to-end ones. A side file
with samples, input properties and per-drain layer rows is written to
perfbench/out/. Exits non-zero when the build, the run or an output check
fails.

    python3 perfbench/run.py --self-test

runs the harness self-tests, including a planted fault the output checks
must catch. `--master local[1]` gives the single-core baseline.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
OUT = os.path.join(BENCH, "out")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
STAMP = os.path.join(TARGET, "perfbench-sources.sha1")
MODELS = os.path.join(TARGET, "models")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
WORKLOADS = ("stream_small", "stream_large")

SBT_FLAGS = ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config="
             + os.path.expanduser("~/.sbt/repositories"), "-Dsbt.offline=true",
             "-Dsbt.log.noformat=true"]

# Spark 4 on JDK 17 outside spark-submit needs these (the root build.sbt
# passes the same list to forked runs).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Hash of every input of the build, so a changed tree is rebuilt."""
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    h = hashlib.sha1()
    for p in sorted(files):
        h.update(p.encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark distribution whose jars the engine compiles against: the
    first `spark-submit` on PATH that sits beside a `jars` directory."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
            if os.path.isdir(os.path.join(home, "jars")):
                return home
    raise SystemExit(log("no Spark distribution found: set SPARK_HOME") or 2)


def build():
    """Compile engine + harness and fit the models, once per source state;
    returns the classpath."""
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    if shutil.which("sbt") is None:
        raise SystemExit(log("sbt not found") or 2)
    log("building engine and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        env["SPARK_HOME"] = spark_home()
    proc = subprocess.run(
        ["sbt", "--batch", *SBT_FLAGS, "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_LIMIT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit(log("build failed") or 2)
    classpath = lines[-1]
    # the models every run scores with: the program's own training code
    # over a fixed training split, fitted once per build
    shutil.rmtree(MODELS, ignore_errors=True)
    work = os.path.join(OUT, f"fit-{os.getpid()}")
    try:
        code, _ = java(classpath, "perfbench.Main",
                       ["--fit-models", MODELS, "--work", work], BUILD_LIMIT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        raise SystemExit(log(f"model fit failed (exit {code})") or 2)
    with open(CLASSPATH, "w") as f:
        f.write(classpath)
    with open(STAMP, "w") as f:
        f.write(digest)
    return classpath


def java(classpath, main, args, limit_s):
    """Run one JVM to completion or kill its whole process group."""
    cmd = ["java", "-Xmx3g", "-Xss4m", *ADD_OPENS, "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}", "-cp", classpath, main, *args]
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        log(f"{main} exceeded {limit_s:.0f} s and was killed")
        return 3, ""
    finally:
        # on a timeout or a signal, take the JVM down too
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def run_workload(classpath, a, limit_s):
    """Returns (exit code, result dict or None)."""
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(OUT, f"work-{os.getpid()}")
    side = os.path.join(OUT, f"{tag}.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--side", side, "--models", MODELS,
            "--master", a.master]
    if a.fault:
        args += ["--fault", a.fault]
    try:
        code, out = java(classpath, "perfbench.Main", args, limit_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in out.splitlines():
        if line.startswith("{") and '"correct"' in line:
            result = line
        elif line.strip():
            print(line, file=sys.stderr)
    return code, (json.loads(result) if result else None), result


def self_test(classpath, started):
    code, out = java(classpath, "perfbench.SelfTest", [], 120)
    sys.stderr.write(out)
    ok = code == 0
    fault = argparse.Namespace(workload="stream_small", seed=1, seconds=5, trace=0,
                               master="local[4]", fault="threshold0")
    fcode, result, _ = run_workload(classpath, fault,
                                    RUN_LIMIT_S - (time.monotonic() - started))
    caught = fcode == 1 and result is not None and not result["correct"] \
        and result["failed"] >= 1
    log(f"planted fault (threshold file 0.0): "
        f"{'caught' if caught else 'NOT caught'} (exit {fcode}, result {result})")
    return 0 if ok and caught else 1


def main():
    started = time.monotonic()
    # SIGTERM unwinds like an exception, so no JVM outlives this process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--master", default="local[4]")
    p.add_argument("--fault", choices=("threshold0",))
    p.add_argument("--self-test", action="store_true")
    a = p.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        p.error("--workload, --seed and --seconds are required")
    if not os.path.isdir(ENGINE_SRC):
        log(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}; "
            "run from the root of a full checkout")
        return 2
    classpath = build()
    if a.self_test:
        return self_test(classpath, time.monotonic())
    code, result, line = run_workload(classpath, a, RUN_LIMIT_S)
    if result is None:
        log(f"run produced no result (exit {code})")
        return code or 1
    print(line, flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
