#!/usr/bin/env python3
"""Run one benchmark workload against the program's current sources.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark with sbt when their sources changed
(the first run in a fresh checkout), then runs the workload in one JVM.
The JVM's last stdout line, printed after its SparkSession has stopped, is
the JSON result; this script prints it last. A traced run also writes its
spans to .bench_build/traces/<workload>-<seed>.jsonl.

Everything the run writes stays under .bench_build/ in the checkout; the
run's data directory is removed when it ends.
"""
import argparse
import fcntl
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
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("feature_store", "artifacts")
BUILD_TIMEOUT_S = 700
# A run is set-up, warm-up and at least its minimum rounds, then rounds
# until --seconds have passed; the kill timeout grows with --seconds.
RUN_BASE_TIMEOUT_S = 160
HEAP = "2g"

# Spark on JDK 17 needs these outside spark-submit (the program's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# Inputs of the build: when none changed, the last build is reused.
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src/main"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        p = os.path.join(ROOT, rel)
        if not os.path.exists(p):
            h.update(("missing " + rel).encode())
            continue
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout or
    when this script is told to stop."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"[perfbench] stopped by signal {signum}")

    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, stop)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out, err


def classpath():
    """Build if the sources changed; return the runtime classpath."""
    os.makedirs(OUT, exist_ok=True)
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "classpath.stamp")
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.exists(cp_file) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    with open(cp_file) as g:
                        return g.read()
        for rel in ("src/main/scala", "build.sbt"):
            if not os.path.exists(os.path.join(ROOT, rel)):
                raise SystemExit(f"[perfbench] the program's {rel} is missing; nothing to build")
        log("building the program and the benchmark with sbt")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        t0 = time.time()
        code, out, _ = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=None, text=True)
        if code != 0:
            sys.stderr.write(out[-4000:])
            raise SystemExit(f"[perfbench] build failed (exit {code})")
        lines = [l.strip() for l in out.splitlines()
                 if l.strip() and not l.startswith("[") and ".jar" in l]
        if not lines:
            raise SystemExit("[perfbench] build printed no classpath")
        cp = lines[-1]
        log(f"built in {time.time() - t0:.0f} s")
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    cp = classpath()
    work = os.path.join(OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work]
    if a.trace == "1":
        cmd += ["--trace-out", os.path.join(OUT, "traces", f"{a.workload}-{a.seed}.jsonl")]
    timeout = RUN_BASE_TIMEOUT_S + 2 * a.seconds
    try:
        code, out, _ = run_group(cmd, timeout, cwd=work, stdin=subprocess.DEVNULL,
                                 stdout=subprocess.PIPE, stderr=None, text=True)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"[perfbench] run exceeded {timeout} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in out.splitlines():
        if line.startswith('{"correct"'):
            result = line
        else:
            print(line)
    if code != 0 or result is None:
        raise SystemExit(f"[perfbench] workload exited with {code} and {'a' if result else 'no'} result")
    json.loads(result)
    print(result, flush=True)


if __name__ == "__main__":
    main()
