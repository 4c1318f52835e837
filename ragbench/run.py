#!/usr/bin/env python3
"""Runs one workload of the RAG benchmark and prints its result.

    python3 ragbench/run.py --workload rag_serve --seed 1 --seconds 10 --trace 0
    python3 ragbench/run.py --selftest

Builds the engine and the benchmark first when needed (see build.py), then
runs the workload in one JVM with a local[4] Spark session. Everything the
run writes goes under .bench_work/ in the repository root and is removed at
the end. The last line of standard output is the JSON result; any failure
exits non-zero without printing one.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("rag_serve", "collection_build")
RUN_TIMEOUT_S = 170

JVM_OPTS = [
    "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    f"-Dlog4j2.configurationFile={Path(__file__).resolve().parent / 'log4j2.properties'}",
] + [opt for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for opt in ("--add-opens", f"{p}=ALL-UNNAMED")]


def run_jvm(main_class, args, work, timeout):
    """Runs the class in its own process group; returns (code, stdout lines)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}",
           "-cp", build.classpath(build.spark_jars()), main_class, *args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True,
                            env=env, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"{main_class} timed out after {timeout}s", file=sys.stderr)
        return 124, []
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out.splitlines()


def main():
    # a terminated run still stops its JVM (see the finally in run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    try:
        build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    work = build.ROOT / ".bench_work" / f"{a.workload or 'selftest'}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        if a.selftest:
            code, lines = run_jvm("ragbench.SelfTest", [], work, RUN_TIMEOUT_S)
            print("\n".join(lines))
            return code
        code, lines = run_jvm("ragbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work / "run")], work, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (build.ROOT / ".bench_work").rmdir()
        except OSError:
            pass
    if code != 0 or not lines:
        print("\n".join(lines[-20:]), file=sys.stderr)
        print(f"workload {a.workload} failed (exit {code})", file=sys.stderr)
        return code or 1
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
