#!/usr/bin/env python3
"""Runs one benchmark workload of the box-office pipeline and prints its
result as the last line of standard output.

  python3 perfbench/run.py --workload nightly|backfill --seed N \\
      --seconds S --trace 0|1
  python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run compiles the program and the
benchmark (perfbench/build.py). Every run works in its own directory under
.bench_build/ (temp files, Spark warehouse, model state) and removes it on
exit. The operator board's outputs (in the backfill workload) are checked against DuckDB after the
JVM ends (perfbench/oracle.py).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402
import oracle  # noqa: E402

JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def commit():
    try:
        out = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def java_cmd(classes, work, main, args):
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
            # C1 only, with the code cache size the default tiered JIT gets: C1's
            # own default (48 MB) fills up here and its sweeper then takes cores
            # in the middle of the timed window (perfbench/README.md, "The JIT")
            ["-Xmx3g", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
             f"-Djava.io.tmpdir={work}/tmp",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-cp", f"{classes}:{os.path.join(build.spark_jars(), '*')}", main] + args)


def run_jvm(cmd, env):
    """Runs the JVM in its own process group; returns (exit code, stdout lines)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True, env=env)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        return proc.returncode, out.splitlines()
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {JVM_TIMEOUT_S}s, stopped", file=sys.stderr)
        return 124, []
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()


def board_checked(result_line, out_dir, threads):
    """The result line, with every operation counted as failed when a board
    query's output differs from its oracle (every pass computes the same
    outputs)."""
    result = json.loads(result_line)
    bad, secs = oracle.check(out_dir, threads)
    for b in bad:
        print(f"[perfbench] FAILED oracle check: {b}", file=sys.stderr)
    print("# perfbench oracle " + json.dumps({"oracle_s": secs, "mismatches": bad}))
    if bad:
        result["correct"] = False
        result["failed"] = result["attempted"]
    return json.dumps(result)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["nightly", "backfill"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    load1 = open("/proc/loadavg").read().split()[0]
    classes = build.ensure_built()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(build.BUILD, f"run-{os.getpid()}-{int(time.time())}")
    os.makedirs(os.path.join(work, "tmp"))
    # Spark prefers SPARK_LOCAL_DIRS to spark.local.dir; keep both in the run dir
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        if a.selftest:
            code, lines = run_jvm(java_cmd(classes, work, "perfbench.SelfTest",
                                           ["--work", work, "--cores", str(cores)]), env)
            print("\n".join(lines))
            ok = oracle.selftest()
            print(f"{'ok  ' if ok else 'FAIL'} oracle comparison ignores row order, not values")
            return code or (0 if ok else 1)
        code, lines = run_jvm(java_cmd(classes, work, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--cores", str(cores),
            "--commit", commit(), "--load1", load1]), env)
        if code != 0 or not lines or not lines[-1].startswith('{"correct"'):
            print("\n".join(lines), file=sys.stderr)
            print(f"perfbench: run failed (exit {code})", file=sys.stderr)
            return code or 1
        if a.workload == "backfill":
            lines[-1] = board_checked(lines[-1], os.path.join(work, "board_out"), cores)
        print("\n".join(lines))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
