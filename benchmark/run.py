#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its metrics.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source when needed (see build.py), generates the
workload's inputs from the seed, runs the closed loop for about --seconds
in one JVM with one local Spark session, checks every result, and prints a
detail line followed by the result line: one JSON object with `correct`,
`attempted`, `failed` and `metrics`. With --trace 0 the metrics are the
end-to-end ones; with --trace 1 they are the per-layer ones from a traced
pass between two untraced ones (spans, listener task metrics and planning
phases are written to .bench_build/traces/). Exits non-zero without a result line when the
program cannot be built or run.
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
import build  # noqa: E402

WORKLOADS = ("bulk_transfer", "interactive_preview")
JVM_DEADLINE_S = 170        # a run (after any build) must end within 180 s
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpus():
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def driver_mem():
    """SPARK_DRIVER_MEM, else half the machine's memory clamped to 2-8 GiB
    (the same rule as the repository's test command)."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def jvm_cmd(classpath, work, args):
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    return [build.java(), f"-Xmx{driver_mem()}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(work, 'hadoop-tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            *opts, "-cp", classpath, "graftbench.Main", "--work", work, *args]


def run_jvm(cmd, env, log_path, deadline):
    """Run the JVM to completion; return its stdout lines and exit code."""
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    return out.decode("utf-8", "replace").splitlines(), proc.returncode


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs, for the self-test")
    ap.add_argument("--inject-error", type=int, choices=(0, 1), default=0,
                    help="1: each measured pass also issues one operation the program "
                         "must reject, for the self-test")
    a = ap.parse_args()

    try:
        classpath = build.ensure_built()
    except build.BuildError as e:
        print(f"benchmark build failed: {e}", file=sys.stderr)
        return 2
    start = time.monotonic()

    work = os.path.join(build.BUILD_DIR, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "hadoop-tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    log_path = os.path.join(build.BUILD_DIR, f"jvm-{a.workload}-{a.seed}.log")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    deadline = start + JVM_DEADLINE_S
    try:
        steal0, total0 = cpu_ticks()
        launch = time.time_ns()
        lines, rc = run_jvm(jvm_cmd(classpath, work, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--scale", a.scale, "--inject-error", str(a.inject_error),
            "--launch-ns", str(launch)]),
            env, log_path, deadline)
        result = next((json.loads(l[len("RESULT "):]) for l in lines if l.startswith("RESULT ")), None)
        if rc != 0 or result is None:
            raise RuntimeError(f"benchmark JVM exited with {rc} and no result")
        detail = next(json.loads(l[len("DETAIL "):]) for l in lines if l.startswith("DETAIL "))
        detail["wall_s"] = time.monotonic() - start
        steal1, total1 = cpu_ticks()
        # CPU time the hypervisor gave to other guests: the host noise floor.
        detail["cpu_steal_pct"] = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    except (RuntimeError, subprocess.TimeoutExpired, StopIteration, ValueError) as e:
        print(f"benchmark run failed: {e}", file=sys.stderr)
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # A TERM from outside unwinds through the finally blocks, which stop the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
