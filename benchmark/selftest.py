#!/usr/bin/env python3
"""Self-test of the benchmark, at tiny scale (two to four minutes).

    python3 benchmark/selftest.py

Checks that BENCHMARK.json keeps to its format; runs every workload once
untraced and once traced with tiny inputs, and asserts that each run
passes all its checks and prints exactly the metrics BENCHMARK.json names,
with their units, as finite numbers, and that a traced run reports a
non-zero value for every layer its workload calls; runs every workload
once with an operation the program must reject, and asserts that the
error is counted as a failure; and checks that the command fails without
a result in a directory that holds only the benchmark (no program sources
to build).
"""

import json
import math
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The per-layer metrics each workload must move (the rest may read 0).
EXERCISED = {
    "bulk_transfer": [
        "csvsource.sniff_ms", "csvsource.stage_ms", "csvsource.bytes_read",
        "sinks.write_ms", "sinks.bytes_written_per_input_byte", "sinks.files_written",
        "dedup.near_dups_ms", "dedup.pairs_found_per_planted", "functions.signature_ms",
        "spark.plan_ms", "spark.jobs_per_op", "spark.tasks_per_op", "spark.executor_run_ms",
        "spark.executor_cpu_ms", "spark.shuffle_bytes"],
    "interactive_preview": [
        "csvsource.sniff_ms", "csvsource.bytes_read", "catalog.list_ms", "catalog.describe_ms",
        "ops.page_ms", "ops.count_ms", "ops.join_page_ms", "ops.rows_read_per_row_returned",
        "similarity.fit_ms", "similarity.probe_ms", "similarity.rows_scanned_per_query",
        "similarity.recall_at_10", "spark.plan_ms", "spark.jobs_per_op", "spark.tasks_per_op",
        "spark.storage_mb_after_op"],
}

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_spec(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= len(spec["paths"]) <= 16 and 1 <= len(spec["command"]) <= 32
    assert 1 <= spec["run_seconds"] <= 60 and isinstance(spec["run_seconds"], int)
    assert 2 <= len(spec["workloads"]) <= 8
    names = []
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"], w
        names.append(w["name"])
    assert 1 <= len(spec["end_to_end"]) <= 16 and 1 <= len(spec["per_layer"]) <= 128
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25, m
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}, m
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher"), m
        names.append(m["name"])
    assert all(NAME.match(n) for n in names) and len(names) == len(set(names)), names
    assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
               for m in spec["end_to_end"])


def result_of(spec, workload, trace, *extra):
    cmd = spec["command"] + ["--workload", workload, "--seed", "7", "--seconds", "2",
                             "--trace", str(trace), "--scale", "tiny", *extra]
    done = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert done.returncode == 0, done.stderr[-3000:]
    result = json.loads(done.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    return result


def run(spec, workload, trace):
    result = result_of(spec, workload, trace)
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1, result
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in wanted], list(result["metrics"])
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m, got)
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"]), (m, got)
        if not trace:
            assert got["value"] > 0, (m, got)
    if trace:
        zero = [n for n in EXERCISED[workload] if not result["metrics"][n]["value"] > 0]
        assert not zero, f"{workload}: layer metrics read 0: {zero}"
    print(f"ok  {workload} trace={trace}: {result['attempted']} checked operations")


def error_counts(spec, workload):
    result = result_of(spec, workload, 0, "--inject-error", "1")
    assert result["correct"] is False and result["failed"] == 1, result
    print(f"ok  {workload}: an operation the program rejects counts as failed")


def bare_directory_fails(spec):
    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    try:
        done = subprocess.run(spec["command"] + ["--workload", spec["workloads"][0]["name"],
                                                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                              cwd=bare, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert done.returncode != 0 and not done.stdout.strip(), (done.returncode, done.stdout)
    print("ok  fails without a result when there is no program to build")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_spec(spec)
    print("ok  BENCHMARK.json format")
    for w in spec["workloads"]:
        for trace in (0, 1):
            run(spec, w["name"], trace)
        error_counts(spec, w["name"])
    bare_directory_fails(spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
