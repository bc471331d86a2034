#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload (the three of BENCHMARK.json and tpch_sf1x) at the
tiny sizes (sf0.001 TPC-H, a few thousand ETL rows, one batch per store
kind), untraced and traced, and asserts that
  - each run prints, as its last line, exactly the keys correct,
    attempted, failed and metrics, with every check passing;
  - untraced runs print every end-to-end metric of BENCHMARK.json and
    traced runs every per-layer metric, each with its unit;
  - a directory holding only BENCHMARK.json and the benchmark's files
    makes the benchmark fail without printing a result.
Takes about five minutes on 4 cores.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_bulk", "tpch_sf1x", "vector_serve", "index_lifecycle")


def run(cwd, *args):
    p = subprocess.run([sys.executable, *args], cwd=cwd, capture_output=True,
                       text=True, timeout=900)
    return p.returncode, p.stdout, p.stderr


def check_run(spec, workload, trace):
    rc, out, err = run(ROOT, "perfbench/run.py", "--workload", workload, "--seed", "1",
                       "--seconds", "1", "--trace", str(trace), "--tiny")
    assert rc == 0, f"{workload} trace {trace}: exit {rc}\n{err[-3000:]}"
    last = json.loads(out.strip().splitlines()[-1])
    assert sorted(last) == ["attempted", "correct", "failed", "metrics"], last.keys()
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1, \
        f"{workload} trace {trace}: {last['failed']} of {last['attempted']} failed\n{err[-3000:]}"
    want = spec["per_layer" if trace else "end_to_end"]
    got = last["metrics"]
    for m in want:
        assert m["name"] in got, f"{workload} trace {trace}: {m['name']} not printed"
        assert got[m["name"]]["unit"] == m["unit"], \
            f"{workload}: {m['name']} unit {got[m['name']]['unit']} != {m['unit']}"
        assert isinstance(got[m["name"]]["value"], float)
        if not trace:
            assert got[m["name"]]["value"] != 0, f"{workload}: {m['name']} is 0"
    print(f"ok  {workload:16s} trace {trace}: {last['attempted']} operations, "
          f"{len(got)} metrics")


def check_bare_directory():
    """Only BENCHMARK.json and the benchmark's own files: must fail."""
    bare = os.path.join(HERE, "work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("work", "target", "__pycache__"))
    try:
        rc, out, _ = run(bare, "perfbench/run.py", "--workload", "etl_bulk", "--seed", "1",
                         "--seconds", "1", "--trace", "0")
        assert rc != 0, "a bare directory must make the benchmark fail"
        assert '"metrics"' not in out, "a failing run must print no result"
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok  bare directory fails without a result")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    listed = [w["name"] for w in spec["workloads"]]
    assert all(w in WORKLOADS for w in listed), listed
    for w in WORKLOADS:
        for trace in (0, 1):
            check_run(spec, w, trace)
    check_bare_directory()
    print("selftest passed")


if __name__ == "__main__":
    main()
