#!/usr/bin/env python3
"""Per-layer report of traced benchmark runs.

    python3 perfbench/trace_report.py [workload ...]

Reads the results perfbench/run.py keeps under perfbench/work/last/
(`<workload>-trace1.json` from a `--trace 1` run and, for the overhead,
`<workload>-trace0.json` from a `--trace 0` run) and prints for each
workload:
  - every span name with its count, total time and self time (its span
    minus the part of it that its child spans cover), plus the engine
    counts the listener attributed to it;
  - per operation name: latency, Spark jobs, internal jobs (started by
    graft code rather than the benchmark's final action) and driver gap
    (operation wall minus the union of its job intervals);
  - the tracing overhead: ops_per_s untraced against traced.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import timed_spans, union_s  # noqa: E402

LAST = os.path.join(HERE, "work", "last")
WORKLOADS = ("etl_bulk", "tpch_sf1x", "vector_serve", "index_lifecycle")


def clipped_union_ms(intervals, lo, hi):
    return union_s([(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]) * 1e3


def load(workload, trace):
    p = os.path.join(LAST, f"{workload}-trace{trace}.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def layer_table(res):
    spans = timed_spans(res)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    rows = {}
    for s in spans:
        wall = s["t1"] - s["t0"]
        child = clipped_union_ms([(c["t0"], c["t1"]) for c in kids.get(s["id"], [])],
                                 s["t0"], s["t1"])
        r = rows.setdefault(s["name"], {"n": 0, "total": 0.0, "self": 0.0,
                                        "jobs": 0, "internal": 0, "task_run": 0.0})
        r["n"] += 1
        r["total"] += wall / 1e3
        r["self"] += (wall - child) / 1e3
        if s["engine"]:
            r["jobs"] += s["engine"]["jobs"]
            r["internal"] += s["engine"]["internal_jobs"]
            r["task_run"] += s["engine"]["task_run_s"]
    return rows


def op_table(res):
    by_op = {}
    for s in timed_spans(res):
        if s["engine"]:
            e = by_op.setdefault(s["op"], {"iv": [], "jobs": 0, "internal": 0})
            e["iv"] += s["engine"]["job_intervals"]
            e["jobs"] += s["engine"]["jobs"]
            e["internal"] += s["engine"]["internal_jobs"]
    rows = {}
    for o in res["ops"]:
        e = by_op.get(o["id"], {"iv": [], "jobs": 0, "internal": 0})
        wall = (o["t1"] - o["t0"]) / 1e3
        name = o["name"].split(":")[0]
        r = rows.setdefault(name, {"n": 0, "wall": 0.0, "jobs": 0, "internal": 0, "gap": 0.0})
        r["n"] += 1
        r["wall"] += wall
        r["jobs"] += e["jobs"]
        r["internal"] += e["internal"]
        r["gap"] += wall - union_s(e["iv"])
    return rows


def report(workload):
    traced, plain = load(workload, 1), load(workload, 0)
    if traced is None:
        print(f"== {workload}: no traced run kept (run it with --trace 1)\n")
        return
    print(f"== {workload}: {len(traced['ops'])} operations, "
          f"window {float(traced['window_s']):.2f} s")
    print(f"  {'span':34s} {'n':>5s} {'total_s':>9s} {'self_s':>9s} "
          f"{'jobs':>6s} {'internal':>8s} {'task_run_s':>10s}")
    for name, r in sorted(layer_table(traced).items(), key=lambda x: -x[1]["self"]):
        print(f"  {name:34s} {r['n']:5d} {r['total']:9.3f} {r['self']:9.3f} "
              f"{r['jobs']:6d} {r['internal']:8d} {r['task_run']:10.3f}")
    print(f"  {'operation (means per op)':34s} {'n':>5s} {'wall_s':>9s} {'gap_s':>9s} "
          f"{'jobs':>6s} {'internal':>8s}")
    for name, r in sorted(op_table(traced).items()):
        n = r["n"]
        print(f"  {name:34s} {n:5d} {r['wall'] / n:9.3f} {r['gap'] / n:9.3f} "
              f"{r['jobs'] / n:6.1f} {r['internal'] / n:8.1f}")
    t_ops = traced["summary"]["metrics"]["trace.ops_per_s"]["value"]
    if plain is not None:
        p_ops = plain["summary"]["metrics"]["ops_per_s"]["value"]
        print(f"  tracing overhead: ops_per_s {p_ops:.4f} untraced, {t_ops:.4f} traced "
              f"({(p_ops - t_ops) / p_ops * 100:+.1f} % of untraced)")
    else:
        print(f"  tracing overhead: no untraced run kept (traced ops_per_s {t_ops:.4f})")
    print()


def main():
    for w in sys.argv[1:] or WORKLOADS:
        report(w)


if __name__ == "__main__":
    main()
