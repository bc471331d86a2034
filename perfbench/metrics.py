"""Metrics of one run, from the driver's result and the checks.

End-to-end metrics (untraced runs) are the user's view: set-up time,
throughput, latency, answer quality, failures, heap. Per-layer metrics
(traced runs) come from the spans and from the engine counts the
listener attributed to them; each is summed over the run's operations
unless its name says it is a ratio or a per-kind mean.
"""
import statistics

from inputs import K, LIFECYCLE, STORES

STAGE_FILES = ["Similarity", "GraphAnn", "Corpus", "Dedup", "Relational", "TpchSuite",
               "ParquetSink", "CopyPipeline", "CoordinatedCommit", "Workloads", "other"]
ETL_STEPS = ["generate", "write", "read", "copy", "commit"]
ENGINE_SUMS = ["jobs", "internal_jobs", "stages", "tasks", "failed_tasks",
               "stage_retries", "task_run_s", "task_cpu_s", "task_gc_s",
               "task_wait_s", "input_bytes", "input_records", "output_bytes",
               "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"]


def per_layer_names():
    """Every per-layer metric, in BENCHMARK.json order."""
    names = [f"spark.{n}" for n in ENGINE_SUMS[:4]]
    names += ["spark.job_busy_s", "spark.driver_gap_s"]
    names += [f"spark.{n}" for n in ENGINE_SUMS[6:10]]
    names += ["spark.core_busy_frac"]
    names += [f"spark.{n}" for n in ENGINE_SUMS[10:]]
    names += [f"spark.{n}" for n in ENGINE_SUMS[4:6]]
    names += [f"spark.stage_s.{f}" for f in STAGE_FILES]
    names += ["query.build_s", "query.plan_s", "query.exec_s"]
    names += [f"etl.{s}_s" for s in ETL_STEPS]
    names += ["etl.commit_stage_s", "etl.commit_import_s", "etl.files_written",
              "etl.bytes_written", "etl.read_per_write"]
    names += [f"store.serve_s.{k}" for k in STORES]
    names += [f"store.build_s.{k}" for k in STORES]
    names += [f"store.recall.{k}" for k in STORES]
    names += ["store.rows_scanned_per_probe"]
    names += [f"lifecycle.{q}_s" for q in LIFECYCLE]
    names += ["trace.ops_per_s", "trace.spans"]
    return names


def unit_of(name):
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s") or name.split(".")[1] in ("stage_s", "serve_s", "build_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_frac") or name.startswith("store.recall.") or \
            name.endswith("_per_write"):
        return "ratio"
    if name.endswith("_per_probe"):
        return "rows/probe"
    return "count"


def union_s(intervals):
    """Length in seconds of the union of (start_ms, end_ms) intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e3


def rounds(ops, per_round):
    """The window's operations in whole rounds of `per_round`."""
    return [ops[j:j + per_round] for j in range(0, len(ops) - per_round + 1, per_round)]


def round_s(ops):
    """Window time of a round: operation walls plus the sweeps after them."""
    return sum((o["t1"] - o["t0"] + o["sweep_ms"]) / 1e3 for o in ops)


def op_type(workload, op):
    """Operations of one type do the same work: same query, same ETL
    cycle, or same store kind and batch size."""
    if workload == "vector_serve":
        return (op["name"].split(":")[0], op["items"])
    return op["name"]


def summarize(workload, res, errors, t_inputs, traced, cores, per_round):
    ops = res["ops"]
    n = len(ops)
    failed = sum(1 for o in ops if o["id"] in errors)
    if "run" in errors:
        failed = min(n, failed + 1)
    out = {"correct": failed == 0, "attempted": n, "failed": failed}
    if not traced:
        if workload == "vector_serve":  # over probes, not requests
            recall = sum(o["hits"] for o in ops) / (K * sum(o["items"] for o in ops))
        else:
            recall = 1.0 - sum(1 for o in ops if o["id"] in errors) / n
        # rates: median over rounds (every round does the same work);
        # latency: median of each operation type, averaged over the types
        whole = rounds(ops, per_round)
        by_type = {}
        for o in ops:
            by_type.setdefault(op_type(workload, o), []).append((o["t1"] - o["t0"]) / 1e3)
        m = {
            "setup_s": t_inputs + float(res["setup_end_s"]),
            "ops_per_s": statistics.median(len(r) / round_s(r) for r in whole),
            "latency_p50_s": statistics.fmean(statistics.median(v) for v in by_type.values()),
            "rows_per_s": statistics.median(
                sum(o["out_rows"] for o in r) / round_s(r) for r in whole),
            "recall_at_k": recall,
            "ok_frac": 1.0 - failed / n,
            "heap_peak_mb": float(res["heap_peak_mb"]),
        }
        units = {"setup_s": "s", "ops_per_s": "1/s", "latency_p50_s": "s",
                 "rows_per_s": "1/s", "recall_at_k": "ratio",
                 "ok_frac": "ratio", "heap_peak_mb": "MB"}
    else:
        m = layers(workload, res, ops, cores, per_round)
        units = {k: unit_of(k) for k in m}
    out["metrics"] = {k: {"value": float(v), "unit": units[k]} for k, v in m.items()}
    return out


def timed_spans(res):
    """Spans of the timed window (warm-up spans carry operation -1)."""
    return [s for s in res["spans"] if s["op"] >= 0]


def layers(workload, res, ops, cores, per_round):
    spans = timed_spans(res)
    m = {k: 0.0 for k in per_layer_names()}

    busy_by_op = {}
    for s in spans:
        e = s["engine"]
        if not e:
            continue
        for k in ENGINE_SUMS:
            m[f"spark.{k}"] += e[k]
        for f, v in e["stage_s_by_file"].items():
            key = f"spark.stage_s.{f if f in STAGE_FILES else 'other'}"
            m[key] += v
        busy_by_op.setdefault(s["op"], []).extend(e["job_intervals"])
    op_wall = sum((o["t1"] - o["t0"]) / 1e3 for o in ops)
    busy = sum(union_s(v) for v in busy_by_op.values())
    m["spark.job_busy_s"] = busy
    m["spark.driver_gap_s"] = op_wall - busy
    m["spark.core_busy_frac"] = m["spark.task_run_s"] / (busy * cores) if busy else 0.0

    for s in spans:
        d = (s["t1"] - s["t0"]) / 1e3
        if s["name"] in m and s["name"] != "op":
            m[s["name"]] += d
    for o in ops:
        for k, v in o["metrics"].items():
            m[k] += v
    written = [s["engine"] for s in spans
               if s["name"] in ("etl.write_s", "etl.copy_s") and s["engine"]]
    out_b = sum(e["output_bytes"] for e in written)
    m["etl.read_per_write"] = sum(e["input_bytes"] for e in written) / out_b if out_b else 0.0
    for k, v in res["setup"].items():
        if k.startswith("store.build_s."):
            m[k] = v
    if workload == "vector_serve":
        probes = sum(o["items"] for o in ops)
        m["store.rows_scanned_per_probe"] = m["spark.input_records"] / probes if probes else 0.0
        for kind in {o["kind"] for o in ops}:
            rs = [o["recall"] for o in ops if o.get("kind") == kind]
            m[f"store.recall.{kind}"] = statistics.fmean(rs) if rs else 0.0
    m["trace.ops_per_s"] = statistics.median(len(r) / round_s(r) for r in rounds(ops, per_round))
    m["trace.spans"] = float(len(spans))
    return m
