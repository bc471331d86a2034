#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
benchmark driver from source with sbt (offline) and caches the classpath
under perfbench/target; later runs reuse it while the sources are
unchanged.

One run: make the seed's inputs (fixture, operation schedule, expected
answers), start the JVM driver (perfbench.Main: set-up, warm-up, then
operations back to back in whole rounds for --seconds, and for at least
two rounds, on local[k], one client thread),
check every output, and print one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the engine listener and the spans are on and the metrics
are the per-layer ones. Every traced and untraced result is also kept
under perfbench/work/last/ for perfbench/trace_report.py.

Exits non-zero without a result line when it cannot build or run.
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("etl_bulk", "tpch_sf1x", "vector_serve", "index_lifecycle")
CP_FILE = os.path.join(HERE, "target", "perfbench.classpath")
STAMP_FILE = os.path.join(HERE, "target", "perfbench.stamp")
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
            "-Dsbt.offline=true -Xmx2g")
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
RUN_LIMIT_S = 170  # a run must end within 180 s once built


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and the driver; cache the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no graft sources at {ROOT} ({need} missing)")
    stamp = source_stamp()
    if os.path.exists(CP_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read() == stamp:
                with open(CP_FILE) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS", SBT_OPTS))
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt build failed")
    os.makedirs(os.path.dirname(CP_FILE), exist_ok=True)
    with open(CP_FILE, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def run_jvm(cp, work, data, rnd, a, cores, deadline):
    heap = "1g" if a.tiny else "3g"
    cmd = (["java", f"-Xmx{heap}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"] +
           [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--work", work, "--data", data, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores),
            "--round", str(rnd), "--min-rounds", str(inputs.MIN_ROUNDS)])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"driver JVM exceeded the run limit (log: {work}/jvm.log)")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"driver JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test sizes (sf0.001, small batches)")
    a = ap.parse_args()

    cp = build()
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    cores = len(os.sched_getaffinity(0))  # nproc
    work = os.path.join(HERE, "work", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        prep = inputs.prepare(a.workload, a.seed, work, a.tiny)
        t_inputs = time.time() - t_start
        res = run_jvm(cp, work, prep["data"], prep["round"], a, cores, deadline)
        t_jvm = time.time()
        errors = checks.check(a.workload, res, prep, work)
        print(f"perfbench: inputs {t_inputs:.1f} s, driver {t_jvm - t_start - t_inputs:.1f} s, "
              f"checks {time.time() - t_jvm:.1f} s", file=sys.stderr)
        out = metrics.summarize(a.workload, res, errors, t_inputs,
                                traced=bool(a.trace), cores=cores,
                                per_round=prep["round"])
        keep = os.path.join(HERE, "work", "last")
        os.makedirs(keep, exist_ok=True)
        res["summary"] = out
        with open(os.path.join(keep, f"{a.workload}-trace{a.trace}.json"), "w") as f:
            json.dump(res, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for op, e in list(errors.items())[:20]:
        print(f"perfbench: check failed (op {op}): {e}", file=sys.stderr)
    print(json.dumps({k: out[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
