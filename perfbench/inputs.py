"""Everything a run's seed decides, made before the driver starts.

`prepare` writes into the run's work dir:
  data/ (or sf1x/)  the parquet fixture the workload reads
  plan.tsv          the timed operations, in order (the driver cycles it)
  warm.tsv          warm-up operations run during set-up
  probes.parquet    vector_serve: the probe vectors of every request
and returns what the checks need (expected answers, sizes).
"""
import os
import subprocess
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import fixture

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

TPCH = ["q01_pricing_summary", "q58_tpch_q5", "q111_tpch_q3", "q112_tpch_q10",
        "q120_tpch_q7", "q128_tpch_q18", "q135_tpch_q4", "q137_tpch_q19",
        "q150_tpch_q6", "q151_tpch_q2", "q152_tpch_q8", "q153_tpch_q9",
        "q154_tpch_q11", "q155_tpch_q12", "q156_tpch_q14", "q157_tpch_q15",
        "q158_tpch_q16", "q159_tpch_q17", "q160_tpch_q20", "q161_tpch_q21"]
# The lifecycle queries and store kinds that fit the run budget (about
# 35-60 s per run including set-up on 4 cores); see README.md for the rest.
LIFECYCLE = ["q225_sq8_lifecycle"]
STORES = ["sq8", "bq"]
K = 5  # neighbours per probe; must match Workloads.K

# sizes per workload: (normal, tiny)
ETL_ROWS = (500_000, 5_000)
ETL_WARM = 2  # warm-up cycles: with one, the timed cycles still sped up 15 %
TPCH_BASE_SF = (0.1, 0.001)      # sf1x = base x replicas
TPCH_REPLICAS = (10, 1)
VECTOR_SF = (0.1, 0.01)
VECTOR_BATCHES = ((1, 256), (4,))
# warm-up rounds after the store builds: with one 256-probe request per
# kind the first timed round still ran 30-50 % slower than later ones
VECTOR_WARM = 2
# embeddings for the lifecycle queries: they are bound by their job
# count, not their input size (q225: 7-9 s warm at sf0.01). Not q173:
# its work depends on the duplicates the seed draws (3 s or 8 s)
LIFECYCLE_SF = (0.01, 0.001)
# warm-up passes over the lifecycle queries: the first q225 in a JVM
# takes 15-25 s, the second about 20 % more than later ones; a second
# warm-up pass does not fit the run budget
LIFECYCLE_WARM = 1
PASSES = 8  # the plan cycles if a run outlasts it

# The timed window runs whole rounds (every operation of a round once,
# in seeded order) until --seconds have passed and at least MIN_ROUNDS
# rounds are done, so every run of a workload does the same work
# whatever its seed, and the round-level medians of metrics.py have
# more than one round to take.
MIN_ROUNDS = 2


def write_tsv(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write("\t".join(str(x) for x in r) + "\n")


def shuffled(rng, items, passes):
    """`passes` passes over `items`, each in its own seeded order."""
    out = []
    for _ in range(passes):
        out += [items[i] for i in rng.permutation(len(items))]
    return out


def prepare(workload, seed, work, tiny):
    """Inputs of one run; the returned dict's "round" is the number of
    plan lines per round."""
    t = 1 if tiny else 0
    rng = np.random.default_rng([seed, 0xB5])
    if workload == "etl_bulk":
        return prep_etl(rng, work, t)
    if workload == "tpch_sf1x":
        return prep_tpch(rng, seed, work, t)
    if workload == "vector_serve":
        return prep_vector(rng, seed, work, t)
    return prep_lifecycle(rng, seed, work, t)


def prep_etl(rng, work, t):
    # the seed sets the generated payload: each cycle's row count (and so
    # its ids and md5 payloads) is drawn within 1 % of the nominal size
    base = ETL_ROWS[t]
    rows = [base + int(rng.integers(0, base // 100 + 1)) for _ in range(64)]
    write_tsv(os.path.join(work, "plan.tsv"), [("cycle", r) for r in rows])
    write_tsv(os.path.join(work, "warm.tsv"), [("cycle", base)] * ETL_WARM)
    return {"data": work, "round": 1}


def table_rows(d, names):
    con = duckdb.connect()
    return {n: con.execute(f"SELECT count(*) FROM '{d}/{n}.parquet'").fetchone()[0]
            for n in names}


def prep_tpch(rng, seed, work, t):
    base = os.path.join(work, "sf_base")
    sf1x = os.path.join(work, "sf1x")
    fixture.write(base, TPCH_BASE_SF[t], seed)
    reps = TPCH_REPLICAS[t]
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "make_ramp.py"),
                        base, sf1x, str(reps)], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise RuntimeError(f"make_ramp.py failed: {p.stdout[-2000:]}")
    # every table of sf1x holds `reps` x the base rows, except the two
    # dimension tables make_ramp keeps as they are
    names = list(fixture.TABLES)
    got, want = table_rows(sf1x, names), table_rows(base, names)
    for n in names:
        expect = want[n] * (1 if n in ("region", "nation") else reps)
        if got[n] != expect:
            raise RuntimeError(f"sf1x {n}: {got[n]} rows, expected {expect}")
    write_tsv(os.path.join(work, "plan.tsv"), [(q,) for q in shuffled(rng, TPCH, PASSES)])
    return {"data": sf1x, "round": len(TPCH), "table_rows": got}


def prep_lifecycle(rng, seed, work, t):
    data = os.path.join(work, "data")
    fixture.write(data, LIFECYCLE_SF[t], seed, tables=("embeddings",))
    write_tsv(os.path.join(work, "warm.tsv"), [(q,) for q in LIFECYCLE] * LIFECYCLE_WARM)
    write_tsv(os.path.join(work, "plan.tsv"),
              [(q,) for q in shuffled(rng, LIFECYCLE, PASSES)])
    return {"data": data, "round": len(LIFECYCLE)}


def prep_vector(rng, seed, work, t):
    data = os.path.join(work, "data")
    fixture.write(data, VECTOR_SF[t], seed, tables=("embeddings",))
    emb = pq.read_table(os.path.join(data, "embeddings.parquet"))
    ids = emb.column("vec_id").to_numpy()
    corpus = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float32)
    unit = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)

    # one round = every store kind at every batch size, in seeded order;
    # probes are corpus vectors plus noise, with ids outside the corpus
    batches = VECTOR_BATCHES[t]
    one_round = [(s, b) for s in STORES for b in batches]
    reqs = shuffled(rng, one_round, 1 if t else 4)
    # the first request of each kind builds its store; then whole rounds
    # warm the serve paths of every kind and batch size
    warm = [(s, min(batches[-1], 8)) for s in STORES] + shuffled(rng, one_round, VECTOR_WARM)
    req_rows, vec_ids, vecs, truth, probe_ids = [], [], [], {}, {}
    next_id = 10_000_000
    for r, (_, b) in enumerate(warm + reqs):
        v = corpus[rng.integers(0, len(ids), b)]
        v = v + rng.normal(0.0, 0.05, v.shape).astype(np.float32)
        vn = v / np.linalg.norm(v, axis=1, keepdims=True)
        top = np.argsort(-(vn @ unit.T), axis=1)[:, :K]
        probe_ids[r] = list(range(next_id, next_id + b))
        next_id += b
        for j, p in enumerate(probe_ids[r]):
            truth[p] = set(int(x) for x in ids[top[j]])
        req_rows += [r] * b
        vec_ids += probe_ids[r]
        vecs += list(v)
    pq.write_table(pa.table({
        "request_id": pa.array(req_rows, pa.int32()),
        "vec_id": pa.array(vec_ids, pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32()))}),
        os.path.join(work, "probes.parquet"))
    write_tsv(os.path.join(work, "warm.tsv"), [(s, r) for r, (s, _) in enumerate(warm)])
    write_tsv(os.path.join(work, "plan.tsv"),
              [(s, len(warm) + r) for r, (s, _) in enumerate(reqs)])
    return {"data": data, "round": len(one_round), "truth": truth,
            "probe_ids": probe_ids}
