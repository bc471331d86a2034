"""Output checks of one run, made after the driver exits.

Returns {op_id: error} for every operation whose output is wrong (the
driver's own exceptions and lineage checks included), plus the key
"run" for run-level failures such as leaked temp dirs or persisted RDDs.
For vector_serve it also stores each operation's recall in its record.
"""
import glob
import json
import os

import duckdb
import pandas as pd

import fixture
from inputs import K


def canon(df):
    """Columns sorted by name; array cells as tuples. No dtype changes:
    a type mismatch is a wrong answer (as in tools/oracle_check.py)."""
    df = df[sorted(df.columns)].reset_index(drop=True)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: tuple(v) if isinstance(v, (list, tuple)) or
                hasattr(v, "tolist") and not isinstance(v, (str, bytes)) else v)
    return df


def compare(got, exp):
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    gd, ed = [str(t) for t in got.dtypes], [str(t) for t in exp.dtypes]
    if gd != ed:
        return f"dtypes {gd} != {ed}"
    try:
        pd.testing.assert_frame_equal(got, exp, check_dtype=True, check_exact=True)
    except AssertionError as e:
        return f"values differ: {str(e)[:300]}"
    return None


class Oracle:
    """DuckDB over the run's fixture, running SparkEntry.oracleSql."""

    def __init__(self, data, work):
        self.con = duckdb.connect()
        for t in fixture.TABLES:
            p = os.path.join(data, f"{t}.parquet")
            if os.path.exists(p):
                self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        with open(os.path.join(work, "oracle.json")) as f:
            self.sql = json.load(f)
        self.cache = {}

    def expected(self, name):
        if name not in self.cache:
            self.cache[name] = canon(self.con.sql(self.sql[name]).df())
        return self.cache[name]

    def check(self, name, out_dir):
        """Error text, or None when `out_dir` holds the oracle's answer."""
        if not glob.glob(os.path.join(out_dir, "*.parquet")):
            return f"{name}: no output"
        if name not in self.sql:
            return f"{name}: no oracle SQL"
        try:
            exp = self.expected(name)
        except Exception as e:  # the oracle itself failing is a failed check
            return f"{name}: oracle error {e}"
        got = canon(self.con.sql(f"SELECT * FROM '{out_dir}/*.parquet'").df())
        err = compare(got, exp)
        return f"{name}: {err}" if err else None


def check(workload, res, prep, work):
    errors = {}
    for op in res["ops"]:
        if op["error"] is not None:
            errors[op["id"]] = op["error"]
    if workload == "tpch_sf1x":
        oracle = Oracle(prep["data"], work)
        # one check per query per run, on the warm-up pass's output
        bad = {}
        for q in sorted({op["name"] for op in res["ops"]}):
            bad[q] = oracle.check(q, os.path.join(work, "out", q))
        for op in res["ops"]:
            if bad.get(op["name"]) and op["id"] not in errors:
                errors[op["id"]] = bad[op["name"]]
        for op in res["ops"]:
            op["out_rows"] = rows_of(oracle, op["name"])
    elif workload == "index_lifecycle":
        oracle = Oracle(prep["data"], work)
        for op in res["ops"]:
            if op["id"] not in errors:
                err = oracle.check(op["name"], os.path.join(work, "out", f"op{op['id']}"))
                if err:
                    errors[op["id"]] = err
            op["out_rows"] = rows_of(oracle, op["name"])
    elif workload == "vector_serve":
        check_serve(res, prep, work, errors)
    else:
        for op in res["ops"]:
            op["out_rows"] = op["items"]
    leaks = sorted(os.path.basename(p) for p in glob.glob(os.path.join(work, "tmp", "graft_*")))
    if leaks:
        errors["run"] = f"leaked temp dirs: {leaks[:5]}"
    if res["leaked_rdds"] or res["leaked_cache"]:
        errors["run"] = (f"persisted RDDs after the sweep: {res['leaked_rdds']}, "
                         f"cached plans left: {res['leaked_cache']}")
    return errors


def rows_of(oracle, name):
    try:
        return float(len(oracle.expected(name)))
    except Exception:
        return 0.0


def check_serve(res, prep, work, errors):
    """Every probe of a request gets exactly K neighbours; recall@K is
    measured against the exact cosine top-K made with the inputs."""
    truth = prep["truth"]
    for op in res["ops"]:
        kind, req = op["name"].split(":") if ":" in op["name"] else (op["name"], None)
        op["kind"] = kind
        op["recall"] = op["hits"] = op["out_rows"] = 0.0
        if op["id"] in errors or req is None:
            continue
        files = glob.glob(os.path.join(work, "serve", f"op{op['id']}", "*.parquet"))
        if not files:
            errors[op["id"]] = f"{kind}: no output"
            continue
        got = duckdb.sql(
            f"SELECT probe_id, neighbor_id FROM read_parquet({files!r})").fetchall()
        by_probe = {}
        for p, n in got:
            by_probe.setdefault(p, []).append(n)
        probes = prep["probe_ids"][int(req)]
        wrong = [p for p in probes if len(by_probe.get(p, [])) != K]
        extra = set(by_probe) - set(probes)
        if wrong or extra:
            errors[op["id"]] = (f"{kind}: {len(wrong)} probes without {K} rows, "
                                f"{len(extra)} unknown probes")
            continue
        op["hits"] = sum(len(truth[p] & set(by_probe[p])) for p in probes)
        op["recall"] = op["hits"] / (K * len(probes))
        op["out_rows"] = float(len(got))
