#!/usr/bin/env python3
"""Seed perfbench/expected/<workload>.json for a query workload.

    python3 perfbench/seed_expected.py corpus_dag

Runs every query of the workload once (untimed) in a fresh benchmark JVM,
which writes each result as parquet and its content hash. Every query
that carries oracle SQL is cross-checked against DuckDB over the same
tables (perfbench/data/sf0.01), the way tools/check_oracle.py compares Verify output:
columns sorted by name, rows sorted by value, values and dtypes equal
(floats bit for bit). The stored entry records `"oracle": "match"` for
those, `"none"` for queries without oracle SQL. A query that fails or
disagrees with its oracle is not stored, and the script exits non-zero.
"""
import glob
import json
import os
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def oracle_diff(con, sql, result_dir):
    """None when Spark's result equals DuckDB's, else a description."""
    exp = con.sql(sql).df()
    files = glob.glob(os.path.join(result_dir, "*.parquet"))
    got = duckdb.sql(f"SELECT * FROM read_parquet({files!r})").df() if files \
        else exp.iloc[0:0]
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        return f"columns {list(exp.columns)} != {list(got.columns)}"
    exp = exp.sort_values(by=list(exp.columns), ignore_index=True)
    got = got.sort_values(by=list(got.columns), ignore_index=True)
    if exp.shape != got.shape:
        return f"shape {exp.shape} != {got.shape}"
    for c in exp.columns:
        a, b = exp[c], got[c]
        if str(a.dtype) != str(b.dtype):
            return f"dtype[{c}] {a.dtype} != {b.dtype}"
        if a.dtype.kind == "f":
            bits = f"int{a.dtype.itemsize * 8}"
            neq = pd.Series(a.to_numpy().view(bits) != b.to_numpy().view(bits))
        else:
            neq = ~((a == b) | (a.isna() & b.isna()))
        if neq.any():
            i = int(neq.to_numpy().argmax())
            return f"value[{c}] row {i}: {a[i]!r} != {b[i]!r} ({int(neq.sum())} rows)"
    return None


def seed(workload):
    cp = run.build()
    rec = run.run_jvm(cp, workload, 0, 0, False, "expected", None, "expected")
    work = os.path.join(run.build_dir(), "work", f"{workload}-expected-{os.getpid()}")
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(run.DATA, "*.parquet"))):
        t = os.path.basename(f)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    out, bad = {}, []
    for q, r in sorted(rec["expected"].items()):
        if "error" in r:
            bad.append(f"{q}: {r['error']}")
            continue
        entry = {"rows": r["rows"], "hash": r["hash"], "oracle": "none"}
        if r.get("sql"):
            diff = oracle_diff(con, r["sql"], os.path.join(work, "results", q))
            if diff:
                bad.append(f"{q}: oracle mismatch: {diff}")
                continue
            entry["oracle"] = "match"
        out[q] = entry
        print(f"{q}: rows={r['rows']} oracle={entry['oracle']}")
    path = run.expected_path(workload)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"data": os.path.relpath(run.DATA, run.HERE), "queries": out},
                  fh, indent=1, sort_keys=True)
        fh.write("\n")
    for b in bad:
        print("FAIL", b, file=sys.stderr)
    return not bad


if __name__ == "__main__":
    ok = all([seed(w) for w in sys.argv[1:]])
    sys.exit(0 if ok else 1)
