"""Correctness of query results against their DuckDB twins.

Each oracled query's result (written by the benchmark from the rows the
engine returned) is compared exactly with its `SparkEntry.oracleSql` twin run
by DuckDB over the same generated tables: same columns, same row count, and
equal values after sorting (floats compared bit-exactly, nulls equal). The
queries without a twin get invariant checks instead.
"""
import datetime
import glob
import json
import os
from concurrent.futures import ProcessPoolExecutor

import duckdb
import pandas as pd


def _views(con, data_dir):
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")


def _read(result_dir):
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else None


def _diff(sdf, ddf):
    """None when equal, else a one-line reason."""
    for c in sdf.columns:
        if sdf[c].dtype == object and sdf[c].map(
                lambda v: isinstance(v, datetime.date) or v is None).all():
            sdf[c] = pd.to_datetime(sdf[c])
    sdf = sdf.reindex(sorted(sdf.columns), axis=1)
    ddf = ddf.reindex(sorted(ddf.columns), axis=1)
    if list(sdf.columns) != list(ddf.columns):
        return f"columns {list(sdf.columns)} vs {list(ddf.columns)}"
    if len(sdf) != len(ddf):
        return f"rows {len(sdf)} vs {len(ddf)}"
    sdf = sdf.sort_values(by=list(sdf.columns), na_position="first").reset_index(drop=True)
    ddf = ddf.sort_values(by=list(ddf.columns), na_position="first").reset_index(drop=True)
    bad = []
    for c in sdf.columns:
        a, b = sdf[c], ddf[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            eq = (a.isna() & b.isna()) | (a.astype("float64").to_numpy() == b.astype("float64").to_numpy())
        else:
            eq = (a.isna() & b.isna()) | (a.astype(object).to_numpy() == b.astype(object).to_numpy())
        if (~eq).sum():
            bad.append((c, int((~eq).sum())))
    return f"value mismatches {bad} of {len(sdf)} rows" if bad else None


WORKERS = 4  # the benchmark host's cores; the checks run after the timed region

# Invariants for the queries without a DuckDB twin: (key column, table, key)
# — every key the result names must exist in the input.
KEYS = {"user_id": ("events", "user_id"), "vec_id": ("embeddings", "vec_id"),
        "doc_id": ("documents", "doc_id"), "event_id": ("events", "event_id")}


def _invariants(con, name, df):
    if df is None or len(df) == 0:
        return "empty result"
    for col, (table, key) in KEYS.items():
        if col in df.columns:
            known = {r[0] for r in con.sql(f"SELECT DISTINCT {key} FROM {table}").fetchall()}
            missing = set(df[col].dropna().tolist()) - known
            if missing:
                return f"{len(missing)} {col} values not in {table}"
    return None


def _connect(data_dir):
    con = duckdb.connect(config={"threads": 1})
    con.execute("SET enable_progress_bar = false")
    _views(con, data_dir)
    return con


def _check_one(job):
    data_dir, name, result_dir, sql = job
    con = _connect(data_dir)
    try:
        sdf = _read(result_dir)
        if sql is not None:
            return name, ("no result" if sdf is None else _diff(sdf, con.sql(sql).df()))
        return name, _invariants(con, name, sdf)
    except Exception as e:  # a failing check is a wrong result, never a pass
        return name, f"{type(e).__name__}: {e}"
    finally:
        con.close()


def check(data_dir, dumps, oracle_file, twins=None):
    """Returns {query name: reason} for every query found wrong. Only the
    names in `twins` (all, when None) are compared with their DuckDB twin.
    The checks run in one process per core, longest twin first."""
    oracle = json.load(open(oracle_file)) if os.path.isfile(oracle_file) else {}
    if twins is not None:
        oracle = {n: q for n, q in oracle.items() if n in twins}
    jobs = sorted(((data_dir, n, d, oracle.get(n)) for n, d in dumps.items()),
                  key=lambda j: -len(j[3] or ""))
    with ProcessPoolExecutor(max_workers=WORKERS) as pool:
        return {n: why for n, why in pool.map(_check_one, jobs) if why}
