"""Compare the benchmark's checked outputs with the program's DuckDB
oracle twins.

The harness writes `oracle.json` ({name: sql}) and `check/<name>/*.parquet`
into the run directory. Each oracle runs in DuckDB over the generated
input tables; both sides are sorted by every column and compared
exactly (float sign bits included), the discipline of the repository's
own oracle gate.
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd


def _normalize(col):
    """List cells become the hex of their float64 bytes, so list
    columns sort and compare exactly."""
    if col.dtype == object and len(col) and isinstance(
            col.iloc[0], (list, np.ndarray)):
        return col.map(lambda v: np.asarray(v, dtype=np.float64).tobytes().hex())
    return col


def _compare(exp, got):
    exp = exp[sorted(exp.columns)]
    got = got[sorted(got.columns)]
    if list(exp.columns) != list(got.columns):
        return "SCHEMA exp=%s got=%s" % (list(exp.columns), list(got.columns))
    if len(exp) != len(got):
        return "ROWS exp=%d got=%d" % (len(exp), len(got))
    exp = exp.apply(_normalize)
    got = got.apply(_normalize)
    exp = exp.sort_values(list(exp.columns)).reset_index(drop=True)
    got = got.sort_values(list(got.columns)).reset_index(drop=True)
    for c in exp.columns:
        e, g = exp[c], got[c]
        if (e.dtype.kind in "iu") != (g.dtype.kind in "iu"):
            return "DTYPE col=%s exp=%s got=%s" % (c, e.dtype, g.dtype)
        if e.dtype.kind in "fc" or g.dtype.kind in "fc":
            ee, gg = e.astype(float).values, g.astype(float).values
            same = (np.isnan(ee) & np.isnan(gg)) | (
                (ee == gg) & (np.signbit(ee) == np.signbit(gg)))
        else:
            same = e.astype(str).values == g.astype(str).values
        if not same.all():
            i = int(np.argmax(~same))
            return "VAL col=%s row=%d exp=%r got=%r" % (c, i, e.iloc[i], g.iloc[i])
    return None


def check(data_dir, run_dir):
    """Returns [(name, problem-or-None, rows)] for every oracle."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in ("events", "documents", "embeddings"):
        path = os.path.join(data_dir, t + ".parquet")
        if os.path.exists(path):
            con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, path))
    with open(os.path.join(run_dir, "oracle.json")) as f:
        oracle = json.load(f)
    results = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(run_dir, "check", name, "*.parquet"))
        if not files:
            results.append((name, "MISSING spark output", 0))
            continue
        got = pd.concat([pd.read_parquet(p) for p in files], ignore_index=True)
        try:
            exp = con.sql(sql).df()
        except duckdb.Error as e:
            results.append((name, "ORACLE-ERROR %s" % str(e)[:200], 0))
            continue
        results.append((name, _compare(exp, got), len(got)))
    con.close()
    return results
