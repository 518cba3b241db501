"""Output check: each query's output from the untimed pass against its
DuckDB oracle SQL over the same input tables.

The canonicalisation is the repository's correctness gate's: columns
sorted by name, the same row count, the same pandas dtype per column,
array cells compared as tuples (and refused, since the gate's row sort
cannot hash them), and values equal or both missing. A query without
oracle SQL gets no value check.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _canon_cell(v):
    if isinstance(v, np.ndarray):
        return tuple(_canon_cell(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_canon_cell(x) for x in v)
    return v


def _has_array_cells(series):
    return any(isinstance(v, (np.ndarray, list, tuple))
               for v in series.head(50))


def _read_output(path):
    parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not parts:
        return pd.DataFrame()
    return pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)


def _mismatch(got, exp):
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        return f"columns differ: {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rowcount {len(got)} vs {len(exp)}"
    for c in got.columns:
        gv, ev = got[c], exp[c]
        if str(gv.dtype) != str(ev.dtype):
            return f"dtype[{c}]: {gv.dtype} vs {ev.dtype}"
        if str(gv.dtype) == "object":
            if _has_array_cells(gv) or _has_array_cells(ev):
                return f"array-typed cells in [{c}]"
            gv, ev = gv.map(_canon_cell), ev.map(_canon_cell)
        eq = (gv == ev) | (gv.isna() & ev.isna())
        if not eq.all():
            bad = (~eq).idxmax()
            return f"value[{c}] row {bad}: {gv[bad]!r} vs {ev[bad]!r}"
    return None


def check(data_dir, out_dir, queries, oracle_sql):
    """Returns ({query: failure message}, {query: output row count}) for
    the queries whose output directory exists under `out_dir`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    failures, rows = {}, {}
    for q in queries:
        path = os.path.join(out_dir, q)
        if not os.path.isdir(path):
            continue
        got = _read_output(path)
        rows[q] = len(got)
        if q not in oracle_sql:
            continue
        try:
            exp = con.execute(oracle_sql[q]).fetchdf()
        except Exception as e:  # the oracle itself failing is a failure
            failures[q] = f"oracle sql error: {e}"
            continue
        msg = _mismatch(got, exp)
        if msg:
            failures[q] = msg
    con.close()
    return failures, rows
