"""Replays each query's DuckDB oracle SQL against the generated tables
and compares it with the parquet result the harness wrote.

The comparison follows the rules of graft's scripts/verify_local.py:
columns compared sorted by name, a dtype-class gate (int / float /
bool / timestamp / interval / other), rows sorted by repr, exact values
with NaN equal to NaN. Tables are views named after their files, and a
sharded table (a directory of parquet files) reads as one view.
"""
import glob
import math
import os

import duckdb


def connect(data_dir):
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[:-len(".parquet")]
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def _tclass(dtype):
    return {"i": "int", "u": "int", "f": "float", "b": "bool",
            "M": "timestamp", "m": "interval"}.get(dtype.kind, "obj")


def _rows(df, cols):
    rows = [tuple(x.item() if hasattr(x, "item") else x for x in row)
            for row in df[cols].itertuples(index=False)]
    return sorted(rows, key=repr)


def _same(a, b):
    return all(x == y or (isinstance(x, float) and isinstance(y, float)
                          and math.isnan(x) and math.isnan(y))
               for x, y in zip(a, b))


def compare(got, exp):
    """None when the frames match, else the reason they do not."""
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        return f"schema {gcols} vs {ecols}"
    drift = [(c, str(got[c].dtype), str(exp[c].dtype)) for c in gcols
             if _tclass(got[c].dtype) != _tclass(exp[c].dtype)]
    if drift:
        return f"dtype drift {drift}"
    g, e = _rows(got, gcols), _rows(exp, ecols)
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    for i, (a, b) in enumerate(zip(g, e)):
        if repr(a) != repr(b) and not _same(a, b):
            return f"row {i}: spark {a} vs duckdb {b}"
    return None


def check(data_dir, results_dir, oracle_sql):
    """{query: None or mismatch reason} for every query in `oracle_sql`."""
    con = connect(data_dir)
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        path = os.path.join(results_dir, name)
        if not os.path.isdir(path):
            out[name] = "no result written"
            continue
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = f"oracle error: {e}"
            continue
        got = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchdf()
        out[name] = compare(got, exp)
    return out
