"""Correctness check: each query's whole result, as the engine wrote it, against
a DuckDB replay of the query's oracle SQL on the same generated inputs.
Columns are compared by name and rows after sorting; values must be equal,
types included."""
import glob
import hashlib
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def digest(df):
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()[:16]


def connect(data_dir, temp_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def compare_one(con, result_dir, sql):
    """Return None when the result matches the oracle, else a one-line reason."""
    files = glob.glob(os.path.join(result_dir, "*.parquet"))
    if not files:
        return "no result written"
    try:
        got = canon(con.execute(f"SELECT * FROM '{result_dir}/*.parquet'").df())
        want = canon(con.execute(sql).df())
    except Exception as e:  # an oracle or read error is a failed check
        return f"replay error: {str(e).splitlines()[0][:200]}"
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs oracle {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs oracle {len(want)}"
    if not got.equals(want):
        cols = [c for c in got.columns if not got[c].equals(want[c])]
        return f"values differ in {cols} (digest {digest(got)} vs oracle {digest(want)})"
    return None


def check(data_dir, check_dir, oracles, names, temp_dir):
    """{query: reason} for every query in `names` that does not match."""
    con = connect(data_dir, temp_dir)
    bad = {}
    for name in names:
        sql = oracles.get(name)
        reason = "no oracle" if sql is None else compare_one(con, os.path.join(check_dir, name), sql)
        if reason:
            bad[name] = reason
    con.close()
    return bad
