"""Compare query results with their DuckDB oracle SQL.

The comparison is the one the repository's correctness gate makes
(tools/selfcheck.py): same row count, same column names, and the same
MD5 of the CSV of the values with columns sorted by name and rows sorted
canonically (floats rounded to 6 places, timestamps at microseconds).
"""
import glob
import hashlib
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def frame_hash(df):
    return hashlib.md5(df.to_csv(index=False).encode()).hexdigest()


def connect(fixture_dir):
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
    return con


def matches(got, expected):
    """(ok, reason) for two result frames."""
    g, e = canon(got.copy()), canon(expected.copy())
    if len(g) != len(e):
        return False, f"rowcount {len(g)} vs {len(e)}"
    if list(g.columns) != list(e.columns):
        return False, f"columns {list(g.columns)} vs {list(e.columns)}"
    if frame_hash(g) != frame_hash(e):
        return False, "hash mismatch"
    return True, ""


def check_all(con, results_dir, oracles):
    """{query: (ok, reason)} for every query with an oracle."""
    out = {}
    for name, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            out[name] = (False, "no result written")
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        try:
            expected = con.sql(sql).df()
        except duckdb.Error as e:
            out[name] = (False, f"oracle error: {e}")
            continue
        out[name] = matches(got, expected)
    return out
