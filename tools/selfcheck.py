#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/selfcheck.py <sfDir> <verifyOutDir>

Loads each <name>.parquet produced by graft.Verify, runs the matching
oracle SQL from oracle_sql.json in DuckDB over the same fixture tables,
and compares: row count, column names, and a hash of the values with
columns sorted by name and rows sorted canonically. An oracle with no
output directory is a failure: its query threw in graft.Verify.
"""
import sys, json, glob, os
import duckdb
import pandas as pd
import hashlib

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for comparison
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def frame_hash(df: pd.DataFrame) -> str:
    return hashlib.md5(df.to_csv(index=False).encode()).hexdigest()


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            # Spark-written table (ScaleFixture replicas): a directory
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    names = sorted(os.path.basename(d) for d in glob.glob(f"{out_dir}/*")
                   if os.path.isdir(d))
    n_pass = n_fail = n_rowsonly = 0
    for name in names:
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no parquet output"); n_fail += 1; continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        if name not in oracles:
            ok = len(got) > 0
            print(f"{'ROWS' if ok else 'FAIL'} {name}: rows-only "
                  f"({len(got)} rows)")
            n_rowsonly += ok; n_fail += (not ok); continue
        try:
            exp = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}"); n_fail += 1; continue
        g, e = canon(got.copy()), canon(exp.copy())
        if len(g) != len(e):
            print(f"FAIL {name}: rowcount {len(g)} vs {len(e)}"); n_fail += 1
        elif list(g.columns) != list(e.columns):
            print(f"FAIL {name}: cols {list(g.columns)} vs {list(e.columns)}")
            n_fail += 1
        elif frame_hash(g) != frame_hash(e):
            print(f"FAIL {name}: hash mismatch")
            merged = g.compare(e) if g.shape == e.shape else None
            if merged is not None and not merged.empty:
                print(merged.head(5))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(g)} rows)"); n_pass += 1
    # an oracle without output: its query failed to run (graft.Verify
    # deletes each selected query's old output before running it)
    for name in sorted(set(oracles) - set(names)):
        print(f"FAIL {name}: no output (the query failed to run)")
        n_fail += 1
    print(f"\n{n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
