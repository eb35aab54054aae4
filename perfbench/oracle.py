"""DuckDB oracle check of the query workloads' outputs.

The same canonical comparison as `tools/check.py`: each query's Spark
output (parquet) and its oracle SQL replayed in DuckDB over the same
input tables must agree on column names, row count, every DECIMAL
column's (precision, scale), and a row-order-independent hash of the
rows with columns sorted by name (floats by repr, decimals as exact
strings).
"""
import glob
import re

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    cols = []
    for c in df.columns:
        s = df[c]
        if s.dtype.kind == "f":
            cols.append(s.map(lambda v: repr(float(v)) if pd.notna(v) else "NULL"))
        else:
            cols.append(s.map(lambda v: "NULL" if v is None or (
                isinstance(v, float) and pd.isna(v)) else str(v)))
    return pd.concat(cols, axis=1)


def _hash(df):
    return pd.util.hash_pandas_object(
        df.sort_values(list(df.columns)).reset_index(drop=True), index=False).sum()


def check(data_dir, out_dir, oracle_sql, spark_errors):
    """Return {query: reason} for every query whose output is wrong."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{data_dir}/{t}.parquet'")

    def decimals(rel):
        d = {}
        for _, r in con.sql(f"DESCRIBE {rel}").df().iterrows():
            m = re.fullmatch(r"DECIMAL\((\d+),(\d+)\)", r["column_type"])
            if m:
                d[r["column_name"].lower()] = (int(m.group(1)), int(m.group(2)))
        return d

    def exact(rel):
        dec = decimals(rel)
        cols = [r["column_name"] for _, r in con.sql(f"DESCRIBE {rel}").df().iterrows()]
        sel = ", ".join(f'CAST("{c}" AS VARCHAR) AS "{c}"' if c.lower() in dec
                        else f'"{c}"' for c in cols)
        return con.sql(f"SELECT {sel} FROM ({rel})").df(), dec

    bad = {}
    for name, sql in sorted(oracle_sql.items()):
        if name in spark_errors:
            bad[name] = f"spark output failed: {spark_errors[name]}"
            continue
        if sql is None:
            bad[name] = "no oracle SQL"
            continue
        if not glob.glob(f"{out_dir}/{name}/*.parquet"):
            bad[name] = "no spark output"
            continue
        try:
            got, dg = exact(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            want, dw = exact(sql)
        except Exception as e:  # a broken oracle or output is a failed check
            bad[name] = f"oracle error: {e}"
            continue
        if dg != dw:
            bad[name] = f"decimal types differ: spark {dg} vs oracle {dw}"
        elif sorted(map(str.lower, got.columns)) != sorted(map(str.lower, want.columns)):
            bad[name] = f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
        elif len(got) != len(want):
            bad[name] = f"rows {len(got)} vs {len(want)}"
        elif _hash(_canon(got)) != _hash(_canon(want)):
            bad[name] = "row hash differs"
    return bad
