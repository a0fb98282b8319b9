"""Output check for the query workloads: each dumped result is compared
with the key's oracle SQL run by DuckDB over the same tables.

The comparison rules mirror the repository's check.py: same column names
(sorted), same dtypes (dates and datetimes normalised), same row count,
and equal values column by column in result order, where -0.0 differs
from 0.0 and NaN/None equal each other. A key without oracle SQL must
return at least one row.
"""
import glob
import os

import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _is_dt(df, c):
    v = df[c].dropna()
    return (str(df[c].dtype).startswith("datetime") or
            (len(v) > 0 and type(v.iloc[0]).__name__ in ("date", "datetime", "Timestamp")))


def _unarr(v):
    return tuple(v) if isinstance(v, (np.ndarray, list)) else v


def _signfix(v):
    if isinstance(v, float) and v == 0.0 and np.signbit(v):
        return "-0.0(BITS)"
    if isinstance(v, tuple):
        return tuple(_signfix(x) for x in v)
    return v


def compare(spark_df, duck_df):
    """None when the frames match under check.py's rules, else the reason."""
    s_cols, d_cols = sorted(spark_df.columns), sorted(duck_df.columns)
    if s_cols != d_cols:
        return f"cols {s_cols} vs {d_cols}"
    skew = [(c, str(spark_df[c].dtype), str(duck_df[c].dtype)) for c in s_cols
            if str(spark_df[c].dtype) != str(duck_df[c].dtype)
            and not (_is_dt(spark_df, c) and _is_dt(duck_df, c))]
    if skew:
        return f"dtype skew {skew}"
    if len(spark_df) != len(duck_df):
        return f"rows {len(spark_df)} vs {len(duck_df)}"
    s = spark_df[s_cols].reset_index(drop=True)
    d = duck_df[d_cols].reset_index(drop=True)
    for c in s_cols:
        sv, dv = s[c].map(_unarr).map(_signfix), d[c].map(_unarr).map(_signfix)
        try:
            if str(sv.dtype).startswith("datetime") or str(dv.dtype).startswith("datetime"):
                sv = pd.to_datetime(sv).astype("datetime64[us]")
                dv = pd.to_datetime(dv).astype("datetime64[us]")
            eq = ((sv.astype(object).where(sv.notna(), None) ==
                   dv.astype(object).where(dv.notna(), None)) | (sv.isna() & dv.isna()))
            if not eq.all():
                i = eq[~eq].index[0]
                return f"col {c} row {i}: spark={sv[i]!r} duck={dv[i]!r}"
        except Exception as e:  # noqa: BLE001 - any compare failure is a mismatch
            return f"col {c}: compare error {e}"
    return None


def check_dump(con, path, sql):
    """None when the Spark output at `path` is correct, else the reason."""
    import pyarrow.parquet as pq
    if not glob.glob(os.path.join(path, "*.parquet")):
        return "no spark output"
    spark_df = pq.read_table(path).to_pandas()
    if sql is None:
        return None if len(spark_df) > 0 else "rows-only key returned no rows"
    try:
        duck_df = con.execute(sql).fetchdf()
    except Exception as e:  # noqa: BLE001
        return f"oracle error: {e}"
    return compare(spark_df, duck_df)
