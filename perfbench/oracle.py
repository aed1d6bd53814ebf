"""DuckDB oracle answers and the output comparison of tools/compare.py.

An answer is computed once per (data directory, SQL text) and cached as a
pickled DataFrame next to the generated tables. Spark's output and the
oracle's are compared with columns sorted by name and rows sorted by all
columns; floating-point columns must match exactly, and an integer column
on one side against a float column on the other is a mismatch.
"""
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from gen import TABLE_NAMES


def answers(data_dir, steps):
    """Returns {oracle name: DataFrame} for the checked steps, computing
    and caching the ones not cached yet."""
    cache = os.path.join(data_dir, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = None
    out = {}
    for s in steps:
        key = hashlib.sha256(s["sql"].encode()).hexdigest()[:16]
        path = os.path.join(cache, f"{s['oracle']}-{key}.pkl")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                for t in TABLE_NAMES:
                    p = os.path.join(data_dir, f"{t}.parquet")
                    if os.path.exists(p):
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            con.execute(s["sql"]).df().to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)
        out[s["oracle"]] = pd.read_pickle(path)
    if con is not None:
        con.close()
    return out


def compare(spark_dir, ora_df):
    """'OK' or a description of the first kind of difference found."""
    if not os.path.isdir(spark_dir):
        return "NO_SPARK_OUTPUT"
    spark_df = pq.read_table(spark_dir).to_pandas()
    if len(spark_df) != len(ora_df):
        return f"ROWS {len(spark_df)} vs {len(ora_df)}"
    s_cols, o_cols = sorted(spark_df.columns), sorted(ora_df.columns)
    if s_cols != o_cols:
        return f"SCHEMA {s_cols} vs {o_cols}"
    s = spark_df[s_cols].sort_values(s_cols).reset_index(drop=True)
    o = ora_df[o_cols].sort_values(o_cols).reset_index(drop=True)
    diff = []
    for c in s_cols:
        sv, ov = s[c], o[c]
        try:
            if (sv.dtype.kind in "iu") != (ov.dtype.kind in "iu") and \
                    {sv.dtype.kind, ov.dtype.kind} & set("fc"):
                diff.append(f"{c}:DTYPE({sv.dtype}vs{ov.dtype})")
                continue
            if sv.dtype.kind in "fc" or ov.dtype.kind in "fc":
                a = sv.astype(float).to_numpy()
                b = ov.astype(float).to_numpy()
                both_nan = np.isnan(a) & np.isnan(b)
                exact = np.isclose(a, b, rtol=0, atol=0, equal_nan=True)
                close = np.isclose(a, b, rtol=1e-9, atol=1e-12, equal_nan=True)
                if not close.all():
                    diff.append(f"{c}:VALUES({(~close).sum()})")
                elif not (exact | both_nan).all():
                    diff.append(f"{c}:FLOAT_ULP({(~(exact | both_nan)).sum()})")
            else:
                a = sv.astype(str).to_numpy()
                b = ov.astype(str).to_numpy()
                if not (a == b).all():
                    diff.append(f"{c}:VALUES({(a != b).sum()})")
        except Exception as e:  # noqa: BLE001 — reported as a mismatch
            diff.append(f"{c}:CMP_ERR({e})")
    return "OK" if not diff else "DIFF " + ",".join(diff)
