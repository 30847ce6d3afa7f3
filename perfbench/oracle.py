"""Exact comparison of a Spark result with its DuckDB oracle.

Columns are matched by name, rows are compared as sorted multisets, and
values must be equal (floats too): the oracles round where Spark and
DuckDB could associate differently.
"""
import numpy as np
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]) or pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        else:
            df[c] = df[c].map(lambda v: v if v is None or isinstance(v, str) else repr(
                v.tolist() if hasattr(v, "tolist") else v))
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(got: pd.DataFrame, exp: pd.DataFrame):
    """None when equal, else a one-line reason."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    bad = []
    for c in g.columns:
        a, b = g[c], e[c]
        if pd.api.types.is_float_dtype(a):
            same = np.array_equal(a.to_numpy(), b.to_numpy(), equal_nan=True)
        else:
            same = a.fillna("\0").astype(str).equals(b.fillna("\0").astype(str))
        if not same:
            bad.append(c)
    return f"values differ in {bad}" if bad else None
