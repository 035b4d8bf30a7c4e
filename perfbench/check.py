"""Output check: a key's Spark result against its DuckDB oracle.

The oracle SQL (``plans.ORACLE[key]``) runs on DuckDB over the same
one-file-per-table inputs the key read. The two results must have the
same column names and row count, and equal values after both are
sorted on every column; floats compare within 1e-9, relative or
absolute.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd

TOL = 1e-9


def oracle_frame(sql: str, data_dir: str, tables: list[str]) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def _is_null(v) -> bool:
    return v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v))


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame(index=df.index)
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_float_dtype(col):
            out[c] = col.astype(float)
        else:
            out[c] = col.map(lambda v: "NULL" if _is_null(v) else str(v))
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` matches ``want``, else the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    g, w = _canon(got), _canon(want)
    for c in g.columns:
        if pd.api.types.is_float_dtype(g[c]) or pd.api.types.is_float_dtype(w[c]):
            gv = pd.to_numeric(g[c], errors="coerce").to_numpy(dtype=float)
            wv = pd.to_numeric(w[c], errors="coerce").to_numpy(dtype=float)
            same = (np.isnan(gv) & np.isnan(wv)) | np.isclose(
                gv, wv, rtol=TOL, atol=TOL, equal_nan=False)
        else:
            same = (g[c] == w[c]).to_numpy()
        if not same.all():
            i = int(np.argmin(same))
            return f"column {c} row {i}: {g[c].iloc[i]!r} != oracle {w[c].iloc[i]!r}"
    return None
