"""Comparison helpers shared by the workloads' correctness checks: the
same order-insensitive, render-exact compare the repo's oracle tests use."""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Columns by name, datetimes at µs, rows sorted by their string render."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    if len(df):
        key = df.astype(str).apply(lambda r: "\x1f".join(r.values), axis=1)
        df = df.iloc[key.sort_values(kind="mergesort").index].reset_index(drop=True)
    return df


def frame_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a frame's string render: columns by name,
    datetimes at µs, rows sorted."""
    cols = sorted(df.columns)
    rendered = []
    for c in cols:
        col = df[c]
        if str(col.dtype).startswith("datetime64"):
            col = col.astype("datetime64[us]")
        rendered.append(col.astype(str).reset_index(drop=True))
    rows = rendered[0].str.cat(rendered[1:], sep="\x1f") if len(cols) > 1 else rendered[0]
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in sorted(rows.tolist()):
        h.update(r.encode() + b"\x1e")
    return h.hexdigest()


def duck_over(tables_dir: str, names) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    return con
