"""Correctness checks for the benchmark's outputs.

Oracle queries are compared against their ``oracle_sql()`` DuckDB twin
on the same generated inputs: same row count, same column names and
equal cell values, order-insensitive. Floats must match exactly: the
engine's hash-checked queries use exact integer arithmetic. Queries with
no twin get the rows-only checks in ``ROWS_ONLY``.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object or str(df[c].dtype).startswith(("datetime", "date")):
            df[c] = df[c].map(lambda v: None if v is None or v != v else str(v))
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line description of the first mismatch."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    g, w = _normalize(got), _normalize(want)
    for c in g.columns:
        a, b = g[c], w[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            a, b = a.astype(float), b.astype(float)
        eq = (a == b) | (a.isna() & b.isna())
        if not eq.all():
            i = (~eq).idxmax()
            return f"column {c}: {int((~eq).sum())} cells differ, first {a[i]!r} != {b[i]!r}"
    return None


def _pairs_ok(df: pd.DataFrame, metric: str, lo: float, hi: float) -> str | None:
    if len(df) == 0:
        return "no pairs"
    if not (df["id_a"] < df["id_b"]).all():
        return "pair not ordered id_a < id_b"
    if df.duplicated(["id_a", "id_b"]).any():
        return "duplicate pair"
    if not df[metric].between(lo, hi).all():
        return f"{metric} outside [{lo}, {hi}]"
    return None


def _bpe_ok(df: pd.DataFrame) -> str | None:
    return None if len(df) else "no rows"


#: Rows-only checks for queries without a DuckDB twin.
ROWS_ONLY = {
    "q40_minhash_pairs": lambda df: _pairs_ok(df, "est_jaccard", 0.0, 1.0),
    "q143_bpe_encode": _bpe_ok,
}


class QueryChecker:
    """Checks query outputs against DuckDB twins over ``data_dir``."""

    def __init__(self, data_dir: str, oracles: dict[str, str]):
        self.oracles = oracles
        self.con = duckdb.connect()
        self.con.execute("SET threads=1")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def check(self, name: str, got: pd.DataFrame) -> str | None:
        if name in self.oracles:
            return compare(got, self.con.sql(self.oracles[name]).df())
        if name in ROWS_ONLY:
            return ROWS_ONLY[name](got)
        return "no oracle and no rows-only check"

    def close(self) -> None:
        self.con.close()
