"""Output checks: a canonical fingerprint of a result, compared with the
fingerprint of the DuckDB oracle on the same generated input.

The canonical form is the one the registry's oracle gate uses (columns
sorted by name, rows sorted, floats rounded to 6 places, timestamps at
millisecond precision), so a registry query that passes that gate
matches here too.
"""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd


def fingerprint(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.dt.floor("ms").astype("datetime64[ms]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(6)
        elif s.dtype == object:
            df[c] = s.astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    body = df.to_csv(index=False, float_format="%.6f")
    return f"{len(df)}:{hashlib.md5(body.encode()).hexdigest()}"


class Oracle:
    """DuckDB with one view per input table, ``{table: parquet path or glob}``."""

    def __init__(self, paths: dict[str, str]):
        self.con = duckdb.connect()
        for t, path in paths.items():
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def fingerprint(self, sql: str) -> str:
        return fingerprint(self.con.execute(sql).df())

    def close(self) -> None:
        self.con.close()
