"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and the matching ``oracle_sql()``
on DuckDB over the same parquet, canonicalizes both (columns sorted by
name, rows sorted by all columns, floats rounded to 6dp, timestamps at ms
precision), and hash-compares.  Usage:

    python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_20_spark import get_spark  # noqa: E402
from hadoop_20_spark.catalog import TABLES, table_path  # noqa: E402
from hadoop_20_spark.queries import REGISTRY  # noqa: E402


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    # Driver parity: the driver's canonicalizer row-sorts on RAW cell
    # values and dies on unhashable containers (list/dict/ndarray), which
    # stringify-first used to mask locally.  Fail loudly instead: array
    # results must be serialized (concat_ws / to_json) at the registry
    # boundary.
    for c in df.columns:
        if df[c].dtype == object and len(df):
            # First NON-NULL value: a leading None/scalar cell would let
            # list-bearing columns slip past and crash the driver's
            # row-sort canonicalizer anyway.
            nn = df[c].dropna()
            if nn.empty:
                continue
            v = nn.iloc[0]
            if isinstance(v, (list, dict, set, bytearray)) or type(v).__name__ == "ndarray":
                raise TypeError(
                    f"column {c!r} holds {type(v).__name__} cells — the driver's "
                    "row-sort canonicalizer crashes on these; serialize the "
                    "array in the query (concat_ws/to_json) and the oracle"
                )
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.dt.floor("ms").astype("datetime64[ms]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(6)
        elif s.dtype == object:
            df[c] = s.astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def value_hash(df: pd.DataFrame) -> str:
    return hashlib.md5(
        df.to_csv(index=False, float_format="%.6f").encode()
    ).hexdigest()


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    names = [a for a in args if not os.path.isdir(a)] or list(REGISTRY)

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )

    n_pass = n_fail = n_rows_only = 0
    for name in names:
        q = REGISTRY[name]
        t0 = time.time()
        try:
            sdf = q.fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        finally:
            # Queries that persist intermediates (distributed_cumsum,
            # phrase/BM25 postings, zorder audit) cache for the session
            # lifetime; across a 201-query gate run those accumulate.
            # Clear between queries so cache pressure never leaks from
            # one query's plan into another's timing or memory.
            spark.catalog.clearCache()
        dt_spark = time.time() - t0
        if q.oracle is None:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows ({dt_spark:.1f}s)")
            n_rows_only += 1
            continue
        try:
            odf = con.execute(q.oracle).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        try:
            s_c, o_c = canonicalize(sdf), canonicalize(odf)
        except TypeError as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        problems = []
        if len(s_c) != len(o_c):
            problems.append(f"rows {len(s_c)} vs {len(o_c)}")
        if list(s_c.columns) != list(o_c.columns):
            problems.append(f"cols {list(s_c.columns)} vs {list(o_c.columns)}")
        if not problems and value_hash(s_c) != value_hash(o_c):
            diff_cols = [
                c
                for c in s_c.columns
                if not s_c[c].astype(str).equals(o_c[c].astype(str))
            ]
            problems.append(f"value-hash mismatch in cols {diff_cols}")
            for c in diff_cols[:2]:
                neq = s_c[c].astype(str) != o_c[c].astype(str)
                idx = neq[neq].index[:3]
                for i in idx:
                    problems.append(f"  [{i}] {c}: spark={s_c[c][i]!r} oracle={o_c[c][i]!r}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name}: {len(s_c)} rows ({dt_spark:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
