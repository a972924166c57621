"""Spark-vs-DuckDB result comparison for the oracle gate.

``duck_con`` opens DuckDB views over an sf directory's parquet tables;
``compare`` checks a Spark result against the DuckDB result of its
``oracle_sql()`` entry: row count, column-name set and exact cell values
(order-insensitive, via ``canon``). The gate itself is
tests/test_oracle_full.py:

    SPARK_GRAFT_ORACLE_FULL=1 python -m pytest tests/test_oracle_full.py -q [-k name]
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        else:
            df[c] = df[c].astype("string")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(sdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(sdf.columns) != sorted(ddf.columns):
        problems.append(f"columns spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}")
        return problems
    if len(sdf) != len(ddf):
        problems.append(f"rowcount spark={len(sdf)} duck={len(ddf)}")
        return problems
    a, b = canon(sdf), canon(ddf)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av):
            eq = (av.to_numpy() == bv.to_numpy()) | (av.isna() & b[c].isna()).to_numpy()
            bad = int((~eq).sum())
            if bad:
                i = int(np.argmax(~eq))
                problems.append(
                    f"col {c}: {bad} float mismatches, first at row {i}: "
                    f"{av.iloc[i]!r} vs {bv.iloc[i]!r} (diff {abs(av.iloc[i]-bv.iloc[i]):.3e})"
                )
        else:
            eq = (av == bv) | (av.isna() & bv.isna())
            bad = int((~eq).sum())
            if bad:
                i = int(np.argmax((~eq).to_numpy()))
                problems.append(
                    f"col {c}: {bad} mismatches, first at row {i}: {av.iloc[i]!r} vs {bv.iloc[i]!r}"
                )
    return problems

