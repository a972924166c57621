"""Geo column functions: numpy-vectorized pandas UDFs over the WGQ spec
plus pure-SQL Column builders for the oracle-checkable paths.

Two faces for the same math:
  * ``*_udf``   — Arrow-batched numpy (zero per-row Python), for the
    pipeline hot path.
  * ``*_col``   — pure Spark SQL Column expressions (floor/bit ops only),
    letting Catalyst codegen the whole stage JVM-side AND letting the
    DuckDB oracle recompute identical values from the same ANSI SQL.
Both are tested to agree exactly with :mod:`..geo.cells`.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geo import cells


def cell_encode_udf(level: int):
    @F.pandas_udf(T.LongType())
    def _enc(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(cells.cell_encode(lat.to_numpy(), lon.to_numpy(), level))

    return _enc


# ---------------------------------------------------------------------------
# Pure-SQL Column builders (Catalyst-codegen'd; DuckDB-recomputable)
# ---------------------------------------------------------------------------


def tile_ix_col(lon: Column, z: int) -> Column:
    n = 1 << z
    raw = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), raw)).cast("long")


def tile_iy_col(lat: Column, z: int) -> Column:
    n = 1 << z
    raw = F.floor((F.lit(90.0) - lat) / F.lit(180.0) * F.lit(float(n)))
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), raw)).cast("long")


def morton_col(ix: Column, iy: Column, level: int) -> Column:
    """Bit-interleave as a sum of shifted bit tests — plain integer SQL."""
    expr = F.lit(0).cast("long")
    for b in range(level):
        expr = expr + (
            F.shiftleft(F.shiftright(ix, b) % 2, 2 * b).cast("long")
            + F.shiftleft(F.shiftright(iy, b) % 2, 2 * b + 1).cast("long")
        )
    return expr


def cell_id_col(lat: Column, lon: Column, level: int) -> Column:
    ix = tile_ix_col(lon, level)
    iy = tile_iy_col(lat, level)
    return (F.lit(level).cast("long") * F.lit(1 << 52).cast("long")) + morton_col(ix, iy, level)


def tile_ix_sql(lon_expr: str, z: int) -> str:
    n = 1 << z
    return (
        f"greatest(0, least({n - 1}, "
        f"cast(floor((({lon_expr}) + 180.0) / 360.0 * {float(n)}) as bigint)))"
    )


def tile_iy_sql(lat_expr: str, z: int) -> str:
    n = 1 << z
    return (
        f"greatest(0, least({n - 1}, "
        f"cast(floor((90.0 - ({lat_expr})) / 180.0 * {float(n)}) as bigint)))"
    )


def morton_sql(ix_expr: str, iy_expr: str, level: int) -> str:
    terms = []
    for b in range(level):
        terms.append(f"((({ix_expr}) >> {b}) % 2) * {1 << (2 * b)}")
        terms.append(f"((({iy_expr}) >> {b}) % 2) * {1 << (2 * b + 1)}")
    return "(" + " + ".join(terms) + ")"


def cell_id_sql(lat_expr: str, lon_expr: str, level: int) -> str:
    ix = tile_ix_sql(lon_expr, level)
    iy = tile_iy_sql(lat_expr, level)
    return f"({level} * {1 << 52} + {morton_sql(ix, iy, level)})"
