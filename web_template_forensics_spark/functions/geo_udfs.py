"""Geo Column builders: the WGQ cell math as Spark SQL expressions.

One face: the ``*_sql`` functions write the cell math as ANSI SQL text
(floor, bit shifts and array higher-order functions), and every ``*_col``
builder is ``F.expr`` over that text — one parse per call, however many
bits the level has. The DuckDB oracle runs the same text, so the SQL is the
spec both engines execute. Arguments are SQL expressions, usually column
names. :mod:`..geo.cells` is the numpy reference spec; the builders are
tested to agree with it exactly, row by row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..geo import cells


def _check_level(level: int) -> None:
    if not 0 <= level <= cells.MAX_LEVEL:
        raise ValueError(f"level must be in [0, {cells.MAX_LEVEL}], got {level}")


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
    """Bit-interleave as a sum of shifted bit tests — plain integer SQL."""
    if level == 0:
        return "0"
    terms = []
    for b in range(level):
        terms.append(f"((({ix_expr}) >> {b}) % 2) * {1 << (2 * b)}")
        terms.append(f"((({iy_expr}) >> {b}) % 2) * {1 << (2 * b + 1)}")
    return "(" + " + ".join(terms) + ")"


def cell_from_ij_sql(ix_expr: str, iy_expr: str, level: int) -> str:
    """``(level << 52) | morton(ix, iy)`` — the spec's ``cell_from_ij``,
    a bigint at every level."""
    _check_level(level)
    morton = morton_sql(f"cast({ix_expr} as bigint)", f"cast({iy_expr} as bigint)", level)
    return f"(cast({level << 52} as bigint) + {morton})"


def tile_ix_col(lon: str, z: int) -> Column:
    return F.expr(tile_ix_sql(lon, z))


def tile_iy_col(lat: str, z: int) -> Column:
    return F.expr(tile_iy_sql(lat, z))


def cell_from_ij_col(ix: str, iy: str, level: int) -> Column:
    return F.expr(cell_from_ij_sql(ix, iy, level))


def cell_id_col(lat: str, lon: str, level: int) -> Column:
    _check_level(level)  # before tile_*_sql, where 1 << -1 raises its own error
    return F.expr(cell_from_ij_sql(tile_ix_sql(lon, level), tile_iy_sql(lat, level), level))


def k_ring_col(ix: str, iy: str, level: int, k: int) -> Column:
    """``array<bigint>`` of the cells within Chebyshev distance ``k`` of
    (ix, iy) — the spec's ``k_ring``, in no particular order.

    Longitude wraps and rows past the poles are dropped. ``array_distinct``
    matters: at low levels the disk folds onto itself (at level 1, ix-1 and
    ix+1 are the same column), and the spec's ``np.unique`` keeps one copy.
    The wrapped columns and kept rows are built once, so the per-bit Morton
    terms only read lambda variables.
    """
    _check_level(level)
    n = 1 << level
    cols = f"transform(sequence({-k}, {k}), _dx -> pmod(({ix}) + _dx, {n}))"
    rows = (
        f"filter(transform(sequence({-k}, {k}), _dy -> ({iy}) + _dy), "
        f"_ry -> _ry >= 0 AND _ry < {n})"
    )
    cell = cell_from_ij_sql("_rx", "_ry", level)
    return F.expr(
        f"array_distinct(flatten(transform({cols}, _rx -> transform({rows}, _ry -> {cell}))))"
    )
