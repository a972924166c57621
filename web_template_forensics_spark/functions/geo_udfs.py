"""Geo Column builders: the WGQ cell math as Spark SQL expressions.

One face: every builder returns a pure Column expression (floor, bit ops
and array higher-order functions), so Catalyst runs the whole stage in the
JVM with no Python round-trip. The ``*_sql`` string twins let the DuckDB
oracle recompute identical values from the same ANSI SQL.
:mod:`..geo.cells` is the numpy reference spec; the builders are tested to
agree with it exactly, row by row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..geo import cells


def _check_level(level: int) -> None:
    if not 0 <= level <= cells.MAX_LEVEL:
        raise ValueError(f"level must be in [0, {cells.MAX_LEVEL}], got {level}")


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


def cell_from_ij_col(ix: Column, iy: Column, level: int) -> Column:
    """``(level << 52) | morton(ix, iy)`` — the spec's ``cell_from_ij``."""
    _check_level(level)
    return F.lit(level << 52).cast("long") + morton_col(ix.cast("long"), iy.cast("long"), level)


def cell_id_col(lat: Column, lon: Column, level: int) -> Column:
    _check_level(level)  # before tile_*_col, where 1 << -1 raises its own error
    return cell_from_ij_col(tile_ix_col(lon, level), tile_iy_col(lat, level), level)


def k_ring_col(ix: Column, iy: Column, level: int, k: int) -> Column:
    """``array<bigint>`` of the cells within Chebyshev distance ``k`` of
    (ix, iy) — the spec's ``k_ring``, in no particular order.

    Longitude wraps and rows past the poles are dropped. ``array_distinct``
    matters: at low levels the disk folds onto itself (at level 1, ix-1 and
    ix+1 are the same column), and the spec's ``np.unique`` keeps one copy.
    """
    _check_level(level)
    n = F.lit(1 << level).cast("long")
    offsets = F.sequence(F.lit(-k), F.lit(k))
    return F.array_distinct(
        F.flatten(
            F.transform(
                offsets,
                lambda dx: F.transform(
                    F.filter(offsets, lambda dy: (iy + dy >= 0) & (iy + dy < n)),
                    lambda dy: cell_from_ij_col(F.pmod(ix + dx, n), iy + dy, level),
                ),
            )
        )
    )


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
