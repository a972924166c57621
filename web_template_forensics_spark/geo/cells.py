"""WGQ — the engine's H3/S2-style hierarchical cell index (from-scratch spec).

The north rule mandates an "H3/S2-style cell index" without the C libraries
(h3/s2 are not installable here), so this module IS the normative spec; all
golden tile/cell fixtures derive from it.

Spec (WGQ = Web-Graft Quadkey), deliberately simple and exactly computable
in both Spark SQL and ANSI SQL so the DuckDB oracle can recompute it:

* Equirectangular grid at level ``L`` in [0, 26]: ``2^L x 2^L`` cells over
  lon in [-180, 180), lat in [90, -90) (row 0 is the north edge, like web
  map tiles).
* ``ix = clip(floor((lon + 180) / 360 * 2^L), 0, 2^L - 1)``
  ``iy = clip(floor((90  - lat) / 180 * 2^L), 0, 2^L - 1)``
* ``cell_id = (L << 52) | morton(ix, iy)`` — Morton/Z-order interleave with
  ix on even bits, iy on odd bits (52 bits cover L=26). int64, positive.
* ``parent``/``children`` shift ix/iy by one level (quadtree).
* ``k_ring(cell, k)``: all cells with ``|dix| <= k`` (wrapping in lon) and
  ``|diy| <= k`` (clamped at the poles, out-of-range rows dropped) — the
  H3 ``grid_disk`` analogue used by the kNN expansion join.
* A slippy tile ``(z, x, y)`` is exactly the level-``z`` cell ``(ix, iy)``;
  ``tile_of`` / ``cell_to_tile`` convert both ways.

Everything is vectorized numpy over int64/float64; no per-row Python.
Distance helpers: ``haversine_m`` (real meters) and the planar
degree-space metric used by the kNN fixtures (pure arithmetic ->
bit-identical across engines).
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 26
_LEVEL_SHIFT = 52
EARTH_RADIUS_M = 6_371_008.8  # IUGG mean radius


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 26 bits of each int64 onto even bit positions."""
    v = v.astype(np.int64) & 0x3FFFFFF
    v = (v | (v << 16)) & 0x0000FFFF0000FFFF
    v = (v | (v << 8)) & 0x00FF00FF00FF00FF
    v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0F
    v = (v | (v << 2)) & 0x3333333333333333
    v = (v | (v << 1)) & 0x5555555555555555
    return v


def _compact1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64) & 0x5555555555555555
    v = (v | (v >> 1)) & 0x3333333333333333
    v = (v | (v >> 2)) & 0x0F0F0F0F0F0F0F0F
    v = (v | (v >> 4)) & 0x00FF00FF00FF00FF
    v = (v | (v >> 8)) & 0x0000FFFF0000FFFF
    v = (v | (v >> 16)) & 0x00000000FFFFFFFF
    return v


def _as_i64(x) -> np.ndarray:
    return np.asarray(x, dtype=np.int64)


def _as_f64(x) -> np.ndarray:
    return np.asarray(x, dtype=np.float64)


def lonlat_to_ij(lat, lon, level: int) -> tuple[np.ndarray, np.ndarray]:
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}], got {level}")
    n = np.int64(1) << level
    lat = _as_f64(lat)
    lon = _as_f64(lon)
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * n).astype(np.int64), 0, n - 1)
    iy = np.clip(np.floor((90.0 - lat) / 180.0 * n).astype(np.int64), 0, n - 1)
    return np.asarray(ix), np.asarray(iy)


def cell_from_ij(ix, iy, level: int) -> np.ndarray:
    ix = _as_i64(ix)
    iy = _as_i64(iy)
    return (np.int64(level) << _LEVEL_SHIFT) | _part1by1(ix) | (_part1by1(iy) << 1)


def cell_encode(lat, lon, level: int) -> np.ndarray:
    """lat/lon (degrees) -> int64 WGQ cell id at ``level``."""
    ix, iy = lonlat_to_ij(lat, lon, level)
    return cell_from_ij(ix, iy, level)


def cell_decode(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell id -> (level, ix, iy)."""
    cell = _as_i64(cell)
    level = cell >> _LEVEL_SHIFT
    morton = cell & ((np.int64(1) << _LEVEL_SHIFT) - 1)
    ix = _compact1by1(morton)
    iy = _compact1by1(morton >> 1)
    return level, ix, iy


def cell_ij(cell) -> tuple[np.ndarray, np.ndarray]:
    _, ix, iy = cell_decode(cell)
    return ix, iy


def cell_parent(cell, parent_level: int) -> np.ndarray:
    level, ix, iy = cell_decode(cell)
    if np.any(level < parent_level):
        raise ValueError("parent_level must be <= cell level")
    shift = level - np.int64(parent_level)
    return cell_from_ij(ix >> shift, iy >> shift, parent_level)


def cell_children(cell) -> np.ndarray:
    """The 4 child cells (one level down). Shape (..., 4)."""
    level, ix, iy = cell_decode(cell)
    lv = int(np.max(level)) if np.ndim(level) else int(level)
    if np.ndim(level) and not np.all(level == lv):
        raise ValueError("cell_children requires uniform level")
    if lv >= MAX_LEVEL:
        raise ValueError("cannot descend below MAX_LEVEL")
    ix2 = (ix << 1)[..., None] + np.array([0, 1, 0, 1], dtype=np.int64)
    iy2 = (iy << 1)[..., None] + np.array([0, 0, 1, 1], dtype=np.int64)
    return cell_from_ij(ix2, iy2, lv + 1)


def k_ring(cell: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k (the H3 grid_disk analogue).

    Longitude wraps; latitude clamps (rows past the poles are dropped).
    Scalar cell in, 1-D int64 array out, sorted ascending (deterministic).
    """
    level, ix, iy = cell_decode(np.int64(cell))
    level = int(level)
    n = np.int64(1) << level
    dx = np.arange(-k, k + 1, dtype=np.int64)
    dy = np.arange(-k, k + 1, dtype=np.int64)
    gx = np.broadcast_to((ix + dx[:, None]) % n, (len(dx), len(dy)))  # lon wrap
    gy = np.broadcast_to(iy + dy[None, :], (len(dx), len(dy)))
    mask = (gy >= 0) & (gy < n)  # lat clamp
    ids = cell_from_ij(gx[mask], gy[mask], level)
    return np.unique(ids)


def cell_bounds(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(lat_min, lat_max, lon_min, lon_max) of the cell rectangle."""
    level, ix, iy = cell_decode(cell)
    n = (np.int64(1) << level).astype(np.float64)
    lon_min = ix / n * 360.0 - 180.0
    lon_max = (ix + 1) / n * 360.0 - 180.0
    lat_max = 90.0 - iy / n * 180.0
    lat_min = 90.0 - (iy + 1) / n * 180.0
    return lat_min, lat_max, lon_min, lon_max


def cell_center(cell) -> tuple[np.ndarray, np.ndarray]:
    lat_min, lat_max, lon_min, lon_max = cell_bounds(cell)
    return (lat_min + lat_max) / 2.0, (lon_min + lon_max) / 2.0


def tile_of(lat, lon, z: int) -> tuple[np.ndarray, np.ndarray]:
    """Slippy-style (x, y) tile at zoom z == level-z cell (ix, iy)."""
    return lonlat_to_ij(lat, lon, z)


def cell_to_tile(cell, z: int) -> tuple[np.ndarray, np.ndarray]:
    """Cell id -> containing tile (x, y) at zoom z (z <= cell level)."""
    level, ix, iy = cell_decode(cell)
    shift = level - np.int64(z)
    if np.any(shift < 0):
        raise ValueError("tile zoom must be <= cell level")
    return ix >> shift, iy >> shift


def haversine_m(lat1, lon1, lat2, lon2) -> np.ndarray:
    """Great-circle distance in meters (vectorized)."""
    lat1, lon1, lat2, lon2 = map(_as_f64, (lat1, lon1, lat2, lon2))
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp = p2 - p1
    dl = np.radians(lon2) - np.radians(lon1)
    a = np.sin(dp / 2.0) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))


def planar_dist2(lat1, lon1, lat2, lon2) -> np.ndarray:
    """Squared planar distance in degree space.

    The kNN fixture metric: pure +/-/* on float64, so Spark, numpy and
    DuckDB produce bit-identical values for identical inputs.
    """
    lat1, lon1, lat2, lon2 = map(_as_f64, (lat1, lon1, lat2, lon2))
    dlat = lat1 - lat2
    dlon = lon1 - lon2
    return dlat * dlat + dlon * dlon
