"""Polygon model + vectorized point-in-polygon for the broadcast PIP join.

Polygons are plain Python structs (they are broadcast side data: the north
rule's "broadcast polygon R-tree"), points are numpy arrays. The spatial
index is a cell-bucket grid ("R-tree-lite"): each polygon is expanded to
the WGQ cells its bbox covers at an index level; the join probes by cell
equi-join, then runs the exact even-odd ray cast on the candidates as a
JVM SQL expression over the polygon's edge array (``operators.spatial_join``;
:func:`points_in_polygon` here is its numpy reference). At 100 TB this
keeps the polygon side O(cells + edges) in the broadcast and makes the
candidate pairing a plain hash join on int64 keys (AQE-splittable if a
cell is hot).

Tie rule (documented, deterministic): membership uses the standard
crossing-number test with half-open edge intervals — a point exactly on a
"lower" edge boundary is inside, on an "upper" edge outside. Fixtures
avoid exact-boundary points; the rule exists so behavior is pinned anyway.

Antimeridian: a polygon whose bbox width would exceed 180 degrees is
treated as crossing the antimeridian; its negative lons (and probe lons
during testing against it) are shifted +360 into a continuous frame.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .cells import cell_from_ij, lonlat_to_ij


@dataclass(frozen=True)
class Polygon:
    poly_id: int
    name: str
    # Each ring is an (n, 2) float64 array of (lat, lon) vertices, not closed.
    # Even-odd rule over all rings => ring[1:] act as holes of ring[0].
    rings: tuple[np.ndarray, ...]
    crosses_antimeridian: bool = field(default=False)

    @staticmethod
    def make(poly_id: int, name: str, rings: list[list[tuple[float, float]]]) -> "Polygon":
        arrs = []
        crosses = False
        for ring in rings:
            a = np.asarray(ring, dtype=np.float64)
            if a.ndim != 2 or a.shape[1] != 2 or a.shape[0] < 3:
                raise ValueError("ring must be (n>=3, 2) of (lat, lon)")
            # shorter-arc convention: an edge whose raw lon span exceeds 180
            # degrees is taken to cross the antimeridian (every polygon edge
            # is assumed to span < 180 degrees of longitude).
            dlon = np.abs(np.diff(np.concatenate([a[:, 1], a[:1, 1]])))
            if np.any(dlon > 180.0):
                crosses = True
            # rings authored with raw out-of-range lons (e.g. a box
            # around anchor lon 179 spanning 167..191) ARE antimeridian
            # polygons even though no single edge spans > 180 — without
            # this, probes whose lon wrapped into [-180, 180) silently
            # fail the ray cast while the covering-cell candidates (which
            # wrap mod n) still match
            if np.any(a[:, 1] > 180.0) or np.any(a[:, 1] < -180.0):
                crosses = True
            arrs.append(a)
        if crosses:
            arrs = [np.column_stack([a[:, 0], np.where(a[:, 1] < 0, a[:, 1] + 360.0, a[:, 1])])
                    for a in arrs]
        return Polygon(poly_id, name, tuple(arrs), crosses)

    def bbox(self) -> tuple[float, float, float, float]:
        lats = np.concatenate([r[:, 0] for r in self.rings])
        lons = np.concatenate([r[:, 1] for r in self.rings])
        return float(lats.min()), float(lats.max()), float(lons.min()), float(lons.max())


def _crossings(lats: np.ndarray, lons: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Crossing-count parity per point for one ring (vectorized over points
    AND edges: points x edges boolean matrix, summed mod 2)."""
    y, x = lats[:, None], lons[:, None]  # treat lat as y, lon as x
    y1, x1 = ring[:, 0][None, :], ring[:, 1][None, :]
    y2 = np.roll(ring[:, 0], -1)[None, :]
    x2 = np.roll(ring[:, 1], -1)[None, :]
    # half-open in y: edge counts if y1 <= y < y2 or y2 <= y < y1
    straddles = (y1 > y) != (y2 > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        x_at_y = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
    hits = straddles & (x < x_at_y)
    return hits.sum(axis=1).astype(np.int64)


def points_in_polygon(lats, lons, poly: Polygon) -> np.ndarray:
    """Vectorized even-odd membership test. Returns bool array."""
    lats = np.asarray(lats, dtype=np.float64)
    lons = np.asarray(lons, dtype=np.float64)
    if poly.crosses_antimeridian:
        lons = np.where(lons < 0, lons + 360.0, lons)
    parity = np.zeros(len(lats), dtype=np.int64)
    for ring in poly.rings:
        parity += _crossings(lats, lons, ring)
    return (parity % 2) == 1


def covering_cells(poly: Polygon, level: int) -> np.ndarray:
    """WGQ cells at ``level`` whose rectangle intersects the polygon bbox.

    Candidate superset (exact test runs on join probes); sorted int64.
    For antimeridian polygons the +360 frame is mapped back per column.
    """
    lat_min, lat_max, lon_min, lon_max = poly.bbox()
    n = np.int64(1) << level
    # bbox corners -> INCLUSIVE ij ranges over raw (un-nudged) edges: an
    # edge exactly on a cell line drags in one extra row/column, which is
    # harmless — this is a candidate superset, the exact ray-cast runs on
    # every join probe.
    iy_lo = int(lonlat_to_ij(np.float64(lat_max), 0.0, level)[1][()])
    iy_hi = int(lonlat_to_ij(np.float64(lat_min), 0.0, level)[1][()])
    ix_lo_f = (lon_min + 180.0) / 360.0 * float(n)
    ix_hi_f = (lon_max + 180.0) / 360.0 * float(n)
    ix_range = np.arange(int(np.floor(ix_lo_f)), int(np.floor(ix_hi_f)) + 1, dtype=np.int64)
    ix_range = ix_range % n  # antimeridian frame wraps back into grid
    iy_range = np.arange(iy_lo, iy_hi + 1, dtype=np.int64)
    gx, gy = np.meshgrid(ix_range, iy_range, indexing="ij")
    return np.unique(cell_from_ij(gx.ravel(), gy.ravel(), level))


def build_cell_index(polys: list[Polygon], level: int) -> dict[int, list[int]]:
    """cell_id -> [poly_id] bucket map (the broadcast 'R-tree-lite')."""
    index: dict[int, list[int]] = {}
    for p in polys:
        for c in covering_cells(p, level).tolist():
            index.setdefault(c, []).append(p.poly_id)
    for c in index:
        index[c].sort()
    return index
