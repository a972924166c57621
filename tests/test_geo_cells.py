"""WGQ cell index spec tests (pure numpy, no Spark)."""

import numpy as np

from web_template_forensics_spark.geo import cells
from web_template_forensics_spark.geo.polygons import (
    Polygon,
    build_cell_index,
    covering_cells,
    points_in_polygon,
)


def test_encode_decode_roundtrip():
    rng = np.random.RandomState(1)
    lat = rng.uniform(-89.9, 89.9, 1000)
    lon = rng.uniform(-180.0, 179.9, 1000)
    for level in (0, 1, 5, 12, 26):
        c = cells.cell_encode(lat, lon, level)
        lv, ix, iy = cells.cell_decode(c)
        assert np.all(lv == level)
        ix2, iy2 = cells.lonlat_to_ij(lat, lon, level)
        assert np.array_equal(ix, ix2)
        assert np.array_equal(iy, iy2)
        # centers re-encode to the same cell
        clat, clon = cells.cell_center(c)
        assert np.array_equal(cells.cell_encode(clat, clon, level), c)


def test_known_cells():
    # level 1: 2x2 grid. (0,0) = NW quadrant
    assert int(cells.cell_encode(45.0, -90.0, 1)[()]) == (1 << 52) | 0
    assert int(cells.cell_encode(45.0, 90.0, 1)[()]) == (1 << 52) | 1
    assert int(cells.cell_encode(-45.0, -90.0, 1)[()]) == (1 << 52) | 2
    assert int(cells.cell_encode(-45.0, 90.0, 1)[()]) == (1 << 52) | 3


def test_parent_child():
    c = cells.cell_encode(48.5, 9.1, 10)
    p = cells.cell_parent(c, 8)
    lv, ix, iy = cells.cell_decode(c)
    lvp, ixp, iyp = cells.cell_decode(p)
    assert int(lvp[()]) == 8
    assert np.array_equal(ixp, ix >> 2) and np.array_equal(iyp, iy >> 2)
    kids = cells.cell_children(p)
    assert kids.shape[-1] == 4
    assert np.array_equal(cells.cell_parent(kids, 8), np.broadcast_to(p, kids.shape))


def test_k_ring_interior():
    c = int(cells.cell_encode(10.0, 10.0, 6)[()])
    disk = cells.k_ring(c, 1)
    assert len(disk) == 9 and c in disk.tolist()
    assert len(cells.k_ring(c, 2)) == 25


def test_k_ring_pole_clamp_and_lon_wrap():
    # top row: northern neighbors dropped
    c = int(cells.cell_encode(89.9, 0.0, 4)[()])
    assert len(cells.k_ring(c, 1)) == 6
    # antimeridian: wraps, still 9 distinct
    c2 = int(cells.cell_encode(0.0, 179.9, 4)[()])
    disk = cells.k_ring(c2, 1)
    assert len(disk) == 9
    xs = cells.cell_ij(disk)[0]
    assert 0 in xs.tolist() and (2**4 - 1) in xs.tolist()


def test_tile_of_matches_cells():
    lat, lon = 37.5, -122.3
    ix, iy = cells.tile_of(lat, lon, 8)
    c = cells.cell_encode(lat, lon, 12)
    tx, ty = cells.cell_to_tile(c, 8)
    assert int(ix[()]) == int(tx[()]) and int(iy[()]) == int(ty[()])


def test_haversine_known():
    # quarter meridian ~ 10,007 km
    d = float(cells.haversine_m(0.0, 0.0, 90.0, 0.0)[()])
    assert abs(d - 10_007_543) / 10_007_543 < 0.01


# ---- polygons ------------------------------------------------------------


def square(poly_id, lat0, lon0, size):
    return Polygon.make(
        poly_id,
        f"sq{poly_id}",
        [[(lat0, lon0), (lat0, lon0 + size), (lat0 + size, lon0 + size), (lat0 + size, lon0)]],
    )


def test_pip_square():
    p = square(1, 10.0, 20.0, 5.0)
    lats = np.array([12.5, 9.0, 16.0, 10.1, 14.9])
    lons = np.array([22.5, 22.0, 22.0, 20.1, 24.9])
    assert points_in_polygon(lats, lons, p).tolist() == [True, False, False, True, True]


def test_pip_concave_and_hole():
    # L-shape (concave)
    l_shape = Polygon.make(
        2, "L", [[(0, 0), (0, 4), (1, 4), (1, 1), (4, 1), (4, 0)]]
    )
    assert points_in_polygon([0.5], [3.0], l_shape).tolist() == [True]
    assert points_in_polygon([2.0], [3.0], l_shape).tolist() == [False]
    assert points_in_polygon([2.0], [0.5], l_shape).tolist() == [True]
    # square with square hole (even-odd over two rings)
    donut = Polygon.make(
        3, "donut", [
            [(0, 0), (0, 10), (10, 10), (10, 0)],
            [(3, 3), (3, 7), (7, 7), (7, 3)],
        ],
    )
    assert points_in_polygon([5.0], [5.0], donut).tolist() == [False]
    assert points_in_polygon([1.0], [5.0], donut).tolist() == [True]


def test_pip_antimeridian():
    p = Polygon.make(4, "fiji", [[(-20, 175), (-20, -175), (-10, -175), (-10, 175)]])
    assert p.crosses_antimeridian
    assert points_in_polygon([-15.0], [179.0], p).tolist() == [True]
    assert points_in_polygon([-15.0], [-179.0], p).tolist() == [True]
    assert points_in_polygon([-15.0], [170.0], p).tolist() == [False]


def test_covering_cells_and_index():
    p = square(1, 10.0, 20.0, 5.0)
    cover = covering_cells(p, 6)
    # every point inside must land in a covered cell
    rng = np.random.RandomState(2)
    lats = rng.uniform(10.0, 15.0, 200)
    lons = rng.uniform(20.0, 25.0, 200)
    pcells = cells.cell_encode(lats, lons, 6)
    assert set(pcells.tolist()) <= set(cover.tolist())
    idx = build_cell_index([p, square(2, 11.0, 21.0, 1.0)], 6)
    some_cell = int(cells.cell_encode(11.5, 21.5, 6)[()])
    assert idx[some_cell] == [1, 2]


def test_polygon_out_of_range_lons_cross_antimeridian():
    """A box authored with raw lon > 180 (anchor near the antimeridian,
    e.g. lon 179 +/- 12 -> 167..191) must match probes whose longitude
    wrapped into [-180, 180) — previously no single edge spanned > 180 so
    detection failed and wrapped probes silently lost membership."""
    from web_template_forensics_spark.geo.polygons import (
        Polygon,
        covering_cells,
        points_in_polygon,
    )

    ring = [(-25.5, 167.0), (-25.5, 191.0), (-9.5, 191.0), (-9.5, 167.0)]
    p = Polygon.make(1, "around-fj", [ring])
    assert p.crosses_antimeridian
    # east of the antimeridian, expressed in wrapped coordinates
    assert points_in_polygon([-15.9], [-178.3], p)[0]
    # west side still matches, far-away point does not
    assert points_in_polygon([-17.5], [179.0], p)[0]
    assert not points_in_polygon([-17.5], [0.0], p)[0]
    # the covering cells include the wrapped probe's cell
    from web_template_forensics_spark.geo import cells

    lvl = 6
    assert int(cells.cell_encode(-15.9, -178.3, lvl)[()]) in set(
        covering_cells(p, lvl).tolist()
    )
    # negative-side authoring (-191..-167) works symmetrically
    ring2 = [(-25.5, -191.0), (-25.5, -167.0), (-9.5, -167.0), (-9.5, -191.0)]
    p2 = Polygon.make(2, "neg", [ring2])
    assert p2.crosses_antimeridian
    assert points_in_polygon([-15.9], [178.3], p2)[0]
