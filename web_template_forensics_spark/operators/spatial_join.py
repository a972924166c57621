"""Spatial joins: broadcast point-in-polygon (J8) and k-ring kNN (J9).

Scale design (the 100 TB story):
  * PIP — polygons are small side data; the cell-bucket index (cell_id ->
    poly_ids) is broadcast, so the candidate pairing is a broadcast hash
    join on int64 cell keys with NO shuffle of the page table. The exact
    even-odd ray cast runs on candidates only, as a JVM ``aggregate`` over
    the polygon's edge array (a broadcast one-row-per-polygon table), so
    no candidate crosses into Python. Hot cells (dense TLD clusters) are
    immune on the broadcast side; the downstream aggregations combine
    map-side (tiles.py).
  * kNN — one lazy plan, no driver action: every probe joins the corpus
    on its disk-1 cell ids (an equi-join, never the full cross product)
    and keeps its top k. A probe whose k-th candidate lies inside the
    disk's proven radius is done; only the rest (probes in regions too
    sparse for their disk) take a brute-force pass over the corpus. Top-k
    is a ranking window per probe with a documented total order
    (dist2, neighbor_id), so results are deterministic and exactly
    reproducible by the DuckDB brute-force oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.geo_udfs import cell_id_col, k_ring_col, tile_ix_col, tile_iy_col
from ..geo.polygons import Polygon, build_cell_index

_EDGE_SCHEMA = (
    "poly_id long, anti boolean, "
    "edges array<struct<y1: double, x1: double, y2: double, x2: double>>"
)

# ``geo.polygons.points_in_polygon`` in SQL: the even-odd crossing count
# over every ring's edges at once (all rings share one parity), with the
# half-open straddle and ``_crossings``' operation order kept, so the
# verdict is bitwise the numpy one. Lat is y, lon is x; an antimeridian
# polygon's rings are already in the +360 frame, so negative probe lons
# shift into it too. Horizontal edges never straddle and are left out of
# the table, so no division by zero is ever built.
_RAY_CAST = """
  aggregate(edges, 0, (acc, e) -> acc + IF(
    (e.y1 > lat) != (e.y2 > lat)
      AND x < e.x1 + (lat - e.y1) * (e.x2 - e.x1) / (e.y2 - e.y1), 1, 0)) % 2 = 1
"""


def _edge_table(polygons: list[Polygon]) -> pd.DataFrame:
    rows = []
    for p in polygons:
        # (y1, x1, y2, x2) per edge, every ring closed by its first vertex
        e = np.concatenate([np.hstack([r, np.roll(r, -1, axis=0)]) for r in p.rings])
        e = e[e[:, 0] != e[:, 2]]  # horizontal edges never straddle
        edges = [dict(zip(("y1", "x1", "y2", "x2"), v)) for v in e.tolist()]
        rows.append((p.poly_id, p.crosses_antimeridian, edges))
    return pd.DataFrame(rows, columns=["poly_id", "anti", "edges"])


def pip_join(
    spark: SparkSession,
    points: DataFrame,
    polygons: list[Polygon],
    index_level: int = 6,
) -> DataFrame:
    """Exact point-in-polygon join -> (id, poly_id).

    points: DataFrame with (id, lat, lon). polygons: small side data.
    Both side tables are built from pandas over Arrow, so they plan as
    local relations and no Python worker runs. Broadcasting each one is
    still a job: its BroadcastExchange collects the relation through
    min(rows, cores) tasks.
    """
    index = build_cell_index(polygons, index_level)
    index_pdf = pd.DataFrame(
        [(c, p) for c, ps in index.items() for p in ps], columns=["cell_id", "poly_id"]
    ).astype("int64")
    index_df = spark.createDataFrame(index_pdf, schema="cell_id long, poly_id long")
    edges_df = spark.createDataFrame(_edge_table(polygons), schema=_EDGE_SCHEMA)

    pts = points.select("id", "lat", "lon", cell_id_col("lat", "lon", index_level).alias("cell_id"))
    return (
        pts.join(F.broadcast(index_df), "cell_id")
        .join(F.broadcast(edges_df), "poly_id")
        .withColumn("x", F.expr("IF(anti AND lon < 0, lon + 360.0D, lon)"))
        .filter(F.expr(_RAY_CAST))
        .select("id", "poly_id")
    )


def knn_join(
    spark: SparkSession,
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    level: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Deterministic planar kNN: (probe_id, neighbor_id, rank, dist2).

    probes/corpus: (id, lat, lon). Metric: squared planar degree distance
    (geo/cells.py planar_dist2 — exact IEEE arithmetic, oracle-matchable).
    Returns one lazy frame; building it runs no job and persists nothing.

    One ring round: each probe's disk-1 cells join the corpus. Coverage
    proof: a probe is done when it holds k candidates and its kth dist2 is
    below (180 / 2^level)^2 — every point outside the disk is at least one
    cell height away, so it cannot be nearer. Each unproven probe (a sparse
    region, or k beyond what its disk holds) goes to a brute-force pass
    over the whole corpus instead.
    """
    guarantee = (180.0 / (1 << level)) ** 2  # disk-1 covered radius, squared
    lat, lon = F.col("lat"), F.col("lon")

    corpus_c = corpus.select(
        F.col("id").alias("neighbor_id"),
        lat.alias("n_lat"),
        lon.alias("n_lon"),
        cell_id_col("lat", "lon", level).alias("n_cell"),
    )
    probes_c = probes.select(
        F.col("id").alias("probe_id"),
        lat.alias("p_lat"),
        lon.alias("p_lon"),
        tile_ix_col("lon", level).alias("p_ix"),
        tile_iy_col("lat", level).alias("p_iy"),
    )
    # explode_outer keeps a probe with null coordinates (its ring is
    # empty), so it reaches the brute-force pass like any unproven probe
    disk = probes_c.select(
        "probe_id", "p_lat", "p_lon",
        F.explode_outer(k_ring_col("p_ix", "p_iy", level, 1)).alias("cell_id"),
    )
    # the self-exclusion sits inside the LEFT join's condition, so a probe
    # alone in its disk keeps one null row instead of vanishing
    on = F.col("cell_id") == F.col("n_cell")
    if exclude_self:
        on = on & (F.col("probe_id") != F.col("neighbor_id"))

    dist2 = (
        (F.col("p_lat") - F.col("n_lat")) * (F.col("p_lat") - F.col("n_lat"))
        + (F.col("p_lon") - F.col("n_lon")) * (F.col("p_lon") - F.col("n_lon"))
    )
    # a probe is its id AND its point: with the coordinates among the
    # partition keys both branches below need the same round-1 columns, so
    # Spark runs the round-1 shuffle once (ReusedExchange) instead of
    # letting the proven branch prune p_lat/p_lon into a second one
    probe = ("probe_id", "p_lat", "p_lon")
    by_dist = Window.partitionBy(*probe).orderBy(
        F.col("dist2").asc_nulls_last(), F.col("neighbor_id").asc_nulls_last()
    )
    by_probe = Window.partitionBy(*probe)
    out_cols = ("probe_id", "neighbor_id", "rank", "dist2")

    ranked = (
        disk.join(corpus_c, on, "left")
        .withColumn("dist2", dist2)
        .withColumn("rank", F.row_number().over(by_dist))
        .filter(F.col("rank") <= k)
        .withColumn(
            "proven",
            (F.count("neighbor_id").over(by_probe) >= k)
            & (F.max("dist2").over(by_probe) < F.lit(guarantee)),
        )
    )
    proven = ranked.filter(F.col("proven")).select(*out_cols)

    # one row per unproven probe: its rank-1 row carries the probe columns
    brute = (
        ranked.filter(~F.col("proven") & (F.col("rank") == 1))
        .select(*probe)
        .crossJoin(corpus_c.drop("n_cell"))
    )
    if exclude_self:
        brute = brute.filter(F.col("probe_id") != F.col("neighbor_id"))
    brute = (
        brute.withColumn("dist2", dist2)
        .withColumn("rank", F.row_number().over(by_dist))
        .filter(F.col("rank") <= k)
        .select(*out_cols)
    )
    return proven.unionByName(brute)
