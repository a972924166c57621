"""Tile materialization: per-tile rollups and raster<->vector conversion.

The A9 aggregation family (SURVEY.md §2.5) plus the graft's raster/vector
operators. All pure DataFrame ops except the dense-grid assembly, which is
a grouped-map pandas UDF (one numpy 2-D histogram per tile).

Scale notes: the rollup is a map-side-combinable hash aggregate on int64
tile keys. Hot tiles (the .de cluster) are handled by two-phase salted
aggregation — ``salted=True`` pre-aggregates on (tile, salt) before the
final combine, bounding any single reducer's input.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geo_udfs import tile_ix_col, tile_iy_col


def tile_rollup(
    points: DataFrame,
    z: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
    weight_col: str | list[str] | None = None,
    salted: bool = False,
    n_salt: int = 16,
) -> DataFrame:
    """-> (tile_z, tile_x, tile_y, page_count[, byte_count | <w>_sum...]).

    A single weight column keeps the historic ``byte_count`` name; a list
    of weight columns yields one ``<name>_sum`` per entry."""
    if isinstance(weight_col, str):
        weights = [(weight_col, "byte_count")]
    else:
        weights = [(c, f"{c}_sum") for c in (weight_col or [])]
    df = points.withColumn("tile_x", tile_ix_col(lon_col, z)).withColumn(
        "tile_y", tile_iy_col(lat_col, z)
    )
    aggs = [F.count(F.lit(1)).alias("page_count")] + [
        F.sum(c).alias(n) for c, n in weights
    ]
    if salted:
        # phase 1: partial agg on (tile, salt) bounds hot-tile reducers;
        # phase 2: tiny combine on tile alone. Note: count/sum already get
        # map-side partial aggregation from Spark's hash aggregate — the
        # salted path matters for aggs without partial pushdown and for
        # pathological reducer skew; the salt itself is free
        # (spark_partition_id, no data-dependent expression).
        df = df.withColumn("_salt", F.pmod(F.spark_partition_id(), F.lit(n_salt)))
        partial_aggs = [F.count(F.lit(1)).alias("_pc")] + [
            F.sum(c).alias(f"_w{j}") for j, (c, _) in enumerate(weights)
        ]
        partial = df.groupBy("tile_x", "tile_y", "_salt").agg(*partial_aggs)
        final_aggs = [F.sum("_pc").alias("page_count")] + [
            F.sum(f"_w{j}").alias(n) for j, (_, n) in enumerate(weights)
        ]
        out = partial.groupBy("tile_x", "tile_y").agg(*final_aggs)
    else:
        out = df.groupBy("tile_x", "tile_y").agg(*aggs)
    return out.withColumn("tile_z", F.lit(z)).select(
        "tile_z", "tile_x", "tile_y", *[c for c in out.columns if c not in ("tile_x", "tile_y")]
    )


def rasterize_tiles(
    points: DataFrame,
    z_base: int,
    depth: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Vector->raster: per base tile, a dense (2^depth x 2^depth) count grid.

    -> (tile_z, tile_x, tile_y, grid: array<array<long>>)
    Grid rows are y-major within the tile (row 0 = northernmost strip).
    """
    z_fine = z_base + depth
    side = 1 << depth
    df = (
        points.withColumn("fx", tile_ix_col(lon_col, z_fine))
        .withColumn("fy", tile_iy_col(lat_col, z_fine))
        .select(
            (F.col("fx") / side).cast("long").alias("tile_x"),
            (F.col("fy") / side).cast("long").alias("tile_y"),
            (F.col("fx") % side).alias("sub_x"),
            (F.col("fy") % side).alias("sub_y"),
        )
        # pre-aggregate to subcell counts before the grouped-map UDF: the
        # UDF then sees <= side^2 rows per tile regardless of page count.
        .groupBy("tile_x", "tile_y", "sub_x", "sub_y")
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def to_grid(pdf: pd.DataFrame) -> pd.DataFrame:
        grid = np.zeros((side, side), dtype=np.int64)
        grid[pdf["sub_y"].to_numpy(), pdf["sub_x"].to_numpy()] = pdf["n"].to_numpy()
        return pd.DataFrame(
            {
                "tile_x": [int(pdf["tile_x"].iloc[0])],
                "tile_y": [int(pdf["tile_y"].iloc[0])],
                "grid": [grid.tolist()],
            }
        )

    out = df.groupBy("tile_x", "tile_y").applyInPandas(
        to_grid, schema="tile_x long, tile_y long, grid array<array<long>>"
    )
    return out.withColumn("tile_z", F.lit(z_base)).select("tile_z", "tile_x", "tile_y", "grid")


def vectorize_raster(raster: DataFrame, depth: int) -> DataFrame:
    """Raster->vector: explode grids back to per-subcell rows.

    -> (tile_z_fine, fine_x, fine_y, n) — the exact inverse of
    :func:`rasterize_tiles` for nonzero subcells (round-trip tested).
    """
    side = 1 << depth
    rows = raster.select(
        "tile_z", "tile_x", "tile_y", F.posexplode("grid").alias("sub_y", "row")
    ).select(
        "tile_z", "tile_x", "tile_y", "sub_y", F.posexplode("row").alias("sub_x", "n")
    )
    return (
        rows.filter(F.col("n") > 0)
        .select(
            (F.col("tile_z") + depth).alias("tile_z_fine"),
            (F.col("tile_x") * side + F.col("sub_x")).alias("fine_x"),
            (F.col("tile_y") * side + F.col("sub_y")).alias("fine_y"),
            "n",
        )
    )
