"""Spatial joins: broadcast point-in-polygon (J8) and k-ring kNN (J9).

Scale design (the 100 TB story):
  * PIP — polygons are small side data; the cell-bucket index (cell_id ->
    poly_ids) is broadcast, so the candidate pairing is a broadcast hash
    join on int64 cell keys with NO shuffle of the page table. The exact
    even-odd ray cast runs on candidates only, inside a numpy pandas UDF.
    Hot cells (dense TLD clusters) are immune on the broadcast side; the
    downstream per-polygon aggregation uses AQE skew splitting + optional
    salting (operators in tiles.py).
  * kNN — iterative H3-style k-ring expansion: at round r only the probes
    that cannot yet PROVE their k nearest are within the searched disk
    join the corpus again, on exploded ring-shell cell ids (equi-join,
    broadcast-able ring side). Each round shuffles only pending probes ×
    ring cells, never the full corpus cross product. Residual probes (in
    regions sparser than r_max rings) fall back to a bounded brute-force
    pass. Final top-k is a ranking window per probe with a documented
    total order (dist2, neighbor_id) so results are deterministic and
    exactly reproducible by the DuckDB brute-force oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions.geo_udfs import cell_id_col, k_ring_col, tile_ix_col, tile_iy_col
from ..geo.polygons import Polygon, build_cell_index, points_in_polygon


def pip_join(
    spark: SparkSession,
    points: DataFrame,
    polygons: list[Polygon],
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    index_level: int = 6,
) -> DataFrame:
    """Exact point-in-polygon join -> (id, poly_id).

    points: DataFrame with (id, lat, lon). polygons: broadcast side data.
    """
    index = build_cell_index(polygons, index_level)
    index_rows = [(c, p) for c, ps in index.items() for p in ps]
    index_df = spark.createDataFrame(index_rows, schema="cell_id long, poly_id long")

    # cell key via the pure-SQL morton column: whole-stage-codegen JVM math,
    # no Python round-trip just for the join key (exact same values as the
    # numpy spec — parity-tested in tests/test_operators.py)
    pts = points.withColumn("cell_id", cell_id_col(F.col(lat_col), F.col(lon_col), index_level))
    cand = pts.join(F.broadcast(index_df), "cell_id").select(
        F.col(id_col).alias("id"), F.col(lat_col).alias("lat"),
        F.col(lon_col).alias("lon"), "poly_id",
    )

    polys_by_id = {p.poly_id: p for p in polygons}
    bc = spark.sparkContext.broadcast(polys_by_id)

    @F.pandas_udf(T.BooleanType())
    def _pip(lat: pd.Series, lon: pd.Series, pid: pd.Series) -> pd.Series:
        lats = lat.to_numpy()
        lons = lon.to_numpy()
        pids = pid.to_numpy()
        out = np.zeros(len(lats), dtype=bool)
        for p in np.unique(pids):  # vectorize per polygon within the batch
            mask = pids == p
            out[mask] = points_in_polygon(lats[mask], lons[mask], bc.value[int(p)])
        return pd.Series(out)

    return (
        cand.filter(_pip("lat", "lon", "poly_id"))
        .select("id", "poly_id")
    )


def _round_cells(ix, iy, level: int, r: int):
    """Cells kNN round ``r`` searches around probe cell (ix, iy).

    Round 1 takes the whole disk <= 1 (ring 0 alone can never prove
    coverage, its guarantee radius is 0); round r > 1 takes only the shell
    at distance r (the spec's ``k_ring_shell``, a set difference), so the
    rounds are disjoint and no candidate pair is ever found twice.
    """
    disk = k_ring_col(ix, iy, level, r)
    if r == 1:
        return disk
    return F.array_except(disk, k_ring_col(ix, iy, level, r - 1))


def knn_join(
    spark: SparkSession,
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    level: int = 4,
    r_max: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Deterministic planar kNN: (probe_id, neighbor_id, rank, dist2).

    probes/corpus: (id, lat, lon). Metric: squared planar degree distance
    (geo/cells.py planar_dist2 — exact IEEE arithmetic, oracle-matchable).
    Correctness invariant: a probe stops expanding only when it holds >= k
    candidates within the PROVEN covered radius r * (180 / 2^level) degrees;
    anything outside the searched disk must be farther than the current kth
    candidate. Probes not finished by r_max get a brute-force pass.
    """
    cell_h = 180.0 / (1 << level)  # min cell dimension in degrees

    corpus_c = corpus.select(
        F.col("id").alias("neighbor_id"),
        F.col("lat").alias("n_lat"),
        F.col("lon").alias("n_lon"),
        cell_id_col(F.col("lat"), F.col("lon"), level).alias("cell_id"),
    ).persist()
    corpus_c.count()

    pending = probes.select(
        F.col("id").alias("probe_id"),
        F.col("lat").alias("p_lat"),
        F.col("lon").alias("p_lon"),
        tile_ix_col(F.col("lon"), level).alias("p_ix"),
        tile_iy_col(F.col("lat"), level).alias("p_iy"),
    ).persist()

    dist2 = (
        (F.col("p_lat") - F.col("n_lat")) * (F.col("p_lat") - F.col("n_lat"))
        + (F.col("p_lon") - F.col("n_lon")) * (F.col("p_lon") - F.col("n_lon"))
    )

    collected: DataFrame | None = None
    w = Window.partitionBy("probe_id").orderBy(F.col("dist2").asc(), F.col("neighbor_id").asc())
    for r in range(1, r_max + 1):
        cand = (
            pending.select(
                "probe_id", "p_lat", "p_lon",
                F.explode(_round_cells(F.col("p_ix"), F.col("p_iy"), level, r)).alias("cell_id"),
            )
            .join(corpus_c, "cell_id")
            .select("probe_id", "p_lat", "p_lon", "neighbor_id", "n_lat", "n_lon")
        )
        if exclude_self:
            cand = cand.filter(F.col("probe_id") != F.col("neighbor_id"))
        cand = cand.withColumn("dist2", dist2)
        prev = collected
        collected = (cand if collected is None else collected.unionByName(cand)).persist()

        guarantee = (r * cell_h) ** 2
        # rank only the still-pending probes' candidates: finished probes
        # dominate `collected` in later rounds and their re-ranking is
        # pure redundant work
        active = collected.join(pending.select("probe_id"), "probe_id", "left_semi")
        stats = (
            active.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .groupBy("probe_id")
            .agg(F.count("*").alias("n"), F.max("dist2").alias("kth_d2"))
            .filter((F.col("n") >= k) & (F.col("kth_d2") < F.lit(guarantee)))
            .select("probe_id")
        )
        prev_pending = pending
        pending = pending.join(stats, "probe_id", "left_anti").persist()
        # ONE driver action per round: count() both answers "is anyone
        # still pending?" and FULLY materializes the persisted frame
        # (isEmpty's limit-1 scan left the cache partial, so later
        # rounds re-derived the anti-join chain past partition 0).
        n_pending = pending.count()
        prev_pending.unpersist()
        if prev is not None:
            prev.unpersist()
        if n_pending == 0:
            pending = None
            break

    if pending is not None:
        # non-None ==> the last round counted >0 pending rows (or r_max
        # == 0 skipped the loop) — no second emptiness action needed
        # sparse-region fallback: bounded brute force for the residual
        # probes (with r_max=0 this is the whole probe set — a legal
        # brute-force-only parameterization)
        brute = pending.crossJoin(corpus_c.drop("cell_id"))
        if exclude_self:
            brute = brute.filter(F.col("probe_id") != F.col("neighbor_id"))
        brute = brute.withColumn("dist2", dist2).select(
            "probe_id", "p_lat", "p_lon", "neighbor_id", "n_lat", "n_lon", "dist2"
        )
        collected = (
            brute
            if collected is None
            else collected.unionByName(brute).dropDuplicates(["probe_id", "neighbor_id"])
        )

    result = (
        collected.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", "dist2")
        .persist()
    )
    # materialize the (small, <= k x probes) result, then release the
    # iteration caches — previously corpus_c + the final collected/pending
    # stayed persisted for the session's lifetime
    result.count()
    corpus_c.unpersist()
    if pending is not None:
        pending.unpersist()
    for df in (collected,):
        try:
            df.unpersist()
        except Exception:
            pass
    return result
