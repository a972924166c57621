"""M5 (SURVEY §7.2): the salted tile rollup's max-partition bound,
measured on a skew-AMPLIFIED corpus — salting is asserted, not assumed.

The corpus leg: 60% of pages share the hot .de TLD (vs ~30% in the
default draw), so after geocoding one z=5 tile holds the majority of all
rows. A naive groupBy(tile) reducer would eat that entire key group; the
engine's two-phase salted rollup (operators/tiles.py, salt =
spark_partition_id % 16) splits it across 16 phase-1 groups. These tests
pin BOTH properties: the bound (salted max group << unsalted max key
group) and correctness (salted output == unsalted output exactly).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from web_template_forensics_spark.operators.tiles import tile_rollup
from web_template_forensics_spark.plans.pipeline import TILE_Z, pages_to_geo_fused
from web_template_forensics_spark.functions.geo_udfs import tile_ix_col, tile_iy_col
from web_template_forensics_spark.sources.pages import build_pages_df, tld_draw_for_hot_frac

N_PAGES = 4000
N_PARTS = 32  # > 16 salts so every salt bucket is populated


@pytest.fixture(scope="module")
def skewed_pts(spark):
    pages = build_pages_df(spark, N_PAGES, seed=42, partitions=N_PARTS, hot_frac=0.6)
    pts = pages_to_geo_fused(pages).select("lat", "lon", "n_bytes")
    pts = pts.persist()
    pts.count()
    yield pts
    pts.unpersist()


def test_hot_frac_draw_table():
    draw = tld_draw_for_hot_frac(0.6)
    assert len(draw) == 20 and draw.count(0) == 12
    assert tld_draw_for_hot_frac(1.0) == [0] * 20
    assert tld_draw_for_hot_frac(0.0).count(0) == 0


def test_corpus_is_actually_skewed(skewed_pts):
    tiles = (
        skewed_pts.groupBy(
            tile_ix_col("lon", TILE_Z).alias("tx"),
            tile_iy_col("lat", TILE_Z).alias("ty"),
        )
        .count()
        .collect()
    )
    total = sum(r["count"] for r in tiles)
    hot = max(r["count"] for r in tiles)
    assert total == N_PAGES
    # 60% of pages draw the hot .de TLD; the geocode jitter splits that
    # cluster over the 4 z=5 tiles meeting at the anchor, so the single
    # hottest tile holds ~23% of ALL rows — still ~10x the average tile
    # and the dominant reducer key by far.
    assert hot / total > 0.2, f"hot tile share {hot / total:.2f}"
    assert hot > 8 * (total / len(tiles)), f"hot {hot} vs avg {total / len(tiles):.0f}"


def test_salting_bounds_max_reducer_group(skewed_pts):
    """THE M5 assertion: the phase-1 salted group a reducer receives is
    a small fraction of the unsalted hot key group."""
    keyed = skewed_pts.select(
        tile_ix_col("lon", TILE_Z).alias("tx"),
        tile_iy_col("lat", TILE_Z).alias("ty"),
        F.pmod(F.spark_partition_id(), F.lit(16)).alias("salt"),
    )
    unsalted_max = keyed.groupBy("tx", "ty").count().agg(F.max("count")).first()[0]
    salted_max = keyed.groupBy("tx", "ty", "salt").count().agg(F.max("count")).first()[0]
    # 32 even input partitions over 16 salts -> hot tile splits ~16 ways;
    # assert a conservative 4x bound so partition-size jitter can't flake
    assert salted_max * 4 <= unsalted_max, (
        f"salted max group {salted_max} vs unsalted hot key {unsalted_max}"
    )


def test_salted_rollup_output_identical(skewed_pts):
    salted = tile_rollup(skewed_pts, TILE_Z, weight_col="n_bytes", salted=True)
    plain = tile_rollup(skewed_pts, TILE_Z, weight_col="n_bytes", salted=False)
    assert salted.columns == plain.columns
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0
