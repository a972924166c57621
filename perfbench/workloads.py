"""The four workloads: what one timed pass runs, and how its output is
checked against the expected outputs of `inputs.py`.

A pass returns a check callable; the harness calls it after the clock has
stopped. Every query result is fingerprinted inside the timed action with a
Spark ``Observation`` (row count plus an order-insensitive sum of xxhash64
over canonically cast columns), so each timed pass is checked without a
second execution; the expected fingerprint is computed once per run from
the oracle's output.
"""

from __future__ import annotations

import itertools
import os
from collections import Counter
from collections.abc import Callable

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from inputs import CASCADE_SAMPLE, NEAR_DUP_QUERIES, SIZES, SPATIAL_QUERIES
from tracing import Tracer

Check = Callable[[], list[str]]

_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}
_FRACTIONAL = {"float", "double"}


def _canonical(df: DataFrame) -> list:
    cols = []
    for name, dtype in sorted(df.dtypes):
        kind = "bigint" if dtype in _INTEGRAL else "double" if dtype in _FRACTIONAL else "string"
        cols.append(F.col(name).cast(kind))
    return cols


def fingerprint_aggs(df: DataFrame, where=None) -> list:
    h = F.xxhash64(*_canonical(df)).cast("decimal(38,0)")
    one = F.lit(1)
    if where is not None:
        h, one = F.when(where, h), F.when(where, one)
    return [F.count(one).alias("n"), F.sum(h).alias("fp")]


def fingerprint(df: DataFrame) -> dict:
    return df.agg(*fingerprint_aggs(df)).first().asDict()


class Workload:
    name = ""
    items = 0

    def __init__(self, in_dir: str, tracer: Tracer) -> None:
        self.in_dir, self.tracer = in_dir, tracer
        self.seq = itertools.count()  # Observation names are unique per session

    def open(self, spark: SparkSession) -> None:
        """Open the cached inputs (part of set-up)."""

    def expected(self, spark: SparkSession) -> None:
        """Untimed: derive what each pass is checked against."""

    def run_pass(self, spark: SparkSession, sink: str) -> Check:
        raise NotImplementedError

    # traced runs only: (spark, sink) -> None calling the layers one by one
    # where the pass cannot be split from outside
    split_pass = None


class _QueryWorkload(Workload):
    """Declared queries from plans.queries.QUERIES, each to a noop sink."""

    queries: tuple[str, ...] = ()

    def expected(self, spark: SparkSession) -> None:
        self.want = {
            q: fingerprint(spark.read.parquet(os.path.join(self.in_dir, f"expected_{q}.parquet")))
            for q in self.queries
        }

    def run_pass(self, spark: SparkSession, sink: str) -> Check:
        from web_template_forensics_spark.plans.queries import QUERIES

        observed = {}
        for q in self.queries:
            with self.tracer.span(f"plans.queries.{q}"):
                df = QUERIES[q](spark, self.in_dir)
                obs = Observation(f"{q}_{next(self.seq)}")
                df.observe(obs, *fingerprint_aggs(df)).write.format("noop").mode(
                    "overwrite"
                ).save()
            observed[q] = obs

        def check() -> list[str]:
            return [
                f"{q}: got {observed[q].get} want {self.want[q]}"
                for q in self.queries
                if observed[q].get != self.want[q]
            ]

        return check


class SpatialQueries(_QueryWorkload):
    name = "spatial_queries"
    queries = SPATIAL_QUERIES
    items = SIZES["spatial_queries"]


class NearDup(_QueryWorkload):
    name = "near_dup"
    queries = NEAR_DUP_QUERIES
    items = SIZES["near_dup"] + 2 * SIZES["near_dup"] // 3  # documents + vectors


class PagesPipeline(Workload):
    name = "pages_pipeline"
    items = SIZES["pages_pipeline"]

    def open(self, spark: SparkSession) -> None:
        self.pages = spark.read.parquet(os.path.join(self.in_dir, "pages"))

    def expected(self, spark: SparkSession) -> None:
        p = lambda n: pd.read_parquet(os.path.join(self.in_dir, f"expected_{n}.parquet"))
        self.want_stats = {k: int(v) for k, v in p("stats").iloc[0].items()}
        self.want_pip = Counter(zip(p("pip")["id"], p("pip")["poly_id"]))
        self.want_tiles = _rows(p("tiles"), ["tile_z", "tile_x", "tile_y", "page_count", "byte_count"])

    def run_pass(self, spark: SparkSession, sink: str) -> Check:
        from web_template_forensics_spark.plans.pipeline import run_pages_pipeline

        with self.tracer.span("plans.pipeline.run_pages_pipeline"):
            stats = run_pages_pipeline(spark, pages=self.pages, out_dir=sink, verify_text=True)

        def check() -> list[str]:
            problems = []
            got = {k: stats[k] for k in self.want_stats}
            if got != self.want_stats:
                problems.append(f"stats {got} want {self.want_stats}")
            pip = pq.read_table(os.path.join(sink, "pip", "data")).to_pandas()
            if Counter(zip(pip["id"], pip["poly_id"])) != self.want_pip:
                problems.append("pip sink differs from the gold-coordinate PIP")
            tiles = pq.read_table(os.path.join(sink, "tiles", "data")).to_pandas()
            if _rows(tiles, ["tile_z", "tile_x", "tile_y", "page_count", "byte_count"]) != self.want_tiles:
                problems.append("tiles sink differs from the gold-coordinate tiles")
            return problems

        return check

    def split_pass(self, spark: SparkSession, sink: str) -> None:
        """The pipeline's public stages called one at a time on the same
        input, each materialized, so each gets its own span."""
        from web_template_forensics_spark.operators.spatial_join import pip_join
        from web_template_forensics_spark.operators.tiles import tile_rollup
        from web_template_forensics_spark.plans.pipeline import (
            TILE_Z,
            pages_to_geo_fused,
            world_polygons,
        )
        from web_template_forensics_spark.sources.catalog import checkpointed_write

        t = self.tracer
        pages = self.pages
        if pages.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
            pages = pages.repartition(2 * spark.sparkContext.defaultParallelism)
        with t.span("plans.pipeline.pages_to_geo_fused"):
            geo = pages_to_geo_fused(pages, verify_text=True).persist()
            geo.count()
        pts = geo.filter(F.col("lat").isNotNull()).select(
            F.col("url").alias("id"), "lat", "lon", "n_bytes"
        )
        with t.span("operators.spatial_join.pip_join"):
            pip = pip_join(spark, pts, world_polygons(), index_level=6).persist()
            pip.count()
        with t.span("operators.tiles.tile_rollup"):
            tiles = tile_rollup(pts, TILE_Z, weight_col="n_bytes", salted=True).persist()
            tiles.count()
        with t.span("sources.catalog.checkpointed_write"):
            checkpointed_write(spark, pip, f"{sink}/pip", key_col="id", n_buckets=16)
            checkpointed_write(
                spark,
                tiles.withColumn("tile_key", F.concat_ws("/", "tile_z", "tile_x", "tile_y")),
                f"{sink}/tiles",
                key_col="tile_key",
                n_buckets=16,
            )
        for df in (tiles, pip, geo):
            df.unpersist()


class CascadePairs(Workload):
    name = "cascade_pairs"
    items = SIZES["cascade_pairs"]

    def open(self, spark: SparkSession) -> None:
        self.files = spark.read.parquet(os.path.join(self.in_dir, "pairs"))

    def expected(self, spark: SparkSession) -> None:
        from web_template_forensics_spark.operators.cascade import cascade_reports_per_pair

        want = pd.read_parquet(os.path.join(self.in_dir, "expected_reports.parquet"))
        self.sample = [int(p) for p in want["pair_id"]]
        schema = cascade_reports_per_pair(self.files).schema
        self.want = fingerprint(spark.createDataFrame(want[schema.fieldNames()], schema))
        if self.want["n"] != min(CASCADE_SAMPLE, self.items):
            raise RuntimeError(f"expected reports hold {self.want['n']} pairs")

    def run_pass(self, spark: SparkSession, sink: str) -> Check:
        from web_template_forensics_spark.operators.cascade import cascade_reports_per_pair

        with self.tracer.span("operators.cascade.cascade_reports_per_pair"):
            reports = cascade_reports_per_pair(self.files)
            obs = Observation(f"cascade_{next(self.seq)}")
            sampled = F.col("pair_id").isin(self.sample)
            n = reports.observe(obs, *fingerprint_aggs(reports, sampled)).count()

        def check() -> list[str]:
            problems = []
            if n != self.items:
                problems.append(f"{n} pair reports, want {self.items}")
            if obs.get != self.want:
                problems.append(f"sampled reports {obs.get} want replay {self.want}")
            return problems

        return check


def _rows(df: pd.DataFrame, cols: list[str]) -> Counter:
    return Counter(zip(*(df[c].astype("int64") for c in cols)))


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (PagesPipeline, SpatialQueries, CascadePairs, NearDup)
}
