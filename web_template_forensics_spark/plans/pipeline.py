"""The end-to-end pages pipeline (the spark-submit job body).

pages -> extract_text (oracle-verified) -> geocode (meta > TLD anchor) ->
broadcast PIP join (WGQ cell-keyed) -> tile rollup -> sinks.
This is the E1-analog lifecycle of SURVEY.md §3 re-expressed as one
DataFrame lineage; `jobs/run_pipeline.py` wraps it for spark-submit, and
`checkpointed_write` gives the per-partition lineage + resume the north
rule requires.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..geo.polygons import Polygon
from ..operators.spatial_join import pip_join
from ..operators.tiles import tile_rollup
from ..sources.catalog import checkpointed_write
from ..sources.pages import build_pages_df

TILE_Z = 5


def world_polygons() -> list[Polygon]:
    """Deterministic polygon set for the pipeline's PIP stage: generous
    boxes around each TLD anchor (overlapping on purpose) + an
    antimeridian-crossing box."""
    from ..sources.pages import TLD_ANCHORS

    polys = []
    pid = 1
    for tld, (lat, lon, _) in sorted(TLD_ANCHORS.items()):
        lat0, lat1 = max(-85.0, lat - 8.0), min(85.0, lat + 8.0)
        lon0, lon1 = lon - 12.0, lon + 12.0
        ring = [(lat0, lon0), (lat0, lon1), (lat1, lon1), (lat1, lon0)]
        polys.append(Polygon.make(pid, f"around-{tld}", [ring]))
        pid += 1
    polys.append(
        Polygon.make(pid, "antimeridian", [[(-30.0, 170.0), (-30.0, -170.0), (0.0, -170.0), (0.0, 170.0)]])
    )
    return polys


_FUSED_SCHEMA = (
    "url string, warc_ts timestamp, lang string, n_bytes long, "
    "text_ok int, lat double, lon double"
)


def pages_to_geo_fused(pages: DataFrame, verify_text: bool = False) -> DataFrame:
    """The pipeline's hot path: extract-verify + geocode as ONE
    mapInPandas pass.

    Chaining separate pandas UDFs costs a Python round-trip per node and —
    worse — projection collapse inlines struct-field references so the
    upstream UDFs re-execute once per referencing expression (measured 8x
    on the geocode chain). Fusing makes the whole Python stage a single
    vectorized pass whose OUTPUT columns are plan attributes (never
    re-evaluated), and drops html/text right there, so downstream joins
    and aggregations shuffle ~50 bytes/row instead of the full page.
    """
    import numpy as np
    import pandas as pd

    from ..functions.html_udfs import _GEO_POS_RE, _decode, head_slice
    from ..oracle.html_oracle import extract_text
    from ..sources.pages import TLD_ANCHORS, splitmix64

    anchors = {tld: (lat, lon) for tld, (lat, lon, _) in TLD_ANCHORS.items()}

    def fused(batches):
        for pdf in batches:
            html = pdf["html"].map(_decode)
            if verify_text:
                text_ok = (html.map(extract_text) == pdf["text"]).astype("int32")
            else:
                text_ok = pd.Series(np.ones(len(pdf), dtype="int32"))
            # meta geo override — geo <meta> tags live in <head>; regex only
            # the head slice
            ext = head_slice(html).str.extract(_GEO_POS_RE)
            meta_lat = pd.to_numeric(ext[0], errors="coerce").to_numpy()
            meta_lon = pd.to_numeric(ext[1], errors="coerce").to_numpy()
            # TLD-anchor + host-hash geocode
            url = pdf["url"]
            host = pd.to_numeric(
                url.str.extract(r"https://h(\d+)\.", expand=False), errors="coerce"
            )
            tld = url.str.extract(r"\.([a-z]+)/", expand=False)
            a = tld.map(anchors)
            has_anchor = a.notna() & host.notna()
            a_lat = np.array([p[0] if isinstance(p, tuple) else np.nan for p in a])
            a_lon = np.array([p[1] if isinstance(p, tuple) else np.nan for p in a])
            hm = splitmix64(host.fillna(0).to_numpy().astype(np.uint64))
            h_lat = a_lat + ((hm % np.uint64(4001)).astype(np.float64) - 2000.0) / 1000.0
            h_lon = a_lon + (
                ((hm // np.uint64(4096)) % np.uint64(8001)).astype(np.float64) - 4000.0
            ) / 1000.0
            h_lon = np.where(h_lon >= 180.0, h_lon - 360.0, h_lon)
            h_lon = np.where(h_lon < -180.0, h_lon + 360.0, h_lon)
            h_lat = np.where(has_anchor.to_numpy(), h_lat, np.nan)
            h_lon = np.where(has_anchor.to_numpy(), h_lon, np.nan)
            lat = np.where(~np.isnan(meta_lat), meta_lat, h_lat)
            lon = np.where(~np.isnan(meta_lon), meta_lon, h_lon)
            ok = ~np.isnan(lat) & ~np.isnan(lon)
            out = pd.DataFrame(
                {
                    "url": url,
                    "warc_ts": pdf["warc_ts"],
                    "lang": pdf["lang"],
                    # raw BINARY length — the decoded str length would
                    # undercount multi-byte UTF-8 pages
                    "n_bytes": pdf["html"].map(len).astype("int64"),
                    "text_ok": text_ok,
                    "lat": lat,
                    "lon": lon,
                }
            )
            out.loc[~ok, ["lat", "lon"]] = None
            yield out

    return pages.mapInPandas(fused, schema=_FUSED_SCHEMA)


def run_pages_pipeline(
    spark: SparkSession,
    n_pages: int = 100_000,
    seed: int = 42,
    pages: DataFrame | None = None,
    out_dir: str | None = None,
    verify_text: bool = False,
) -> dict:
    """Run the full pipeline; returns stage metrics. With ``out_dir``,
    writes tiles + pip sinks via the checkpointed catalog.

    Action plan (kept deliberately small — each action is a full job):
      1 persist+agg over geo (counts + optional text invariant), run on a
        worker thread while the driver builds the pip and tile plans,
      2 pip count / checkpointed write,
      3 tiles count / checkpointed write (2 and 3 run concurrently).
    The text invariant is checked before either sink is written.
    """
    pages = pages if pages is not None else build_pages_df(spark, n_pages, seed)
    # Parquet packing can hand us far fewer input splits than cores (small
    # bench files); the Arrow-UDF chain is CPU-bound, so spread it. On a
    # real cluster the input table has >> cores files and this is a no-op.
    parallelism = spark.sparkContext.defaultParallelism
    if pages.rdd.getNumPartitions() < parallelism:
        pages = pages.repartition(parallelism * 2)
    geo = pages_to_geo_fused(pages, verify_text=verify_text).persist()
    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            # the head job runs the Python stage and fills the geo cache;
            # the sink plans are driver work, so build them while it runs
            f_head = pool.submit(
                lambda: geo.agg(
                    F.count(F.lit(1)).alias("n_total"),
                    F.sum(F.col("lat").isNotNull().cast("int")).alias("n_geo"),
                    F.sum("text_ok").alias("n_text_ok"),
                ).first()
            )
            geocoded = geo.filter(F.col("lat").isNotNull())
            pts = geocoded.select(F.col("url").alias("id"), "lat", "lon", "n_bytes")
            pip = pip_join(spark, pts, world_polygons(), index_level=6)
            # count and sum already combine map-side: salting would only
            # add an exchange and a job
            tiles = tile_rollup(pts, TILE_Z, weight_col="n_bytes")

            head = f_head.result()
            n_text_ok = head["n_text_ok"] or 0  # sum over zero rows is null
            if verify_text and n_text_ok != head["n_total"]:
                raise AssertionError(
                    f"text-extraction invariant violated on {head['n_total'] - n_text_ok} rows"
                )
            stats = {
                "pages": head["n_total"],
                "geocoded": head["n_geo"],
                "ungeocoded": head["n_total"] - head["n_geo"],
            }
            if out_dir:
                # the two sinks are independent reads of the cached geo
                # frame — submit them as concurrent Spark jobs so the
                # latency-bound small writes overlap instead of serializing
                f_pip = pool.submit(
                    checkpointed_write, spark, pip, f"{out_dir}/pip", key_col="id", n_buckets=16
                )
                f_tiles = pool.submit(
                    checkpointed_write,
                    spark,
                    tiles.withColumn(
                        "tile_key", F.concat_ws("/", "tile_z", "tile_x", "tile_y")
                    ),
                    f"{out_dir}/tiles",
                    key_col="tile_key",
                    n_buckets=16,
                )
                pip_snap = f_pip.result()
                tile_snap = f_tiles.result()
                stats["pip_assignments"] = pip_snap["total_rows"]
                stats["tiles"] = tile_snap["total_rows"]
                stats["tiles_snapshot"] = tile_snap["committed_buckets"]
            else:
                stats["pip_assignments"] = pip.count()
                stats["tiles"] = tiles.count()
    finally:
        geo.unpersist()
    return stats
