"""The engine's query surface with DuckDB-recomputable oracles.

Each entry pairs an idiomatic-Spark implementation with an ANSI-SQL string
that DuckDB executes over the same parquet tables; the driver compares
row counts, schemas and order-insensitive value hashes. Determinism
rules making exact value-hash matches possible:

  * geo points derive from integer columns via pure +,-,*,/,//,% on
    int64/float64 — correctly-rounded IEEE ops are bit-identical across
    numpy / Spark / DuckDB;
  * money aggregates go through ``cast(x as decimal(18,6))`` sums (exact
    decimal arithmetic in both engines) and only then back to double;
  * timestamps are only ever compared/exported as epoch microseconds
    (session-timezone-proof on both sides);
  * every ranking has a documented total order with an id tiebreak;
  * floating aggregates whose addition order is engine-dependent are
    rounded to a precision far above the accumulated error.

Point derivation spec (documents table -> synthetic page coordinates):
  h   = (doc_id * 2654435761) % 2^31
  lat = (h % 160001) / 1000.0 - 80.0          in [-80, 80.001)
  lon = ((h // 1024) % 359001) / 1000.0 - 179.5
Multiplier is odd -> bijective mod 2^31, so points are well-spread and
collision-free. The same spec feeds cells (level 12), tiles (z 6), the
PIP rectangles and the kNN fixtures.
"""

from __future__ import annotations

import glob
import itertools
import os
from collections.abc import Callable
from functools import lru_cache

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from ..functions.geo_udfs import cell_from_ij_col, cell_id_col, k_ring_col, morton_sql, tile_ix_col, tile_ix_sql, tile_iy_col, tile_iy_sql
from ..functions.html_udfs import extract_text_udf, html_class_counts_udf
from ..functions.text_udfs import (
    ASCII_WS_REGEX,
    bpe_token_count_col,
    bpe_token_count_sql,
    lang_id_col,
    lang_id_sql,
    quality_score_col,
    quality_score_sql,
    token_count_col,
    token_count_sql,
)
from ..geo.polygons import Polygon
from ..operators.dedup import (
    exact_dedup,
    latest_crawl_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from ..operators.similarity_search import (
    cosine_topk_bruteforce,
    cosine_topk_ivf,
    cosine_topk_lsh,
)
from ..operators.spatial_join import knn_join, pip_join
from ..operators.tiles import tile_rollup

# ---------------------------------------------------------------------------
# shared spec
# ---------------------------------------------------------------------------

H_MULT = 2654435761
H_MOD = 1 << 31
CELL_LEVEL = 12
TILE_Z = 6
KNN_LEVEL = 4
KNN_K = 5
PROBE_MOD = 25
NGRAM_THRESHOLD = 0.004


# (path, (file, mtime_ns, size) per file) -> (Spark schema, row-group
# count): one schema-inference job per table version instead of one per read
_TABLE_CACHE: dict[tuple, tuple[StructType, int]] = {}


def _parquet_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def _parquet_row_groups(files: list[str]) -> int:
    """Total row-group count across local parquet files (driver-side footer
    reads, O(files)). Returns a large number on any failure so callers
    treat the table as already-splittable."""
    try:
        import pyarrow.parquet as _pq

        if not files:
            return 1 << 30
        return sum(_pq.ParquetFile(f).metadata.num_row_groups for f in files)
    except Exception:
        return 1 << 30


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a catalog table, guarding scan parallelism against coarse local
    layouts.

    The Spark schema and the row-group count are taken once per table and
    kept under the path and each file's mtime and size, so later reads skip
    the schema-inference job and a table rewritten in place is read afresh.

    Parquet scans parallelize at ROW-GROUP granularity: Spark still makes
    byte-range splits, but a split that contains no row-group start returns
    zero rows, so a table written as one giant row group runs its whole
    scan (and everything fused into that stage) on ONE task regardless of
    core count. The sandbox testdata is laid out exactly like that
    (1 file / 1 row group per table). When the footer count is below the
    session parallelism we repartition once after the scan — a bounded
    local shuffle on these small tables; on a real 100 TB table row groups
    vastly outnumber cores and this is a provable no-op.
    """
    path = f"{sf_dir}/{name}.parquet"
    files = _parquet_files(path)
    stats = ((f, os.stat(f)) for f in (path, *files))
    key = (path, tuple((f, st.st_mtime_ns, st.st_size) for f, st in stats))
    if key not in _TABLE_CACHE:
        _TABLE_CACHE[key] = (spark.read.parquet(path).schema, _parquet_row_groups(files))
    schema, row_groups = _TABLE_CACHE[key]
    df = spark.read.schema(schema).parquet(path)
    parallelism = spark.sparkContext.defaultParallelism
    if row_groups < parallelism:
        df = df.repartition(parallelism)
    return df


def _epoch_us(col_name: str):
    """Epoch micros from a TIMESTAMP_NTZ column, session-timezone-proof
    (mirrors DuckDB's epoch_us on naive timestamps)."""
    return F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', {col_name})"
    )


def doc_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one parse for the whole projection; the D suffix makes the literals
    # doubles (Spark reads a bare 1000.0 as a decimal)
    h = f"((doc_id * {H_MULT}) % {H_MOD})"
    return _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", "lang", "n_chars",
        f"CAST({h} % 160001 AS DOUBLE) / 1000.0D - 80.0D AS lat",
        f"CAST(({h} div 1024) % 359001 AS DOUBLE) / 1000.0D - 179.5D AS lon",
    )


_DOC_POINTS_SQL = f"""
  SELECT doc_id, lang, n_chars,
         ((doc_id * {H_MULT}) % {H_MOD}) % 160001 / 1000.0 - 80.0 AS lat,
         (((doc_id * {H_MULT}) % {H_MOD}) // 1024) % 359001 / 1000.0 - 179.5 AS lon
  FROM documents
"""


def rect_polygons() -> list[tuple[int, float, float, float, float]]:
    """(poly_id, lat0, lon0, lat1, lon1) — deterministic rectangle set.

    Membership (matching the ray-cast half-open rule): lat0 <= lat < lat1
    AND lon0 <= lon < lon1. Overlapping + disjoint + skew-heavy regions.
    """
    rects = []
    pid = 1
    for i in range(6):
        lat0 = -70.0 + 22.0 * i
        lon0 = -170.0 + 50.0 * i
        rects.append((pid, lat0, lon0, lat0 + 30.0, lon0 + 55.0))
        pid += 1
    # overlapping hot band near the .de anchor + a thin equatorial strip
    rects.append((pid, 40.0, -10.0, 62.0, 30.0)); pid += 1
    rects.append((pid, 45.0, 0.0, 58.0, 20.0)); pid += 1
    rects.append((pid, -5.0, -150.0, 5.0, 150.0)); pid += 1
    return rects


def _rect_poly_objects() -> list[Polygon]:
    # insert lon midpoints so no edge spans >= 180 degrees (the polygon
    # model's shorter-arc antimeridian convention requires it)
    out = []
    for pid, a, b, c, d in rect_polygons():
        m = (b + d) / 2.0
        ring = [(a, b), (a, m), (a, d), (c, d), (c, m), (c, b)]
        out.append(Polygon.make(pid, f"rect{pid}", [ring]))
    return out


def _rects_values_sql() -> str:
    rows = ", ".join(
        f"({pid}, {a!r}, {b!r}, {c!r}, {d!r})" for pid, a, b, c, d in rect_polygons()
    )
    return f"(VALUES {rows}) AS r(poly_id, lat0, lon0, lat1, lon1)"


def _escaped_text_col():
    e = F.regexp_replace(F.col("text"), F.lit("&"), F.lit("&amp;"))
    e = F.regexp_replace(e, F.lit("<"), F.lit("&lt;"))
    return F.regexp_replace(e, F.lit(">"), F.lit("&gt;"))


# ---------------------------------------------------------------------------
# relational core (scan/filter/join/agg/window/anti/rollup coverage)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape (A1 aggregate family). Decimal sums -> exact."""
    li = _t(spark, sf_dir, "lineitem")
    cutoff = 904694400000000  # 1998-09-02 UTC in epoch micros
    dec = lambda c: F.sum(c.cast("decimal(18,6)")).cast("double")  # noqa: E731
    return (
        li.filter(_epoch_us("l_shipdate") <= cutoff)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec(F.col("l_quantity")).alias("sum_qty"),
            dec(F.col("l_extendedprice")).alias("sum_base_price"),
            dec(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_Q_PRICING_SQL = """
  SELECT l_returnflag, l_linestatus,
         cast(sum(cast(l_quantity as decimal(18,6))) as double) AS sum_qty,
         cast(sum(cast(l_extendedprice as decimal(18,6))) as double) AS sum_base_price,
         cast(sum(cast(l_extendedprice * (1.0 - l_discount) as decimal(18,6))) as double) AS sum_disc_price,
         count(*) AS count_order
  FROM lineitem
  WHERE epoch_us(l_shipdate) <= 904694400000000
  GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark, sf_dir):
    """3-way join + agg; dims broadcast (J1 equi-join family)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


_Q_REVENUE_SQL = """
  SELECT n_name,
         cast(sum(cast(l_extendedprice * (1.0 - l_discount) as decimal(18,6))) as double) AS revenue,
         count(*) AS n_lineitems
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
"""


def q_top_suppliers_per_nation(spark, sf_dir):
    """Ranking window top-k (T2: the reference's best-match argmax shape)."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey").asc()
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("n_name", "s_suppkey", "s_acctbal", "rank")
    )


_Q_TOP_SUPPLIERS_SQL = """
  WITH ranked AS (
    SELECT n_name, s_suppkey, s_acctbal,
           row_number() OVER (PARTITION BY n_name ORDER BY s_acctbal DESC, s_suppkey ASC) AS rank
    FROM supplier JOIN nation ON s_nationkey = n_nationkey)
  SELECT n_name, s_suppkey, s_acctbal, cast(rank as int) AS rank FROM ranked WHERE rank <= 3
"""


def q_latest_event_per_user(spark, sf_dir):
    """As-of dedup window (J10)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", _epoch_us("ts").alias("ts_us"), "event_type")
    )


_Q_LATEST_EVENT_SQL = """
  WITH ranked AS (
    SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events)
  SELECT user_id, event_id, ts_us, event_type FROM ranked WHERE rn = 1
"""


def q_parts_never_returned(spark, sf_dir):
    """Left-anti join (the reference's 'unmatched' lists, file_matcher.py:80-82):
    parts that never appear on a returned ('R') lineitem."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_returnflag") == "R") & (F.col("l_quantity") >= 45.0)
    )
    return p.join(li, p.p_partkey == li.l_partkey, "left_anti").select(
        "p_partkey", "p_name"
    )


_Q_PARTS_ANTI_SQL = """
  SELECT p_partkey, p_name FROM part
  WHERE NOT EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_partkey = p_partkey AND l_returnflag = 'R' AND l_quantity >= 45.0)
"""


def q_event_type_rollup(spark, sf_dir):
    """ROLLUP aggregate (grouping-sets coverage)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.rollup("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            "n",
            "total_value",
        )
    )


_Q_EVENT_ROLLUP_SQL = """
  SELECT coalesce(event_type, 'ALL') AS event_type, count(*) AS n,
         cast(sum(cast(value as decimal(18,6))) as double) AS total_value
  FROM events GROUP BY ROLLUP (event_type)
"""


def q_mktsegment_stats(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double").alias("total_price"),
        )
    )


_Q_MKTSEG_SQL = """
  SELECT c_mktsegment, count(*) AS n_orders,
         cast(count(DISTINCT o_custkey) as bigint) AS n_customers,
         cast(sum(cast(o_totalprice as decimal(18,6))) as double) AS total_price
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# geo: cells, tiles, PIP, kNN
# ---------------------------------------------------------------------------


def q_doc_cells(spark, sf_dir):
    """WGQ cell encoding as a Column expression (DuckDB recomputes the
    same morton math in SQL)."""
    pts = doc_points(spark, sf_dir)
    return pts.select(
        "doc_id",
        F.round("lat", 6).alias("lat"),
        F.round("lon", 6).alias("lon"),
        tile_ix_col("lon", CELL_LEVEL).alias("cell_ix"),
        tile_iy_col("lat", CELL_LEVEL).alias("cell_iy"),
        cell_id_col("lat", "lon", CELL_LEVEL).alias("cell_id"),
    )


def _q_doc_cells_sql():
    ix = tile_ix_sql("lon", CELL_LEVEL)
    iy = tile_iy_sql("lat", CELL_LEVEL)
    return f"""
  WITH pts AS ({_DOC_POINTS_SQL}),
  ij AS (SELECT doc_id, lat, lon, {ix} AS cell_ix, {iy} AS cell_iy FROM pts)
  SELECT doc_id, round(lat, 6) AS lat, round(lon, 6) AS lon, cell_ix, cell_iy,
         {CELL_LEVEL} * {1 << 52} + {morton_sql('cell_ix', 'cell_iy', CELL_LEVEL)} AS cell_id
  FROM ij
"""


def q_tile_rollup(spark, sf_dir):
    """A9 per-tile rollup: counts + byte sums at z=6 (salted two-phase agg)."""
    pts = doc_points(spark, sf_dir)
    return tile_rollup(
        pts, TILE_Z, weight_col="n_chars", salted=True
    ).withColumnRenamed("byte_count", "char_count")


def _q_tile_rollup_sql():
    ix = tile_ix_sql("lon", TILE_Z)
    iy = tile_iy_sql("lat", TILE_Z)
    return f"""
  WITH pts AS ({_DOC_POINTS_SQL})
  SELECT {TILE_Z} AS tile_z, {ix} AS tile_x, {iy} AS tile_y,
         count(*) AS page_count, cast(sum(n_chars) as bigint) AS char_count
  FROM pts GROUP BY 1, 2, 3
"""


RASTER_Z_BASE = 4
RASTER_DEPTH = 2


def q_raster_roundtrip(spark, sf_dir):
    """raster<->vector round trip under the oracle: rasterize doc points
    into dense (2^depth)^2 per-tile grids, then vectorize back — the
    composition must equal a plain fine-tile count rollup (which IS the
    DuckDB oracle), proving grid packing/unpacking is lossless for
    nonzero subcells."""
    from ..operators.tiles import rasterize_tiles, vectorize_raster

    pts = doc_points(spark, sf_dir)
    return vectorize_raster(
        rasterize_tiles(pts, RASTER_Z_BASE, RASTER_DEPTH), RASTER_DEPTH
    )


def _q_raster_roundtrip_sql():
    zf = RASTER_Z_BASE + RASTER_DEPTH
    ix = tile_ix_sql("lon", zf)
    iy = tile_iy_sql("lat", zf)
    return f"""
  WITH pts AS ({_DOC_POINTS_SQL})
  SELECT {zf} AS tile_z_fine, {ix} AS fine_x, {iy} AS fine_y,
         count(*) AS n
  FROM pts GROUP BY 2, 3
"""


def q_raster_grid(spark, sf_dir):
    """The dense raster grids themselves (JSON-serialized so the driver's
    value-hash sees a stable scalar): per base tile, a y-major
    (2^depth x 2^depth) count matrix."""
    from ..operators.tiles import rasterize_tiles

    pts = doc_points(spark, sf_dir)
    r = rasterize_tiles(pts, RASTER_Z_BASE, RASTER_DEPTH)
    return r.select(
        "tile_z", "tile_x", "tile_y", F.to_json("grid").alias("grid_json")
    )


def _q_raster_grid_sql():
    side = 1 << RASTER_DEPTH
    zf = RASTER_Z_BASE + RASTER_DEPTH
    ix = tile_ix_sql("lon", zf)
    iy = tile_iy_sql("lat", zf)
    return f"""
  WITH pts AS ({_DOC_POINTS_SQL}),
  f AS (SELECT {ix} AS fx, {iy} AS fy FROM pts),
  counts AS (
    SELECT fx // {side} AS tile_x, fy // {side} AS tile_y,
           fx % {side} AS sub_x, fy % {side} AS sub_y, count(*) AS n
    FROM f GROUP BY 1, 2, 3, 4),
  tiles AS (SELECT DISTINCT tile_x, tile_y FROM counts),
  cells AS (
    SELECT t.tile_x, t.tile_y, y.range AS sub_y, x.range AS sub_x,
           coalesce(c.n, 0) AS n
    FROM tiles t
    CROSS JOIN range(0, {side}) y
    CROSS JOIN range(0, {side}) x
    LEFT JOIN counts c
      ON c.tile_x = t.tile_x AND c.tile_y = t.tile_y
     AND c.sub_y = y.range AND c.sub_x = x.range),
  grid_rows AS (
    SELECT tile_x, tile_y, sub_y, list(n ORDER BY sub_x) AS row
    FROM cells GROUP BY 1, 2, 3)
  SELECT {RASTER_Z_BASE} AS tile_z, tile_x, tile_y,
         to_json(list(row ORDER BY sub_y))::VARCHAR AS grid_json
  FROM grid_rows GROUP BY 2, 3
"""


def q_pip_rectangles(spark, sf_dir):
    """Exact PIP join (J8): real ray-cast UDF vs half-open bbox oracle."""
    pts = doc_points(spark, sf_dir).withColumnRenamed("doc_id", "id")
    out = pip_join(spark, pts, _rect_poly_objects(), index_level=5)
    return out.select(F.col("id").alias("doc_id"), "poly_id")


def _q_pip_sql():
    return f"""
  WITH pts AS ({_DOC_POINTS_SQL})
  SELECT doc_id, poly_id
  FROM pts, {_rects_values_sql()}
  WHERE lat >= lat0 AND lat < lat1 AND lon >= lon0 AND lon < lon1
"""


def q_knn(spark, sf_dir):
    """kNN via a disk-1 cell join with a brute-force fallback (J9) vs brute-force oracle."""
    pts = doc_points(spark, sf_dir).withColumnRenamed("doc_id", "id")
    probes = pts.filter(F.col("id") % PROBE_MOD == 0)
    return knn_join(spark, probes, pts, k=KNN_K, level=KNN_LEVEL).select(
        "probe_id", "neighbor_id", "rank", "dist2"
    )


def _q_knn_sql():
    return f"""
  WITH pts AS ({_DOC_POINTS_SQL}),
  probes AS (SELECT * FROM pts WHERE doc_id % {PROBE_MOD} = 0),
  pairs AS (
    SELECT p.doc_id AS probe_id, n.doc_id AS neighbor_id,
           (p.lat - n.lat) * (p.lat - n.lat) + (p.lon - n.lon) * (p.lon - n.lon) AS dist2
    FROM probes p JOIN pts n ON p.doc_id <> n.doc_id),
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY dist2 ASC, neighbor_id ASC) AS rank
    FROM pairs)
  SELECT probe_id, neighbor_id, cast(rank as int) AS rank, dist2 FROM ranked WHERE rank <= {KNN_K}
"""


# ---------------------------------------------------------------------------
# pages-path: oracle text extraction, crawl dedup, class extraction
# ---------------------------------------------------------------------------


def q_extract_text(spark, sf_dir):
    """The north-rule invariant as a query: build page markup, run the real
    Arrow extraction UDF, must reproduce the source text byte-identically."""
    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>d"), F.col("doc_id").cast("string"),
        F.lit("</title></head><body><div id=\"d"), F.col("doc_id").cast("string"),
        F.lit("\"><p>"), _escaped_text_col(), F.lit("</p></div></body></html>"),
    )
    return d.select(
        "doc_id", extract_text_udf(F.encode(html, "utf-8")).alias("text")
    )


_Q_EXTRACT_SQL = "SELECT doc_id, text FROM documents"


def q_latest_crawl(spark, sf_dir):
    """Latest-crawl dedup (J10) over synthetic duplicate urls."""
    d = _t(spark, sf_dir, "documents")
    pages = d.select(
        (F.col("doc_id") % 211).alias("url_key"),
        F.col("doc_id"),
        ((F.col("doc_id") * 7919) % 1000000007).alias("ts_us"),
    )
    return latest_crawl_dedup(pages, key="url_key", ts="ts_us").select(
        "url_key", "doc_id", "ts_us"
    )


_Q_LATEST_CRAWL_SQL = """
  WITH pages AS (
    SELECT doc_id % 211 AS url_key, doc_id, (doc_id * 7919) % 1000000007 AS ts_us
    FROM documents),
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY url_key ORDER BY ts_us DESC) AS rn FROM pages)
  SELECT url_key, doc_id, ts_us FROM ranked WHERE rn = 1
"""


def q_class_counts(spark, sf_dir):
    """Utility-class extraction (P5/C17 family): markup -> parse tree ->
    class tokens -> exploded (class, count) aggregate."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), ASCII_WS_REGEX)
    # escape the interpolated tokens (& < > ") so a token containing a
    # quote or entity cannot terminate/alter the attribute — the parser
    # decodes the entities back, so the extracted classes equal the raw
    # tokens the SQL mirror emits. (Tokens containing UNICODE whitespace
    # would still split differently — parser class-attr split is
    # str.split() — a documented latent limit; shipped corpora are ASCII.)
    joined = F.array_join(F.slice(toks, 1, 3), " ")
    esc = F.regexp_replace(joined, F.lit("&"), F.lit("&amp;"))
    esc = F.regexp_replace(esc, F.lit("<"), F.lit("&lt;"))
    esc = F.regexp_replace(esc, F.lit(">"), F.lit("&gt;"))
    esc = F.regexp_replace(esc, F.lit('"'), F.lit("&quot;"))
    html = F.concat(
        F.lit("<div class=\""),
        esc,
        F.lit("\"><span>x</span></div>"),
    )
    counts = d.select(html_class_counts_udf(F.encode(html, "utf-8")).alias("m"))
    return (
        counts.select(F.explode("m").alias("cls", "n"))
        .groupBy("cls")
        .agg(F.sum("n").alias("total_count"))
    )


_Q_CLASS_COUNTS_SQL = r"""
  WITH toks AS (
    SELECT doc_id, regexp_split_to_array(text, '[ \t\n\x0B\f\r]+') AS t FROM documents),
  cls AS (
    SELECT unnest(t[1:3]) AS cls FROM toks)
  -- the Spark path's class-attribute whitespace split drops empty tokens;
  -- mirror that here (documents with empty/leading-whitespace text)
  SELECT cls, cast(count(*) as bigint) AS total_count FROM cls
  WHERE length(cls) > 0 GROUP BY cls
"""


# ---------------------------------------------------------------------------
# text analysis + dedup + similarity search
# ---------------------------------------------------------------------------


def q_exact_dedup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return exact_dedup(d, "doc_id", "text")


_Q_EXACT_DEDUP_SQL = """
  SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id, count(*) AS dup_count
  FROM documents GROUP BY md5(text)
"""


def q_text_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count_col(F.col("text")).alias("n_tokens"),
        bpe_token_count_col(F.col("text")).alias("n_bpe_tokens"),
        quality_score_col(F.col("text")).alias("quality"),
        lang_id_col(F.col("text")).alias("lang_pred"),
    )


def _q_text_stats_sql():
    return f"""
  SELECT doc_id, {token_count_sql('text')} AS n_tokens,
         {bpe_token_count_sql('text')} AS n_bpe_tokens,
         {quality_score_sql('text')} AS quality,
         {lang_id_sql('text')} AS lang_pred
  FROM documents
"""


def q_ngram_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        d, "doc_id", "text", "lang", threshold=NGRAM_THRESHOLD, n=3
    )


_Q_NGRAM_SQL = rf"""
  WITH toks AS (
    SELECT doc_id, lang,
           list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'),
                       x -> x <> '') AS t
    FROM documents),
  g0 AS (
    SELECT doc_id, lang,
           unnest(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                                 gs -> array_to_string(t[gs:gs+2], ' '))) AS gram
    FROM toks),
  g AS (SELECT DISTINCT doc_id, lang, gram FROM g0 WHERE length(gram) > 0),
  sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
  inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
    FROM g a JOIN g b ON a.lang = b.lang AND a.gram = b.gram AND a.doc_id < b.doc_id
    GROUP BY 1, 2)
  SELECT id_a, id_b, round(ni / (sa.n + sb.n - ni), 6) AS jaccard
  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE ni / (sa.n + sb.n - ni) >= {NGRAM_THRESHOLD}
"""


def q_embedding_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") % PROBE_MOD == 0)
    return cosine_topk_bruteforce(probes, e, k=3)


_Q_EMB_TOPK_SQL = f"""
  WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
  probes AS (SELECT * FROM e WHERE vec_id % {PROBE_MOD} = 0),
  pairs AS (
    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
           CASE WHEN sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.v, c.v)) > 0
                THEN list_dot_product(p.v, c.v) /
                     (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.v, c.v)))
                ELSE 0.0 END AS cosine
    FROM probes p JOIN e c ON p.vec_id <> c.vec_id),
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM pairs)
  SELECT probe_id, neighbor_id, cast(rank as int) AS rank, round(cosine, 6) AS cosine
  FROM ranked WHERE rank <= 3
"""


def q_label_stats(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.element_at("embedding", 1).cast("double")), 4).alias("sum_dim0"),
    )


_Q_LABEL_STATS_SQL = """
  SELECT label, count(*) AS n, round(sum(embedding[1]::DOUBLE), 4) AS sum_dim0
  FROM embeddings GROUP BY label
"""


# ---------------------------------------------------------------------------
# rows-only queries (non-SQL-expressible: hash-family signatures, LSH, the
# full pages pipeline) — driver records the weaker rows-only check
# ---------------------------------------------------------------------------


MINHASH_THRESHOLD = 0.8


def q_minhash_pairs(spark, sf_dir):
    """MinHash+LSH near-dup pairs at the standard 0.8 operating point.

    Since round 4 the DuckDB oracle (_q_minhash_sql, bottom of this
    module) recomputes the BANDING itself — md5 token hashes, 3-gram
    combine, SplitMix64 finalizer, all 64 permutations (including the
    numpy face's uint64 wraps — round-5 fix; the slots are pytest-pinned
    bitwise-identical across faces), band tuple collision — so oracle ==
    operator by construction; no probabilistic miss-bound argument
    remains in the equality claim.
    The oracle additionally ASSERTS banded == exact-threshold-set on
    the corpus in-SQL (eqchk errors loudly on any missed pair; none on
    the shipped corpora — the lowest over-threshold pair sits at
    J = 0.889 where the theoretical miss probability is ~1.6e-7).
    False positives are impossible on either face: both verify
    candidates with exact set Jaccard before the threshold filter."""
    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "doc_id", "text", threshold=MINHASH_THRESHOLD)


# (minhash oracle moved below the splitmix64 SQL machinery: _q_minhash_sql)


def q_simhash_pairs(spark, sf_dir):
    # radius 3 is the standard 64-bit simhash operating point (Manku et
    # al. WWW'07); the 4-band split is pigeonhole-exact for it. Larger
    # radii are supported (n_bands = r+1) but collide toward quadratic.
    return simhash_near_dup_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=3
    )


# Full DuckDB replica of q_simhash_pairs. The banded join is a recall
# optimization that is pigeonhole-EXACT at radius 3 (4 bands), so the
# query's output equals the brute-force definition: all id_a < id_b with
# hamming(simhash(a), simhash(b)) <= 3. The signature itself is
# recomputed from spec — md5[:8] token hash (functions/text_udfs.py
# _md5_hash64) over RE2-\s tokenization, per-bit +1/-1 vote, sign bit —
# and hamming is counted as disagreeing sign bits, which avoids 64-bit
# integer assembly (DuckDB `<<` overflows at bit 63).
_Q_SIMHASH_SQL = r"""
WITH toks AS (
  -- explicit whitespace class, not \s: RE2's \s excludes \x0B while the
  -- Python face (re.ASCII \S) splits on it — the explicit class makes
  -- both sides tokenize identically even on control-char text
  SELECT doc_id, unnest(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS tok
  FROM documents
), dt AS (
  SELECT DISTINCT doc_id, tok FROM toks WHERE tok <> ''
), th AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h FROM dt
), bitrange AS (
  SELECT unnest(range(64))::UBIGINT AS bit
), acc AS (
  SELECT doc_id, b.bit,
         SUM(CASE WHEN (h >> b.bit) & 1::UBIGINT = 1::UBIGINT THEN 1 ELSE -1 END) AS acc
  FROM th CROSS JOIN bitrange b
  GROUP BY 1, 2
), signs AS (
  SELECT d.doc_id, b.bit, coalesce(a.acc, 0) > 0 AS s
  FROM documents d CROSS JOIN bitrange b
  LEFT JOIN acc a ON a.doc_id = d.doc_id AND a.bit = b.bit
), bands AS (
  -- 4 x 16-bit bands assembled from the sign bits (16-bit values never
  -- overflow BIGINT, unlike full 64-bit assembly). The same pigeonhole
  -- trick as the Spark side: a pair within hamming 3 must agree on >= 1
  -- of 4 bands, so candidates come from a band equi-join instead of the
  -- previous all-pairs bit join (which was O(64 * n^2) and made the
  -- oracle itself the scale bottleneck).
  SELECT doc_id, CAST(bit // 16 AS INTEGER) AS band,
         SUM(CASE WHEN s THEN (CAST(1 AS BIGINT) << CAST(bit % 16 AS INTEGER))
                  ELSE 0 END) AS bval
  FROM signs GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       CAST(SUM(bit_count(xor(a.bval, b.bval))) AS INTEGER) AS hamming
FROM cand c
JOIN bands a ON a.doc_id = c.id_a
JOIN bands b ON b.doc_id = c.id_b AND b.band = a.band
GROUP BY 1, 2
HAVING SUM(bit_count(xor(a.bval, b.bval))) <= 3
"""


def q_ann_lsh_topk(spark, sf_dir):
    """Sign-LSH ANN top-k. Fully oracled: the Rademacher hyperplanes are a
    pure function of (dim, bit) (operators/similarity_search.py
    lsh_plane_signs), so DuckDB recomputes the bucket assignment, the
    hamming<=1 multi-probe expansion, the candidate equi-join and the
    exact re-ranking from the same spec."""
    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") % PROBE_MOD == 0)
    return cosine_topk_lsh(probes, e, k=3, bits=8, probe_hamming=1)


def _q_ann_lsh_sql(dim: int = 64, bits: int = 8) -> str:
    """DuckDB replica of q_ann_lsh_topk over a ``dim``-wide embedding
    table: hyperplane sign literals are generated from the SAME
    (d, b) -> splitmix64 spec the Spark UDF uses (they are configuration
    constants, like the PIP rectangle coordinates)."""
    from ..operators.similarity_search import lsh_plane_signs

    planes = lsh_plane_signs(dim, bits)  # (dim, bits) of +-1.0
    plane_rows = ",\n      ".join(
        "({}, [{}])".format(
            b, ", ".join(f"{planes[d, b]:.1f}" for d in range(dim))
        )
        for b in range(bits)
    )
    flips = [0] + [1 << b for b in range(bits)]  # probe_hamming = 1
    # dim guard: the hyperplane literals are generated for a fixed width,
    # while the Spark bucket UDF adapts to the table at runtime — a
    # corpus with a different embedding width must fail LOUDLY here, not
    # bucket differently on the two faces.
    return f"""
  WITH dimchk AS (
    SELECT CASE WHEN min(len(embedding)) = {dim} AND max(len(embedding)) = {dim} THEN 1
                ELSE CAST(error('ann_lsh_topk oracle: embeddings width <> {dim} — '
                                || 'regenerate the hyperplane literals') AS INT)
           END AS ok FROM embeddings),
  e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings, dimchk WHERE dimchk.ok = 1),
  planes(b, s) AS (VALUES
      {plane_rows}),
  sb AS (
    SELECT e.vec_id, e.v,
           cast(sum(CASE WHEN round(list_dot_product(e.v, p.s), 9) > 0
                         THEN 1 << p.b ELSE 0 END) as bigint) AS bucket
    FROM e, planes p GROUP BY e.vec_id, e.v),
  pe AS (
    SELECT vec_id, v, xor(bucket, f.f) AS bucket
    FROM sb, (SELECT unnest({flips}) AS f) f
    WHERE vec_id % {PROBE_MOD} = 0),
  cand AS (
    SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
           p.v AS pv, c.v AS cv
    FROM pe p JOIN sb c ON p.bucket = c.bucket AND p.vec_id <> c.vec_id),
  scored AS (
    SELECT probe_id, neighbor_id,
           CASE WHEN sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv)) > 0
                THEN list_dot_product(pv, cv) /
                     (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv)))
                ELSE 0.0 END AS cosine
    FROM cand),
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM scored)
  SELECT probe_id, neighbor_id, cast(rank as int) AS rank, round(cosine, 6) AS cosine
  FROM ranked WHERE rank <= 3
"""


def q_ann_ivf_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") % PROBE_MOD == 0)
    # n_probe=6/16 lists: the measured operating point (recall@3 = 0.75
    # at sf0.01, pinned by q_ann_ivf_recall below; n_probe=n_lists would
    # degenerate to exact).
    return cosine_topk_ivf(probes, e, k=3, n_lists=16, n_probe=6)


def _q_ann_ivf_sql(testdata_root: str = "/root/testdata") -> str | None:
    """DuckDB replica of q_ann_ivf_topk — the round-4 close of the last
    rows-only query. The ONE non-SQL step (seeded k-means training) is
    materialized driver-side by ``ivf_centroids_from_parquet`` — the
    Spark-free twin of the trainer inside cosine_topk_ivf, bitwise
    deterministic because both read the identical parquet bytes, take the
    identical ordered sample and run the identical seeded numpy — and
    injected as a VALUES table, the same status as the PIP rectangle
    coordinates or the LSH hyperplane signs (configuration constants of
    the query). EVERYTHING downstream is genuinely recomputed in SQL:
    normalization, the 1e-9-quantized centroid similarities, argmax list
    assignment, top-n_probe multi-probe expansion, the candidate
    equi-join, exact cosine and the window top-k.

    Because the centroids depend on the corpus, one set per shipped
    corpus is trained and the right one selected IN SQL by a content
    signature (count + value checksum — the same mechanism the
    ann_ivf_recall pin uses); an unrecognized corpus fails loudly via
    ``error()`` instead of silently passing. Returns None when no corpus
    is available to train on (callers then omit the oracle entry — the
    query degrades to rows-only rather than crashing import)."""
    import glob as _glob
    import os as _os

    from ..operators.similarity_search import ivf_centroids_from_parquet

    n_probe, k = 6, 3
    corpora = []
    for path in sorted(_glob.glob(_os.path.join(testdata_root, "sf*", "embeddings.parquet"))):
        try:
            import pyarrow.parquet as _pq

            t = _pq.read_table(path, columns=["embedding"]).to_pandas()
            first = np.array([v[0] for v in t["embedding"].to_numpy()], dtype=np.float64)
            cents = ivf_centroids_from_parquet(path, n_lists=16, sample_rows=2000)
            corpora.append((len(t), float(first.sum()), cents))
        except (OSError, ValueError, KeyError, ImportError) as exc:
            # a skipped corpus degrades the gate to "unrecognized corpus
            # error()" at compare time — never silently; say why here
            # (ADVICE r4: the bare except hid real failures)
            import logging

            logging.getLogger(__name__).warning(
                "ann_ivf_topk oracle: skipping corpus %s (%s: %s)",
                path, type(exc).__name__, exc,
            )
            continue
    if not corpora:
        return None

    cent_rows = []
    cases = []
    for i, (cnt, s, cents) in enumerate(corpora):
        tag = f"c{i}"
        # +-0.15 checksum window: wide vs cross-engine float-sum-order
        # drift (~1e-12 here), narrow vs corpus-to-corpus spacing.
        cases.append(f"WHEN cnt = {cnt} AND s BETWEEN {s - 0.15:.6f} AND {s + 0.15:.6f} THEN '{tag}'")
        for l in range(cents.shape[0]):
            vals = ", ".join(f"{cents[l, d]:.17g}" for d in range(cents.shape[1]))
            cent_rows.append(f"('{tag}', {l}, [{vals}])")
    case_sql = "\n      ".join(cases)
    cent_sql = ",\n      ".join(cent_rows)
    return f"""
  WITH sig AS (SELECT count(*) AS cnt, sum(embedding[1]) AS s FROM embeddings),
  ck AS (
    SELECT CASE
      {case_sql}
      ELSE CAST(error('ann_ivf_topk oracle: unrecognized embeddings corpus '
                      || '(count=' || cnt || ', checksum=' || s ||
                      ') — train centroids on it and add a pin') AS VARCHAR)
    END AS tag FROM sig),
  cents(tag, list_id, c) AS (VALUES
      {cent_sql}),
  cent AS (SELECT list_id, c FROM cents JOIN ck USING (tag)),
  e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
  nv AS (
    SELECT vec_id, v,
           list_transform(v, x -> x / (CASE WHEN sqrt(list_dot_product(v, v)) > 0
                                            THEN sqrt(list_dot_product(v, v)) ELSE 1.0 END)) AS u
    FROM e),
  sims AS (
    SELECT n.vec_id, n.v, cent.list_id,
           round(list_dot_product(n.u, cent.c), 9) AS sim
    FROM nv n CROSS JOIN cent),
  ranked AS (
    SELECT vec_id, v, list_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, list_id ASC) AS r
    FROM sims),
  assign AS (SELECT vec_id AS neighbor_id, v AS cv, list_id FROM ranked WHERE r = 1),
  probes AS (SELECT vec_id AS probe_id, v AS pv, list_id FROM ranked
             WHERE r <= {n_probe} AND vec_id % {PROBE_MOD} = 0),
  cand AS (
    SELECT DISTINCT p.probe_id, a.neighbor_id, p.pv, a.cv
    FROM probes p JOIN assign a USING (list_id)
    WHERE p.probe_id <> a.neighbor_id),
  scored AS (
    SELECT probe_id, neighbor_id,
           CASE WHEN sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv)) > 0
                THEN list_dot_product(pv, cv) /
                     (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv)))
                ELSE 0.0 END AS cosine
    FROM cand),
  topk AS (
    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM scored)
  SELECT probe_id, neighbor_id, cast(rank as int) AS rank, round(cosine, 6) AS cosine
  FROM topk WHERE rank <= {k}
"""


SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes


def q_event_sessions(spark, sf_dir):
    """Gap-based sessionization over the static events table — the BATCH
    twin of streaming/ingest.py sessionize_events (same output schema and
    semantics on complete data; stream==batch parity is pytest-pinned).
    Classic lag/cumsum shape: a session break is a per-user gap > 30 min;
    the running sum of breaks numbers the sessions."""
    e = _t(spark, sf_dir, "events")
    us = _epoch_us("ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    brk = (
        F.when(us - F.lag(us).over(w) > F.lit(SESSION_GAP_US), 1)
        .otherwise(0)
    )
    sess = e.select(
        "user_id", us.alias("_us"), brk.alias("_brk")
    ).withColumn(
        "_sno",
        F.sum("_brk").over(
            Window.partitionBy("user_id").orderBy("_us").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    return sess.groupBy("user_id", "_sno").agg(
        F.min("_us").alias("session_start_us"),
        F.max("_us").alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
    ).select("user_id", "session_start_us", "session_end_us", "n_events")


_Q_EVENT_SESSIONS_SQL = f"""
  WITH t AS (
    SELECT user_id, epoch_us(ts) AS us,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                     OVER (PARTITION BY user_id ORDER BY ts) > {SESSION_GAP_US}
                THEN 1 ELSE 0 END AS brk
    FROM events),
  s AS (
    SELECT user_id, us,
           SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                          ROWS UNBOUNDED PRECEDING) AS sno
    FROM t)
  SELECT user_id, min(us) AS session_start_us, max(us) AS session_end_us,
         count(*) AS n_events
  FROM s GROUP BY user_id, sno
"""


def q_ann_ivf_recall(spark, sf_dir):
    """recall@k of the IVF ANN path, computed IN-PLAN against the exact
    brute-force top-k (an equi-join of the two result DataFrames — no
    driver-side comparison). Gives the one remaining rows-only operator
    (ann_ivf_topk) a driver-gated quality check: ``total`` is genuinely
    recomputed by the DuckDB oracle from the exact-topk SQL, while
    ``hits`` is a measured fixture pinned by the seeded determinism of
    the IVF trainer (orderBy(id).limit sample + fixed-seed k-means;
    invariance under input repartitioning is pytest-pinned)."""
    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") % PROBE_MOD == 0)
    ivf = cosine_topk_ivf(probes, e, k=3, n_lists=16, n_probe=6)
    exact = cosine_topk_bruteforce(probes, e, k=3)
    hits = ivf.join(
        exact.select("probe_id", "neighbor_id"), ["probe_id", "neighbor_id"]
    )
    return (
        exact.agg(F.count("*").alias("total"))
        .crossJoin(hits.agg(F.count("*").alias("hits")))
        .select(
            F.lit(3).alias("k"),
            F.col("hits").cast("long").alias("hits"),
            F.col("total").cast("long").alias("total"),
            F.round(F.col("hits") / F.col("total"), 6).alias("recall_at_k"),
        )
    )


def q_pages_pipeline_tiles(spark, sf_dir):
    """Flagship end-to-end slice on the real pages table: generate ->
    geocode (meta tag > TLD anchor) -> cells -> salted tile rollup.

    Uses the FUSED mapInPandas path: its output columns are plan
    attributes (never re-evaluated on downstream fan-out), so no persist
    is needed — r1 used the unfused ArrowEval chain + a persist that was
    never released.

    Fully oracled since round 3: the Spark side derives lat/lon by
    PARSING the generated html (the real extract->geocode precedence),
    while the DuckDB side re-derives the same coordinates from the
    generator spec alone (splitmix64 counter hash + TLD anchors +
    %.6f-formatted meta overrides) — so a hash match proves the whole
    generate/parse/geocode/tile chain end to end. Tile weights are
    floor(lat*1e6)/floor(lon*1e6) sums (exact integer arithmetic in both
    engines); the byte-weighted variant stays in run_pages_pipeline."""
    from ..plans.pipeline import pages_to_geo_fused
    from ..sources.pages import build_pages_df

    pages = build_pages_df(spark, 2000, seed=42)
    geo = (
        pages_to_geo_fused(pages)
        .filter(F.col("lat").isNotNull())
        .select(
            "url",
            "lat",
            "lon",
            F.floor(F.col("lat") * 1e6).cast("long").alias("lat_e6"),
            F.floor(F.col("lon") * 1e6).cast("long").alias("lon_e6"),
        )
    )
    return tile_rollup(geo, 5, weight_col=["lat_e6", "lon_e6"], salted=True)


# --- DuckDB replica of the page-generator spec (sources/pages.py) --------

_SM64_T = 1 << 64  # uint64 wraparound modulus
_SM64_C1 = 0x9E3779B97F4A7C15
_SM64_C2 = 0xBF58476D1CE4E5B9
_SM64_C3 = 0x94D049BB133111EB


def _sql_mulmod64(a_expr: str, const: int) -> str:
    """(a * const) mod 2^64 in DuckDB, via 32-bit limbs so every
    intermediate fits HUGEINT (a full 64x64 product would overflow it)."""
    ch, cl = const >> 32, const & 0xFFFFFFFF
    return (
        f"((({a_expr}) % 4294967296) * {cl} + "
        f"(((({a_expr}) % 4294967296) * {ch} + (({a_expr}) // 4294967296) * {cl})"
        f" % 4294967296) * 4294967296) % {_SM64_T}"
    )


def _sql_xorshift(col: str, shift: int) -> str:
    """col XOR (col >> shift) for values < 2^64 held in HUGEINT."""
    return (
        f"xor(({col})::UBIGINT, (({col}) // {1 << shift})::UBIGINT)::HUGEINT"
    )


def _sm64_ctes(tag: str, src: str, in_expr: str, out_col: str) -> tuple[str, str]:
    """CTE chain computing out_col = splitmix64(in_expr) over CTE ``src``.

    Staged through named columns so the 32-bit-limb multiply expressions
    reference columns, not nested copies of themselves (a single inlined
    expression would blow up combinatorially)."""
    a, b, c = f"_sm_{tag}_a", f"_sm_{tag}_b", f"_sm_{tag}_c"
    ctes = f"""
  {a} AS (SELECT *, (({in_expr})::HUGEINT + {_SM64_C1}) % {_SM64_T} AS z FROM {src}),
  {b} AS (SELECT * EXCLUDE (z), {_sql_mulmod64(_sql_xorshift('z', 30), _SM64_C2)} AS z FROM {a}),
  {c} AS (SELECT * EXCLUDE (z), {_sql_mulmod64(_sql_xorshift('z', 27), _SM64_C3)} AS z FROM {b}),
  _sm_{tag} AS (SELECT * EXCLUDE (z), {_sql_xorshift('z', 31)} AS {out_col} FROM {c})"""
    return ctes, f"_sm_{tag}"


def _q_pages_tiles_sql(n_pages: int = 2000, seed: int = 42, z: int = 5) -> str:
    from ..sources.pages import _TLD_DRAW, _TLDS, TLD_ANCHORS

    anchor_rows = ",\n      ".join(
        f"({d}, '{_TLDS[t]}', {TLD_ANCHORS[_TLDS[t]][0]!r}, {TLD_ANCHORS[_TLDS[t]][1]!r})"
        for d, t in enumerate(_TLD_DRAW)
    )
    seed_base = seed * 0x100000001
    sm1, sm1_name = _sm64_ctes("hk", "keys", f"{seed_base} + key", "hk")
    sm2, sm2_name = _sm64_ctes("hj", "hosts", "host_id", "hj")
    ix = tile_ix_sql("lon", z)
    iy = tile_iy_sql("lat", z)
    return f"""
  WITH ids AS (SELECT range AS i FROM range(0, {n_pages})),
  keys AS (
    SELECT i, CASE WHEN i % 13 = 7 AND i > 0 THEN i - 1 ELSE i END AS key
    FROM ids),{sm1},
  hosts AS (
    SELECT *, CASE WHEN key % 5 <> 0 THEN hk % 100000 ELSE hk % 500 END AS host_id
    FROM {sm1_name}),{sm2},
  anchors(draw, tld, a_lat, a_lon) AS (VALUES
      {anchor_rows}),
  geo AS (
    SELECT h.i,
           CASE WHEN h.hk % 10 = 3
                THEN format('{{:.6f}}', (h.hk % 160001) / 1000.0 - 80.0)::DOUBLE
                ELSE a.a_lat + ((h.hj % 4001) - 2000) / 1000.0
           END AS lat,
           CASE WHEN h.hk % 10 = 3
                THEN format('{{:.6f}}', ((h.hk // 1024) % 359001) / 1000.0 - 179.5)::DOUBLE
                ELSE CASE
                  WHEN a.a_lon + (((h.hj // 4096) % 8001) - 4000) / 1000.0 >= 180.0
                    THEN a.a_lon + (((h.hj // 4096) % 8001) - 4000) / 1000.0 - 360.0
                  WHEN a.a_lon + (((h.hj // 4096) % 8001) - 4000) / 1000.0 < -180.0
                    THEN a.a_lon + (((h.hj // 4096) % 8001) - 4000) / 1000.0 + 360.0
                  ELSE a.a_lon + (((h.hj // 4096) % 8001) - 4000) / 1000.0
                END
           END AS lon
    FROM {sm2_name} h JOIN anchors a ON a.draw = h.hk % 20)
  SELECT {z} AS tile_z, {ix} AS tile_x, {iy} AS tile_y,
         count(*) AS page_count,
         cast(sum(floor(lat * 1e6)) as bigint) AS lat_e6_sum,
         cast(sum(floor(lon * 1e6)) as bigint) AS lon_e6_sum
  FROM geo GROUP BY 2, 3
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "pricing_summary": q_pricing_summary,
    "revenue_by_nation": q_revenue_by_nation,
    "top_suppliers_per_nation": q_top_suppliers_per_nation,
    "latest_event_per_user": q_latest_event_per_user,
    "parts_never_returned": q_parts_never_returned,
    "event_type_rollup": q_event_type_rollup,
    "mktsegment_stats": q_mktsegment_stats,
    "doc_cells": q_doc_cells,
    "tile_rollup_z6": q_tile_rollup,
    "raster_roundtrip": q_raster_roundtrip,
    "raster_grid": q_raster_grid,
    "pip_rectangles": q_pip_rectangles,
    "knn_k5": q_knn,
    "extract_text": q_extract_text,
    "latest_crawl_dedup": q_latest_crawl,
    "class_counts": q_class_counts,
    "exact_dedup": q_exact_dedup,
    "text_stats": q_text_stats,
    "ngram_jaccard_pairs": q_ngram_pairs,
    "embedding_topk": q_embedding_topk,
    "label_stats": q_label_stats,
    # rows-only (non-SQL-expressible)
    "minhash_pairs": q_minhash_pairs,
    "simhash_pairs": q_simhash_pairs,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_ivf_recall": q_ann_ivf_recall,
    "event_sessions": q_event_sessions,
    "pages_pipeline_tiles": q_pages_pipeline_tiles,
}

# ann_ivf_recall oracle: ``total`` (and the schema) is genuinely
# recomputed from the exact-topk SQL; ``hits`` is a measured fixture PER
# SHIPPED CORPUS (sf0.001/0.01/0.1 -> 43/45/176), selected by content —
# count(*) separates sf0.1, and sf0.001 vs sf0.01 (same ids, different
# vectors) by the sign of a value checksum; no float-equality matching.
# The fixtures are stable because the IVF trainer is fully seeded and
# its output is pytest-pinned invariant under input repartitioning
# (tests/test_operators.py). A regression in the quantizer, the list
# assignment or the probe expansion moves hits and fails the hash.
_Q_ANN_IVF_RECALL_SQL = f"""
  WITH sig AS (
    SELECT count(*) AS cnt, sum(embedding[1]) AS s FROM embeddings
  ), pins AS (
    SELECT CASE
      WHEN cnt = 2000 AND s BETWEEN 1.4 AND 1.7 THEN 176  -- sf0.1
      WHEN cnt = 500 AND s BETWEEN -1.6 AND -1.3 THEN 43  -- sf0.001
      WHEN cnt = 500 AND s BETWEEN 0.9 AND 1.2 THEN 45    -- sf0.01
      ELSE CAST(error('ann_ivf_recall oracle: unrecognized embeddings '
                      || 'corpus (count=' || cnt || ', checksum=' || s ||
                      ') — measure hits on it and add a pin') AS BIGINT)
    END AS h FROM sig
  )
  SELECT 3 AS k, CAST(h AS BIGINT) AS hits,
         CAST(count(*) AS BIGINT) AS total,
         round(h * 1.0 / count(*), 6) AS recall_at_k
  FROM ({_Q_EMB_TOPK_SQL}) exact CROSS JOIN pins
  GROUP BY h
"""

ORACLE_SQL: dict[str, str] = {
    "pricing_summary": _Q_PRICING_SQL,
    "revenue_by_nation": _Q_REVENUE_SQL,
    "top_suppliers_per_nation": _Q_TOP_SUPPLIERS_SQL,
    "latest_event_per_user": _Q_LATEST_EVENT_SQL,
    "parts_never_returned": _Q_PARTS_ANTI_SQL,
    "event_type_rollup": _Q_EVENT_ROLLUP_SQL,
    "mktsegment_stats": _Q_MKTSEG_SQL,
    "doc_cells": _q_doc_cells_sql(),
    "tile_rollup_z6": _q_tile_rollup_sql(),
    "raster_roundtrip": _q_raster_roundtrip_sql(),
    "raster_grid": _q_raster_grid_sql(),
    "pip_rectangles": _q_pip_sql(),
    "knn_k5": _q_knn_sql(),
    "extract_text": _Q_EXTRACT_SQL,
    "latest_crawl_dedup": _Q_LATEST_CRAWL_SQL,
    "class_counts": _Q_CLASS_COUNTS_SQL,
    "exact_dedup": _Q_EXACT_DEDUP_SQL,
    "text_stats": _q_text_stats_sql(),
    "ngram_jaccard_pairs": _Q_NGRAM_SQL,
    "embedding_topk": _Q_EMB_TOPK_SQL,
    "label_stats": _Q_LABEL_STATS_SQL,
    "ann_lsh_topk": _q_ann_lsh_sql(),
    "ann_ivf_recall": _Q_ANN_IVF_RECALL_SQL,
    "event_sessions": _Q_EVENT_SESSIONS_SQL,
    "pages_pipeline_tiles": _q_pages_tiles_sql(),
}

@lru_cache(maxsize=1)
def _lazy_oracle_sql() -> dict[str, str]:
    """The oracle entries too costly to build at import (ADVICE r4: the r4
    module-import-time build read every testdata embeddings parquet and
    trained 16-means per corpus on every ``import plans.queries`` —
    including imports that never touch an oracle, e.g. bench.py):
    ann_ivf_topk's injected trained centroids and the multimodal
    fixtures' VALUES (encoding + driver-side decode of each corpus).
    Built on first call, once per process."""
    from . import multimodal_fixture as mm

    builders: dict[str, Callable[[], str | None]] = {
        "ann_ivf_topk": _q_ann_ivf_sql,
        "multimodal_features": mm.fixture_oracle_values_sql,
        "phash_near_dup": mm.phash_oracle_sql,
        "audio_fp_near_dup": mm.audio_fp_oracle_sql,
        "video_fp_near_dup": mm.video_fp_oracle_sql,
        "media_near_dup_all": mm.media_near_dup_oracle_sql,
        "av_near_dup": mm.av_near_dup_oracle_sql,
        "audio_fp_near_dup_compressed": mm.audio_fp_compressed_oracle_sql,
    }
    built = {name: build() for name, build in builders.items()}
    # no corpus to train IVF centroids on: ann_ivf_topk stays rows-only
    return {name: sql for name, sql in built.items() if sql is not None}


def oracle_sql_all() -> dict[str, str]:
    """ORACLE_SQL plus the lazily built entries; all other entries are
    cheap string constants and stay eagerly importable as ORACLE_SQL."""
    return {**ORACLE_SQL, **_lazy_oracle_sql()}


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """entry() target: the geo pipeline over documents-derived points."""
    pts = doc_points(spark, sf_dir)
    pip = pip_join(
        spark, pts.withColumnRenamed("doc_id", "id"), _rect_poly_objects(), index_level=5
    )
    per_poly = pip.groupBy("poly_id").agg(F.count(F.lit(1)).alias("n_pages"))
    tiles = tile_rollup(pts, 5, weight_col="n_chars", salted=True)
    return tiles.join(
        per_poly.select(F.sum("n_pages").alias("pip_assignments")), how="cross"
    )


# ---------------------------------------------------------------------------
# round-2 coverage additions
# ---------------------------------------------------------------------------

EMB_NEAR_DUP_THRESHOLD = 0.3


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (dedup family): label-blocked
    all-pairs inside each block (the scale path swaps the block for an
    LSH bucket, see cosine_topk_lsh), cosine JVM-side, threshold filter.
    id_a < id_b."""
    from ..operators.similarity_search import with_cosine

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    # aliases of one plan, rename after the join — at broadcast sizes
    # this is cosmetic, but at SMJ scale the second side becomes a
    # ReusedQueryStage instead of a second scan+shuffle
    ea, eb = e.alias("_ea"), e.alias("_eb")
    pairs = ea.join(
        eb,
        (F.col("_ea.label") == F.col("_eb.label"))
        & (F.col("_ea.vec_id") < F.col("_eb.vec_id")),
    ).select(
        F.col("_ea.vec_id").alias("id_a"),
        F.col("_eb.vec_id").alias("id_b"),
        F.col("_ea.v").alias("va"),
        F.col("_eb.v").alias("vb"),
    )
    return (
        with_cosine(pairs, "va", "vb")
        .filter(F.round("cosine", 6) >= EMB_NEAR_DUP_THRESHOLD)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


_Q_EMB_NEAR_DUP_SQL = f"""
  WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
  pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CASE WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) > 0
                THEN list_dot_product(a.v, b.v) /
                     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                ELSE 0.0 END AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
  SELECT id_a, id_b, round(cosine, 6) AS cosine FROM pairs
  WHERE round(cosine, 6) >= {EMB_NEAR_DUP_THRESHOLD}
"""


def q_partition_pruned_scan(spark, sf_dir):
    """S3: partition pruning demo — documents written partitioned by
    ``part = doc_id % 16``, read back with a partition filter (the scan
    touches ONE directory; PartitionFilters visible in the plan)."""
    import hashlib as _hl
    import os

    # cache key = hash of the ABSOLUTE source path + source mtime guard:
    # a suffix-only key ('sf0.01') silently served one corpus's cached
    # partitioning for a different corpus with the same suffix, and a
    # regenerated corpus would keep hitting the stale cache
    src = os.path.abspath(f"{sf_dir.rstrip('/')}/documents.parquet")
    key = _hl.md5(src.encode()).hexdigest()[:10]
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".bench_data", f"docs_partitioned_{key}",
    )
    if os.path.isdir(out) and os.path.exists(src):
        if os.path.getmtime(src) > os.path.getmtime(out):
            import shutil as _sh

            _sh.rmtree(out, ignore_errors=True)
    if not os.path.isdir(out):
        (
            _t(spark, sf_dir, "documents")
            .withColumn("part", F.col("doc_id") % 16)
            .write.mode("overwrite")
            .partitionBy("part")
            .parquet(out)
        )
    return (
        spark.read.parquet(out)
        .filter(F.col("part") == 3)
        .select("doc_id", "lang", "n_chars")
    )


_Q_PART_PRUNED_SQL = """
  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 16 = 3
"""


def q_config_from_json(spark, sf_dir):
    """S5: JSON source via F.from_json — package.json-shaped strings
    parsed into typed columns inside the plan (no driver-side parsing)."""
    import json as _json

    from ..fixtures.project_pairs import config_fixtures

    cfg = config_fixtures()
    rows = [
        (side, _json.dumps(d, sort_keys=True))
        for side, d in zip(("original", "modified"), cfg["package_json"])
    ]
    df = spark.createDataFrame(rows, "side string, raw string")
    schema = (
        "name string, version string, "
        "dependencies map<string,string>, scripts map<string,string>"
    )
    p = df.select("side", F.from_json("raw", schema).alias("j"))
    return p.select(
        "side",
        F.col("j.name").alias("name"),
        F.col("j.version").alias("version"),
        F.size("j.dependencies").cast("bigint").alias("n_dependencies"),
        F.size("j.scripts").cast("bigint").alias("n_scripts"),
    )


def _q_config_from_json_sql():
    import json as _json

    from ..fixtures.project_pairs import config_fixtures

    cfg = config_fixtures()
    rows = []
    for side, d in zip(("original", "modified"), cfg["package_json"]):
        raw = _json.dumps(d, sort_keys=True).replace("'", "''")
        rows.append(f"('{side}', '{raw}')")
    vals = ", ".join(rows)
    return f"""
  SELECT side,
         json_extract_string(raw, '$.name') AS name,
         json_extract_string(raw, '$.version') AS version,
         cast(len(json_keys(raw, '$.dependencies')) as bigint) AS n_dependencies,
         cast(len(json_keys(raw, '$.scripts')) as bigint) AS n_scripts
  FROM (VALUES {vals}) AS t(side, raw)
"""


QUERIES["embedding_near_dup"] = q_embedding_near_dup
QUERIES["partition_pruned_scan"] = q_partition_pruned_scan
QUERIES["config_from_json"] = q_config_from_json
ORACLE_SQL["embedding_near_dup"] = _Q_EMB_NEAR_DUP_SQL
ORACLE_SQL["partition_pruned_scan"] = _Q_PART_PRUNED_SQL
ORACLE_SQL["config_from_json"] = _q_config_from_json_sql()


PARENT_LEVEL = 6
KRING_K = 1
KRING_SAMPLE_MOD = 50


def q_cell_hierarchy(spark, sf_dir):
    """WGQ hierarchy + k-ring faces under the oracle: for sampled docs,
    the level-12 cell, its level-6 parent and its k=1 ring cells
    (exploded), all Column expressions over the cell's (ix, iy) —
    recomputed in pure SQL morton math by DuckDB."""
    pts = doc_points(spark, sf_dir).filter(F.col("doc_id") % KRING_SAMPLE_MOD == 0)
    ij = pts.select(
        "doc_id",
        tile_ix_col("lon", CELL_LEVEL).alias("ix"),
        tile_iy_col("lat", CELL_LEVEL).alias("iy"),
    )
    shift = CELL_LEVEL - PARENT_LEVEL
    return ij.select(
        "doc_id",
        cell_from_ij_col("ix", "iy", CELL_LEVEL).alias("cell_id"),
        cell_from_ij_col(f"ix >> {shift}", f"iy >> {shift}", PARENT_LEVEL).alias("parent_id"),
        F.explode(k_ring_col("ix", "iy", CELL_LEVEL, KRING_K)).alias("ring_cell"),
    )


def _q_cell_hierarchy_sql():
    ix = tile_ix_sql("lon", CELL_LEVEL)
    iy = tile_iy_sql("lat", CELL_LEVEL)
    shift = CELL_LEVEL - PARENT_LEVEL
    n = 1 << CELL_LEVEL
    return f"""
  WITH pts AS ({_DOC_POINTS_SQL}),
  sampled AS (SELECT * FROM pts WHERE doc_id % {KRING_SAMPLE_MOD} = 0),
  ij AS (SELECT doc_id, {ix} AS ix, {iy} AS iy FROM sampled),
  ring AS (
    SELECT doc_id, ix, iy,
           ((ix + dx.v) % {n} + {n}) % {n} AS rx, iy + dy.v AS ry
    FROM ij, (VALUES (-1), (0), (1)) dx(v), (VALUES (-1), (0), (1)) dy(v)
    WHERE iy + dy.v >= 0 AND iy + dy.v < {n})
  SELECT doc_id,
         {CELL_LEVEL} * {1 << 52} + {morton_sql('ix', 'iy', CELL_LEVEL)} AS cell_id,
         {PARENT_LEVEL} * {1 << 52} + {morton_sql(f'(ix // {1 << shift})', f'(iy // {1 << shift})', PARENT_LEVEL)} AS parent_id,
         {CELL_LEVEL} * {1 << 52} + {morton_sql('rx', 'ry', CELL_LEVEL)} AS ring_cell
  FROM ring
"""


QUERIES["cell_hierarchy"] = q_cell_hierarchy
ORACLE_SQL["cell_hierarchy"] = _q_cell_hierarchy_sql()


def q_fingerprint_dedup(spark, sf_dir):
    """Document fingerprinting (rolling polynomial hash over normalized
    text) as a dedup key. The oracle can't recompute the mod-2^61 hash in
    SQL, so the check is HISTOGRAM equivalence: grouping by fingerprint
    must produce exactly the same (dup_count, n_groups) distribution as
    grouping by the normalized text itself — true whenever the hash is
    collision-free on the corpus (deterministic input, ~n^2/2^61 odds)."""
    from ..functions.text_udfs import doc_fingerprint_udf

    d = _t(spark, sf_dir, "documents")
    # plant near-duplicates that the normalization must fold: every 7th
    # doc also appears uppercased with doubled spaces (fingerprint
    # normalizes case + whitespace -> same hash)
    variants = d.filter(F.col("doc_id") % 7 == 0).select(
        F.regexp_replace(F.upper(F.col("text")), F.lit(" "), F.lit("  ")).alias("text")
    )
    corpus = d.select("text").unionAll(variants)
    groups = (
        corpus.select(doc_fingerprint_udf("text").alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("dup_count"))
    )
    return (
        groups.groupBy("dup_count")
        .agg(F.count(F.lit(1)).alias("n_groups"))
        .select("dup_count", "n_groups")
    )


_Q_FINGERPRINT_SQL = r"""
  WITH corpus AS (
    SELECT text FROM documents
    UNION ALL
    SELECT replace(upper(text), ' ', '  ') AS text FROM documents WHERE doc_id % 7 = 0),
  norm AS (
    SELECT trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS t FROM corpus),
  g AS (SELECT t, count(*) AS c FROM norm GROUP BY t)
  SELECT c AS dup_count, count(*) AS n_groups FROM g GROUP BY c
"""

QUERIES["fingerprint_dedup"] = q_fingerprint_dedup
ORACLE_SQL["fingerprint_dedup"] = _Q_FINGERPRINT_SQL
ORACLE_SQL["simhash_pairs"] = _Q_SIMHASH_SQL


# ---------------------------------------------------------------------------
# round-4: the lineage table itself under the oracle (S7 bookkeeping)
# ---------------------------------------------------------------------------

LINEAGE_N_BUCKETS = 16


def q_pipeline_lineage(spark, sf_dir):
    """S7's resume-contract BOOKKEEPING oracle-checked (round 4): run a
    fresh checkpointed_write of the documents table, then return the
    lineage markers themselves — per-bucket rows, content fingerprint,
    commit status, and a marker-vs-parquet-footer consistency bit.

    The DuckDB oracle recomputes rows and fingerprint per bucket from
    the SOURCE table alone (bucket = doc_id % 16 — the engine-portable
    bucketing checkpointed_write accepts via bucket_col; fingerprint =
    sum of a 48-bit md5 slice of the key, the same expression the sink
    reads back from the WRITTEN files). A lost row, a double-written
    bucket, or a marker that disagrees with the parquet footers all
    break the match — so the lineage/snapshot bookkeeping, not just the
    sink data (pages_pipeline_tiles), is under the gate."""
    import hashlib as _hl
    import os

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    src = os.path.abspath(f"{sf_dir.rstrip('/')}/documents.parquet")
    key = _hl.md5(src.encode()).hexdigest()[:10]
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".bench_data", f"lineage_gate_{key}",
    )
    return lineage_gate_df(spark, docs, out)


def lineage_gate_df(spark, docs, out: str):
    """checkpointed_write + marker read-back shared by q_pipeline_lineage
    and the empty-residue-class unit test. ``docs`` must carry a bigint
    ``doc_id``; ``out`` is wiped first (the gate measures the commit
    protocol, not the kill/resume-pytested skip path)."""
    import os
    import shutil

    from ..sources.catalog import (
        _bucket_stats,
        _data_dir,
        checkpointed_write,
        lineage_rows,
    )

    docs = docs.withColumn("bucket", F.pmod(F.col("doc_id"), F.lit(LINEAGE_N_BUCKETS)))
    shutil.rmtree(out, ignore_errors=True)
    checkpointed_write(
        spark, docs, out, key_col="doc_id",
        n_buckets=LINEAGE_N_BUCKETS, bucket_col="bucket", fingerprint=True,
    )
    rows = []
    for m in lineage_rows(out):
        f_rows, f_bytes = _bucket_stats(
            os.path.join(_data_dir(out), f"bucket={m['bucket']}")
        )
        rows.append(
            (
                m["bucket"],
                m["rows"],
                m["fingerprint"],
                "committed",
                # a genuinely-empty bucket (no rows in its residue class)
                # is consistent at 0 rows / 0 bytes — bytes > 0 is only
                # required when rows were written (ADVICE r4: the old
                # unconditional bytes > 0 made an empty residue class an
                # automatic gate failure)
                bool(
                    m["rows"] == f_rows
                    and m["bytes"] == f_bytes
                    and (m["bytes"] > 0 or m["rows"] == 0)
                ),
            )
        )
    return spark.createDataFrame(
        rows,
        "bucket long, n_rows long, fingerprint long, status string, "
        "bytes_consistent boolean",
    )


_Q_PIPELINE_LINEAGE_SQL = f"""
  WITH agg AS (
    SELECT doc_id % {LINEAGE_N_BUCKETS} AS bucket,
           count(*) AS n_rows,
           cast(sum(('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::UBIGINT) as bigint)
             AS fingerprint
    FROM documents GROUP BY 1),
  -- full 0..{LINEAGE_N_BUCKETS - 1} domain: checkpointed_write commits a
  -- marker for EVERY bucket, including residue classes empty on this
  -- corpus, so the oracle must yield those rows too (ADVICE r4)
  dom AS (SELECT range AS bucket FROM range(0, {LINEAGE_N_BUCKETS}))
  SELECT d.bucket,
         coalesce(a.n_rows, 0) AS n_rows,
         coalesce(a.fingerprint, 0) AS fingerprint,
         'committed' AS status,
         TRUE AS bytes_consistent
  FROM dom d LEFT JOIN agg a ON d.bucket = a.bucket
"""

QUERIES["pipeline_lineage"] = q_pipeline_lineage
ORACLE_SQL["pipeline_lineage"] = _Q_PIPELINE_LINEAGE_SQL


# ---------------------------------------------------------------------------
# round-4: minhash oracle rebuilt as an EXACT banded replica
# ---------------------------------------------------------------------------


def _q_minhash_sql(bands: int = 16, rows_per_band: int = 4) -> str:
    """DuckDB replica of q_minhash_pairs with the BANDING itself
    recomputed in SQL (the same determinization move simhash made in
    round 3), so oracle == operator by construction — no probabilistic
    miss-bound argument left in the equality claim.

    The whole hash chain is recomputed verbatim: per-token md5[:8]
    (text_udfs switched the shingle token hash from blake2b to md5 for
    exactly this), 3-gram combine with the odd multipliers (32-bit-limb
    mulmod), the SplitMix64 finalizer (the staged _sm64_ctes chain),
    DISTINCT, then the 64 permutations injected as a VALUES table — the
    same configuration-constant status as the LSH hyperplanes and IVF
    centroids. The permutation is NOT textbook (a*h + b) mod M61: the
    numpy face (minhash_signature) computes it in uint64, so a*h and the
    +b each wrap mod 2^64 BEFORE the final % M61. The SQL replicates the
    wrap — ``(((h%M61)*a) % 2^64 + b) % 2^64 % M61`` (the 2^122 product
    fits HUGEINT, so no limb math is needed for a column multiplier) —
    and tests/test_minhash_faces.py::test_minhash_sql_face_bitwise_identical
    pins all 64 slots bitwise against numpy, so the two faces band
    identically (round-5 fix; in r4 they silently disagreed on every
    slot and equality rested on both bandings catching every pair). Band collision = equality of the band's 4-signature
    tuple (the Spark side keys on xxhash64 of that tuple; hash equality
    of equal tuples is exact, and a cross-tuple xxhash collision could
    only ADD a Spark-side candidate that exact verification removes).

    Two in-SQL guards: k-gram degeneracy (docs with < 3 tokens would
    need the FNV fold path — absent from every shipped corpus, error()
    if one appears) and banded==exact (error() listing any
    over-threshold pair the banding missed, so the approximation
    CONTRACT — output equals the exact threshold set on this corpus —
    is checked deterministically instead of assumed)."""
    from ..functions.text_udfs import _MH_A, _MH_B, N_MINHASH

    assert bands * rows_per_band == N_MINHASH
    m61 = (1 << 61) - 1
    c1, c2, c3 = 0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
    perm_rows = ",\n      ".join(
        f"({i}, {int(_MH_A[i])}, {int(_MH_B[i])})" for i in range(N_MINHASH)
    )
    gram_expr = (
        f"({_sql_mulmod64('th[i]', c1)} + {_sql_mulmod64('th[i+1]', c2)}"
        f" + {_sql_mulmod64('th[i+2]', c3)}) % {_SM64_T}"
    )
    sm, sm_name = _sm64_ctes("mh", "grams", "c", "hv")
    return rf"""
  WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'),
                       x -> x <> '') AS t
    FROM documents),
  nonempty AS (SELECT * FROM toks WHERE len(t) > 0),
  kchk AS (
    SELECT CASE WHEN min(len(t)) >= 3 THEN 1
                ELSE CAST(error('minhash_pairs oracle: document with < 3 tokens '
                                || '— the short-doc FNV fold path is not '
                                || 'replicated in SQL; extend the oracle') AS INT)
           END AS ok FROM nonempty),
  hs AS (
    SELECT doc_id,
           list_transform(t, x -> ('0x' || substr(md5(x), 1, 16))::UBIGINT::HUGEINT) AS th
    FROM nonempty),
  grams AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(th) - 1), i -> {gram_expr})) AS c
    FROM hs),{sm},
  sh AS (SELECT DISTINCT doc_id, hv FROM {sm_name}),
  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
  inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
    FROM sh a JOIN sh b ON a.hv = b.hv AND a.doc_id < b.doc_id
    GROUP BY 1, 2),
  jac AS (
    SELECT id_a, id_b, ni / (sa.n + sb.n - ni) AS j
    FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b),
  perms(i, a, b) AS (VALUES
      {perm_rows}),
  sigs AS (
    SELECT doc_id, p.i AS perm,
           min(((((hv % {m61}) * p.a) % {_SM64_T} + p.b) % {_SM64_T}) % {m61}) AS s
    FROM sh, perms p GROUP BY 1, 2),
  bk AS (
    SELECT doc_id, perm // {rows_per_band} AS band,
           array_to_string(list(s ORDER BY perm), ',') AS bkey
    FROM sigs GROUP BY 1, 2),
  cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bk a JOIN bk b ON a.band = b.band AND a.bkey = b.bkey
                       AND a.doc_id < b.doc_id),
  eqchk AS (
    SELECT CASE WHEN count(*) = 0 THEN 1
                ELSE CAST(error('minhash_pairs oracle: ' || count(*) ||
                                ' exact-threshold pair(s) missed by banding on '
                                || 'this corpus — banded <> exact, re-derive '
                                || 'the (bands, rows) operating point') AS INT)
           END AS ok
    FROM jac WHERE j >= {MINHASH_THRESHOLD}
      AND NOT EXISTS (SELECT 1 FROM cand c
                      WHERE c.id_a = jac.id_a AND c.id_b = jac.id_b))
  SELECT id_a, id_b, round(j, 6) AS jaccard
  FROM jac JOIN cand USING (id_a, id_b), kchk, eqchk
  WHERE kchk.ok = 1 AND eqchk.ok = 1 AND j >= {MINHASH_THRESHOLD}
"""


ORACLE_SQL["minhash_pairs"] = _q_minhash_sql()


# ---------------------------------------------------------------------------
# round-5: the STREAM faces themselves under the oracle (VERDICT r4
# residual #3 — the batch twin was oracled and stream==batch parity was
# pytest-pinned, but the streaming paths had no CORRECTNESS row of
# their own)
# ---------------------------------------------------------------------------

_STREAM_GATE_SEQ = itertools.count()


def _run_two_phase_event_stream(spark, sf_dir: str, build_stream, prefix: str):
    """Drive a REAL Structured Streaming query over the events table and
    return its full output as a batch DataFrame (memory sink).

    Two genuine micro-batches: phase 1 is the events parquet, drained
    with ``processAllAvailable``; phase 2 is a single far-future
    sentinel event (user_id = -1, ts + 365 days) that advances the
    watermark past every real event so every append-mode result row is
    emitted. The phasing matters: the sentinel must be a LATER batch,
    otherwise its watermark would mark all real events late and drop
    them. State handling across batches is therefore genuinely
    exercised — this is the same drive shape as the pytest parity test,
    but under the driver's DuckDB gate."""
    import glob as _glob
    import os
    import shutil
    import tempfile

    src = f"{sf_dir.rstrip('/')}/events.parquet"
    work = tempfile.mkdtemp(prefix=f"{prefix}_gate_")
    try:
        indir = os.path.join(work, "in")
        os.makedirs(indir)
        shutil.copy(src, os.path.join(indir, "b1.parquet"))
        batch = spark.read.parquet(src)
        stream = spark.readStream.schema(batch.schema).parquet(indir)
        qn = f"{prefix}_{next(_STREAM_GATE_SEQ)}_{os.getpid()}"
        q = (
            build_stream(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(qn)
            .option("checkpointLocation", os.path.join(work, "ck"))
            .start()
        )
        try:
            q.processAllAvailable()
            # sentinel ts anchors to max(ts), not an arbitrary limit(1)
            # row: limit(1) without ordering is plan-dependent, and a
            # corpus spanning >365 days past that row would leave the
            # watermark short of the last real events (sessions near the
            # end never flushed -> nondeterministic gate failure)
            sent = batch.groupBy().agg(F.max("ts").alias("ts")).select(
                F.lit(-1).alias("event_id"),
                (F.col("ts") + F.expr("INTERVAL 365 DAYS")).alias("ts"),
                F.lit(-1).alias("user_id"),
                F.lit("sentinel").alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit("{}").alias("props"),
            )
            b2 = os.path.join(work, "b2")
            sent.coalesce(1).write.mode("overwrite").parquet(b2)
            (part,) = _glob.glob(os.path.join(b2, "part-*.parquet"))
            shutil.copy(part, os.path.join(indir, "b2.parquet"))
            q.processAllAvailable()
        finally:
            q.stop()
        # the memory sink holds the rows driver-side; the input files
        # and checkpoint are no longer referenced
        return spark.table(qn)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def q_event_sessions_stream(spark, sf_dir):
    """The streaming sessionizer (applyInPandasWithState + event-time
    timeout, streaming/ingest.py sessionize_events) run FOR REAL and
    gated against the SAME DuckDB oracle as the batch twin
    (event_sessions) — the stream==batch equality claim, checked by the
    driver instead of only by pytest. The sentinel's own session never
    emits (the watermark never passes it) and user -1 is filtered out
    regardless."""
    from ..streaming.ingest import sessionize_events

    out = _run_two_phase_event_stream(
        spark,
        sf_dir,
        lambda s: sessionize_events(s, gap="30 minutes", watermark="1 seconds"),
        "sess_stream",
    )
    return out.filter(F.col("user_id") >= 0).select(
        "user_id", "session_start_us", "session_end_us", "n_events"
    )


_WINDOW_US = 5 * 60 * 1_000_000


def q_event_window_counts_stream(spark, sf_dir):
    """The watermarked tumbling-window aggregation (streaming/ingest.py
    windowed_event_counts) run FOR REAL in append mode: a window emits
    only once the watermark passes its end, so the sentinel is what
    flushes every real window. Epoch-microsecond window bounds (not
    timestamps) keep the cross-engine comparison type-exact; Spark's
    tumbling windows are epoch-aligned, which is exactly the oracle's
    integer floor-division bucketing."""
    from ..streaming.ingest import windowed_event_counts

    out = _run_two_phase_event_stream(
        spark,
        sf_dir,
        lambda s: windowed_event_counts(s, window="5 minutes", watermark="10 minutes"),
        "win_stream",
    )
    return out.filter(F.col("event_type") != "sentinel").select(
        F.unix_micros("win_start").alias("win_start_us"),
        F.unix_micros("win_end").alias("win_end_us"),
        "event_type",
        "n",
        F.round("total_value", 6).alias("total_value"),
    )


_Q_EVENT_WINDOW_SQL = f"""
  SELECT (epoch_us(ts) // {_WINDOW_US}) * {_WINDOW_US} AS win_start_us,
         (epoch_us(ts) // {_WINDOW_US}) * {_WINDOW_US} + {_WINDOW_US} AS win_end_us,
         event_type,
         count(*) AS n,
         round(sum(value), 6) AS total_value
  FROM events GROUP BY 1, 2, 3
"""

QUERIES["event_sessions_stream"] = q_event_sessions_stream
# the stream face answers to the SAME oracle as its batch twin
ORACLE_SQL["event_sessions_stream"] = _Q_EVENT_SESSIONS_SQL
QUERIES["event_window_counts_stream"] = q_event_window_counts_stream
ORACLE_SQL["event_window_counts_stream"] = _Q_EVENT_WINDOW_SQL


def q_latest_state_stream(spark, sf_dir):
    """The third stream face under the oracle (round 5): the bucketed
    MERGE sink (streaming/ingest.py latest_state_stream /
    merge_upsert_latest) driven by a real foreachBatch stream over two
    micro-batches (events split by event_id parity; maxFilesPerTrigger=1
    forces genuinely incremental merges), then the STATE TABLE read back
    and compared against the latest_event_per_user oracle. No sentinel
    needed: foreachBatch merges every batch regardless of watermarks.
    ``tiebreak_cols=["event_id"]`` pins the winner on (hypothetical) ts
    ties to the same row the oracle's window ordering picks. The state
    table lives under .bench_data like the lineage gate's (wiped at the
    start of each run, left for the driver's collect)."""
    import glob as _glob
    import hashlib as _hl
    import os
    import shutil
    import tempfile

    from ..streaming.ingest import latest_state_stream

    src = f"{sf_dir.rstrip('/')}/events.parquet"
    key = _hl.md5(os.path.abspath(src).encode()).hexdigest()[:10]
    table = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".bench_data", f"latest_state_{key}",
    )
    shutil.rmtree(table, ignore_errors=True)
    work = tempfile.mkdtemp(prefix="latest_state_in_")
    try:
        indir = os.path.join(work, "in")
        os.makedirs(indir)
        batch = spark.read.parquet(src)
        for i, half in enumerate(
            (batch.filter(F.col("event_id") % 2 == 0),
             batch.filter(F.col("event_id") % 2 == 1))
        ):
            bdir = os.path.join(work, f"h{i}")
            half.coalesce(1).write.mode("overwrite").parquet(bdir)
            (part,) = _glob.glob(os.path.join(bdir, "part-*.parquet"))
            shutil.copy(part, os.path.join(indir, f"b{i}.parquet"))
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(indir)
        )
        start, read_state = latest_state_stream(
            stream, table, key_col="user_id", ts_col="ts",
            tiebreak_cols=["event_id"],
        )
        q = start(os.path.join(work, "ck"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return read_state(spark).select(
        "user_id", "event_id", _epoch_us("ts").alias("ts_us"), "event_type"
    )


QUERIES["latest_state_stream"] = q_latest_state_stream
# the MERGE-sink state answers to the SAME oracle as the as-of window
ORACLE_SQL["latest_state_stream"] = _Q_LATEST_EVENT_SQL


# ---------------------------------------------------------------------------
# round-5: multimodal features under the oracle (real PNG + JPEG codecs)
# ---------------------------------------------------------------------------


def q_multimodal_features(spark, sf_dir):
    """Multimodal image features under the CORRECTNESS gate (round 5).

    The deterministic fixture corpus (plans/multimodal_fixture.py: PNG
    across channels/filters, baseline JPEG across quality/sampling/
    restart specs, RIFF/WAVE PCM audio across bit depths/channels, and
    MJPEG video incl. a frame-sampled stream — all encoded by the
    package's own dependency-free codecs) goes through the REAL
    distributed path — ``extract_media_features``, i.e. mapInPandas
    with byte-bounded rebatching and genuine decode on executors — and
    the features come out
    micro-quantized to exact integers. The DuckDB face is a VALUES
    table computed by the Spark-free twin: PNG and WAV expectations
    derive from the ORIGINAL pre-encoding pixels/samples (lossless ⇒
    validates the decoders end-to-end), JPEG/MJPEG expectations from a
    driver-side decode (pins the distributed plumbing + codec
    determinism). payload_md5 pins the encoder output bit-exactly.
    Self-contained like ``pipeline_lineage``: the corpus is
    synthesized, so ``sf_dir`` is unused. Reference parity: the
    reference repo has no binary-asset path at all (SURVEY.md §2
    multimodal graft)."""
    from ..operators.multimodal import MEDIA_SCHEMA, extract_media_features
    from .multimodal_fixture import fixture_corpus

    corpus = fixture_corpus()
    rows = [
        (
            r["media_id"],
            r["kind"],
            bytearray(r["payload"]),
            {
                "width": None,
                "height": None,
                "sample_rate": None,
                "duration_ms": None,
                "codec": r["codec"],
            },
        )
        for r in corpus
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = extract_media_features(media)
    src = media.select(
        "media_id",
        F.col("meta.codec").alias("codec"),
        F.md5("payload").alias("payload_md5"),
    )

    def micro(c):
        # exact double arithmetic, twin of multimodal_fixture._micro
        return F.floor(c.cast("double") * F.lit(1e6) + F.lit(0.5)).cast("long")

    cols = [
        F.col("media_id"),
        F.col("codec"),
        F.col("payload_md5"),
        F.col("n_bytes"),
    ]
    cols += [micro(F.col("feat")[i]).alias(f"f{i}") for i in range(8)]
    cols += [micro(F.col("thumb_mean")[i]).alias(f"tm{i}") for i in range(3)]
    return feats.join(F.broadcast(src), "media_id").select(*cols)


QUERIES["multimodal_features"] = q_multimodal_features


def q_phash_near_dup(spark, sf_dir):
    """Perceptual image near-dup under the CORRECTNESS gate (round 5):
    the multimodal x dedup graft — collapse the same image re-encoded
    across codecs/qualities, the image analogue of minhash/simhash for
    a training-data pipeline.

    Spark face: ``operators.dedup.image_phash_pairs`` over the
    deterministic fixture corpus (plans/multimodal_fixture.phash_corpus:
    16 textured bases x {PNG across filters + Adam7, JPEG q85,
    progressive JPEG q88} + 2 corrupt payloads) — REAL distributed
    decode + pHash in mapInPandas, then the shared pigeonhole banding
    at radius 6 (7 bands). DuckDB face (phash_oracle_sql): the hashes
    are injected VALUES from the Spark-free driver twin (pins decode +
    hash determinism cross-face); banding, candidate equi-join, Hamming
    and the radius filter are genuinely recomputed in SQL. The corrupt
    rows pin the drop policy: they appear in the input and in no pair.
    Self-contained like ``multimodal_features``; ``sf_dir`` unused.
    Reference parity: the reference's visual path is an empty stub
    (``visual/compare_images.py`` — SURVEY.md §0), so this is graft
    surface."""
    from ..operators.dedup import image_phash_pairs
    from .multimodal_fixture import phash_corpus

    rows = [(r["media_id"], bytearray(r["payload"])) for r in phash_corpus()]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    return image_phash_pairs(media, max_hamming=6)


QUERIES["phash_near_dup"] = q_phash_near_dup


def q_audio_fp_near_dup(spark, sf_dir):
    """Perceptual audio near-dup under the CORRECTNESS gate (round 5):
    the audio sibling of ``phash_near_dup`` — collapse the same clip
    across gain changes, dither, and PCM-depth / IEEE-float re-encodes.

    Spark face: ``operators.dedup.audio_fingerprint_pairs`` over the
    deterministic fixture corpus (multimodal_fixture.audio_fp_corpus:
    12 base clips, half band-limited; bases 0-9 x {16-bit PCM, gain-0.6
    16-bit, gain-1.2 float32, dithered 24-bit}; bases 10-11
    CROSS-CONTAINER x {16-bit PCM, gain-0.6 16-bit, lossless FLAC,
    gain-1.2 FLAC}; + 1 corrupt RIFF payload) — real distributed
    WAV/FLAC decode + gain-invariant time-frequency fingerprint in
    mapInPandas, then the shared pigeonhole banding at radius 8
    (9 bands). DuckDB face (audio_fp_oracle_sql): twin-computed
    fingerprint VALUES; banding, candidate equi-join, Hamming and the
    radius filter genuinely recomputed in SQL. The corrupt row pins the
    drop policy. Self-contained; ``sf_dir`` unused. Reference parity:
    no audio surface exists in the reference (SURVEY.md §2 graft)."""
    from ..operators.dedup import audio_fingerprint_pairs
    from .multimodal_fixture import audio_fp_corpus

    rows = [(r["media_id"], bytearray(r["payload"])) for r in audio_fp_corpus()]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    return audio_fingerprint_pairs(media, max_hamming=8)


QUERIES["audio_fp_near_dup"] = q_audio_fp_near_dup


def q_video_fp_near_dup(spark, sf_dir):
    """Perceptual VIDEO near-dup under the CORRECTNESS gate (round 5):
    completes the multimodal x dedup triad next to ``phash_near_dup``
    (image) and ``audio_fp_near_dup`` (audio) — collapse the same clip
    across MJPEG quality re-encodes, per-frame progressive re-encode,
    a trimmed reversed cut, and animated-GIF / animated-WebP
    re-containerings.

    Spark face: ``operators.dedup.video_phash_pairs`` over the
    deterministic fixture corpus (multimodal_fixture.video_fp_corpus:
    10 base 8-frame clips; bases 0-7 x {MJPEG q85, MJPEG q78,
    progressive per-frame q85, first-frame-trimmed reversed}; base 8
    CROSS-FORMAT x {MJPEG q85, MJPEG q78, lossless animated GIF,
    trimmed-reversed interlaced GIF}; base 9 CROSS-FORMAT x {MJPEG q85,
    MJPEG q78, lossless animated WebP, trimmed-reversed animated WebP};
    + 1 corrupt payload) — real distributed MJPEG framing / GIF / WebP
    compositing + JPEG decode + per-frame pHash + per-bit majority vote
    in mapInPandas, then the shared pigeonhole banding at radius 6
    (7 bands). DuckDB face (video_fp_oracle_sql):
    twin-computed fingerprint VALUES; banding, candidate equi-join,
    Hamming and the radius filter genuinely recomputed in SQL. The
    corrupt row pins the drop policy. Self-contained; ``sf_dir``
    unused. Reference parity: no video surface exists in the reference
    (SURVEY.md §2 graft)."""
    from ..operators.dedup import video_phash_pairs
    from .multimodal_fixture import video_fp_corpus

    rows = [(r["media_id"], bytearray(r["payload"])) for r in video_fp_corpus()]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    return video_phash_pairs(media, max_hamming=6)


QUERIES["video_fp_near_dup"] = q_video_fp_near_dup


def q_simhash_pairs_stream(spark, sf_dir):
    """The STREAMING near-dup face (streaming/near_dup.py
    simhash_pairs_stream) run FOR REAL — two genuine micro-batches (the
    documents table split by doc_id parity, maxFilesPerTrigger=1) through
    the band-bucket stateful operator, memory sink, then a batch DISTINCT
    over the drained output (cross-band duplicates are identical rows;
    see the module docstring's scale note) — and gated against the SAME
    DuckDB oracle as the batch face (``simhash_pairs``): the
    stream==batch equality claim checked by the driver itself. State is
    genuinely exercised across batches: every odd-id document pairs
    against even-id history through the state store, not within one
    batch."""
    import glob as _glob
    import os
    import shutil
    import tempfile

    from ..streaming.near_dup import simhash_pairs_stream

    src = f"{sf_dir.rstrip('/')}/documents.parquet"
    batch = spark.read.parquet(src)
    work = tempfile.mkdtemp(prefix="snd_gate_")
    try:
        indir = os.path.join(work, "in")
        os.makedirs(indir)
        for k, sub in ((0, "h0"), (1, "h1")):
            batch.filter(F.col("doc_id") % 2 == k).coalesce(1).write.parquet(
                os.path.join(work, sub)
            )
        qn = f"snd_{next(_STREAM_GATE_SEQ)}_{os.getpid()}"
        shutil.copy(
            _glob.glob(os.path.join(work, "h0", "*.parquet"))[0],
            os.path.join(indir, "b1.parquet"),
        )
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(indir)
        )
        q = (
            simhash_pairs_stream(stream, "doc_id", "text", max_hamming=3)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(qn)
            .option("checkpointLocation", os.path.join(work, "ck"))
            .start()
        )
        try:
            q.processAllAvailable()
            shutil.copy(
                _glob.glob(os.path.join(work, "h1", "*.parquet"))[0],
                os.path.join(indir, "b2.parquet"),
            )
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.sql(f"SELECT DISTINCT * FROM {qn}").localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)


QUERIES["simhash_pairs_stream"] = q_simhash_pairs_stream
ORACLE_SQL["simhash_pairs_stream"] = _Q_SIMHASH_SQL


def q_simhash_pairs_stream_ttl(spark, sf_dir):
    """The BOUNDED-STATE streaming near-dup face (round 6, r5 verdict
    ask #7): ``simhash_pairs_stream_ttl`` with a deterministic event
    time (epoch + (doc_id % 7) hours), ttl = 2 h, run over two genuine
    micro-batches with ``dedup_cross_band=True`` — the chained
    ``dropDuplicatesWithinWatermark`` collapses cross-band duplicate
    emissions IN-STREAM, so the drained table is read back WITHOUT a
    post-drain DISTINCT (the gate itself pins the in-stream dedup: any
    surviving duplicate row breaks the row-count match). Oracle: the
    batch simhash SQL plus the bounded-window condition
    |ts_a - ts_b| <= ttl, which under the id-derived event times is
    |(id_a % 7) - (id_b % 7)| <= 2."""
    import glob as _glob
    import os
    import shutil
    import tempfile

    from ..streaming.near_dup import simhash_pairs_stream_ttl

    src = f"{sf_dir.rstrip('/')}/documents.parquet"
    batch = spark.read.parquet(src).withColumn(
        "ts",
        F.expr(
            "timestamp'2026-01-01 00:00:00' + "
            "make_interval(0,0,0,0,cast(doc_id % 7 as int),0,0)"
        ),
    )
    cc_key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    cc_prev = spark.conf.get(cc_key, "true")
    work = tempfile.mkdtemp(prefix="snd_ttl_gate_")
    try:
        spark.conf.set(cc_key, "false")  # chained custom stateful op
        indir = os.path.join(work, "in")
        os.makedirs(indir)
        for k, sub in ((0, "h0"), (1, "h1")):
            batch.filter(F.col("doc_id") % 2 == k).coalesce(1).write.parquet(
                os.path.join(work, sub)
            )
        qn = f"sndttl_{next(_STREAM_GATE_SEQ)}_{os.getpid()}"
        shutil.copy(
            _glob.glob(os.path.join(work, "h0", "*.parquet"))[0],
            os.path.join(indir, "b1.parquet"),
        )
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(indir)
        )
        q = (
            simhash_pairs_stream_ttl(
                stream,
                "doc_id",
                "text",
                "ts",
                ttl_seconds=2 * 3600,
                max_hamming=3,
                dedup_cross_band=True,
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(qn)
            .option("checkpointLocation", os.path.join(work, "ck"))
            .start()
        )
        try:
            q.processAllAvailable()
            shutil.copy(
                _glob.glob(os.path.join(work, "h1", "*.parquet"))[0],
                os.path.join(indir, "b2.parquet"),
            )
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.sql(
            f"SELECT id_a, id_b, hamming FROM {qn}"
        ).localCheckpoint()
    finally:
        spark.conf.set(cc_key, cc_prev)
        shutil.rmtree(work, ignore_errors=True)


QUERIES["simhash_pairs_stream_ttl"] = q_simhash_pairs_stream_ttl
ORACLE_SQL["simhash_pairs_stream_ttl"] = (
    "SELECT id_a, id_b, hamming FROM (" + _Q_SIMHASH_SQL + ")\n"
    "WHERE abs((id_a % 7) - (id_b % 7)) <= 2"
)


def q_near_dup_consensus(spark, sf_dir):
    """Ensemble near-dup dedup (late round 5): pairs flagged by >= 2 of
    the three text methods — MinHash+LSH (token-shingle Jaccard),
    SimHash (hamming radius 3) and word-3-gram Jaccard — the standard
    production pattern for precision-critical dedup (one method's false
    positives rarely survive a second, independent signal).

    Spark face: union of the three operators' pair sets with a method
    tag, grouped to a vote count + sorted method list. Each operator
    keeps its own banded candidate generation (ids-only shuffles), so
    the composition inherits every 100 TB property of its parts; the
    consensus groupBy shuffles only (id_a, id_b, method). DuckDB face:
    the SAME composition over the three faces' full oracle SQL as
    subqueries. Reference parity: no dedup surface exists in the
    reference (SURVEY.md §2 graft)."""
    d = _t(spark, sf_dir, "documents")
    m = (
        minhash_lsh_pairs(d, "doc_id", "text", threshold=MINHASH_THRESHOLD)
        .select("id_a", "id_b")
        .withColumn("method", F.lit("minhash"))
    )
    s = (
        simhash_near_dup_pairs(d, "doc_id", "text", max_hamming=3)
        .select("id_a", "id_b")
        .withColumn("method", F.lit("simhash"))
    )
    n = (
        ngram_jaccard_pairs(d, "doc_id", "text", "lang", threshold=NGRAM_THRESHOLD, n=3)
        .select("id_a", "id_b")
        .withColumn("method", F.lit("ngram"))
    )
    votes = m.unionByName(s).unionByName(n).distinct()
    return (
        votes.groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_methods"),
            F.array_join(F.sort_array(F.collect_list("method")), ",").alias(
                "methods"
            ),
        )
        .filter(F.col("n_methods") >= 2)
    )


QUERIES["near_dup_consensus"] = q_near_dup_consensus
ORACLE_SQL["near_dup_consensus"] = f"""
WITH votes AS (
  SELECT id_a, id_b, 'minhash' AS method FROM ({ORACLE_SQL["minhash_pairs"]})
  UNION
  SELECT id_a, id_b, 'simhash' AS method FROM ({ORACLE_SQL["simhash_pairs"]})
  UNION
  SELECT id_a, id_b, 'ngram' AS method FROM ({ORACLE_SQL["ngram_jaccard_pairs"]})
)
SELECT id_a, id_b, COUNT(*) AS n_methods,
       string_agg(method, ',' ORDER BY method) AS methods
FROM votes
GROUP BY id_a, id_b
HAVING COUNT(*) >= 2
"""


def q_media_near_dup_all(spark, sf_dir):
    """Mixed-modality near-dup sweep (late round 5): ONE media table
    (media_id, kind, payload) holding the image, audio and video gate
    corpora together; each modality routes to its perceptual operator
    (pHash / gain-invariant audio fingerprint / majority-vote video
    fingerprint) and the verified pairs union with a modality tag — the
    shape a real training-data pipeline dedupes a crawled media bucket
    in one pass. All three operators share the pigeonhole banding and
    the payloads-never-shuffle property, so the union inherits the
    100 TB shape of its parts. DuckDB face: per-modality twin-pinned
    hash VALUES + SQL-recomputed banding, UNION ALL. Self-contained;
    ``sf_dir`` unused."""
    from ..operators.dedup import (
        audio_fingerprint_pairs,
        image_phash_pairs,
        video_phash_pairs,
    )
    from .multimodal_fixture import media_near_dup_corpus

    rows = [
        (r["media_id"], r["kind"], bytearray(r["payload"]))
        for r in media_near_dup_corpus()
    ]
    media = spark.createDataFrame(rows, "media_id long, kind string, payload binary")
    img = image_phash_pairs(
        media.filter(F.col("kind") == "image"), max_hamming=6
    ).select(F.lit("image").alias("modality"), "id_a", "id_b", "hamming")
    aud = audio_fingerprint_pairs(
        media.filter(F.col("kind") == "audio"), max_hamming=8
    ).select(F.lit("audio").alias("modality"), "id_a", "id_b", "hamming")
    vid = video_phash_pairs(
        media.filter(F.col("kind") == "video"), max_hamming=6
    ).select(F.lit("video").alias("modality"), "id_a", "id_b", "hamming")
    return img.unionByName(aud).unionByName(vid)


QUERIES["media_near_dup_all"] = q_media_near_dup_all


def q_av_near_dup(spark, sf_dir):
    """CROSS-MODAL A/V near-dup over multiplexed containers (round 6,
    r5 verdict ask #5): RIFF/AVI and ISO-BMFF (MP4) payloads demux ON
    EXECUTORS — the MJPG/'jpeg' stream fingerprints through the
    majority-vote video hash, the PCM track through the gain-invariant
    audio fingerprint — so an A/V file pairs with a standalone WAV/FLAC
    of its soundtrack, a standalone MJPEG/GIF of its footage, AND its
    own AVI<->MP4 re-containering (corpus ids 9-11, round 6: hamming-0
    cross-container pairs in both families, an avc1 partial-demux row
    whose PCM soundtrack still pairs, and a corrupt MP4 that drops);
    both families band through ONE self-join keyed by
    (family, band_no, band_val). Payload bytes never shuffle.
    DuckDB face: per-family twin-pinned hash VALUES + SQL-recomputed
    banding, UNION ALL (plans/multimodal_fixture.av_near_dup_oracle_sql).
    Self-contained; ``sf_dir`` unused."""
    from ..operators.dedup import av_fingerprint_pairs
    from .multimodal_fixture import av_corpus

    rows = [
        (r["media_id"], bytearray(r["payload"])) for r in av_corpus()
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    return av_fingerprint_pairs(media)


QUERIES["av_near_dup"] = q_av_near_dup


def q_audio_fp_near_dup_compressed(spark, sf_dir):
    """COMPRESSED-audio near-dup under the CORRECTNESS gate (round 6):
    the r5 verdict's top residual was lossy-coded media — this query
    pins the dependency-free slice of it: the same clip must collapse
    across G.711 mu-law, G.711 A-law, and IMA ADPCM re-encodes of a
    16-bit PCM original (8 bases x 4 variants; base 7's ADPCM is
    stereo dual-mono, exercising the per-channel block interleave; + 1
    corrupt ADPCM payload — step index out of the 0-88 table — the
    operator must DROP). Spark face: the same
    ``operators.dedup.audio_fingerprint_pairs`` (real distributed
    decode of all four codec branches in mapInPandas, ids+hashes-only
    banded shuffle) at radius 12 — G.711/ADPCM quantization noise is
    signal-dependent (~37 dB SNR), hotter than r5's dither, and the
    fixture measures within-base <= 10 vs distinct-base >= 22. DuckDB
    face (audio_fp_compressed_oracle_sql): twin fingerprint VALUES +
    SQL-recomputed banding/Hamming/radius. Self-contained; ``sf_dir``
    unused. Reference parity: no audio surface in the reference
    (SURVEY.md §2 multimodal graft)."""
    from ..operators.dedup import audio_fingerprint_pairs
    from .multimodal_fixture import _COMPRESSED_MAX_HAMMING, audio_fp_compressed_corpus

    rows = [
        (r["media_id"], bytearray(r["payload"])) for r in audio_fp_compressed_corpus()
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    return audio_fingerprint_pairs(media, max_hamming=_COMPRESSED_MAX_HAMMING)


QUERIES["audio_fp_near_dup_compressed"] = q_audio_fp_near_dup_compressed


# ---------------------------------------------------------------------------
# text-pipeline operators (round 6): Gopher quality/repetition rules,
# cross-doc span dedup, PII accounting
# ---------------------------------------------------------------------------


def q_doc_quality_rules(spark, sf_dir):
    """Gopher-style quality filter (Rae et al. 2021 Table A1, exactly
    re-specified in functions/text_quality.py) over documents UNION a
    crafted fixture exercising every rule branch — bullets, ellipses,
    symbols, numeric words, word-length extremes, empty text — that the
    synthetic word-soup cannot trigger. Pure scalar projection: zero
    Python, zero shuffle. Reference parity: no text-quality surface in
    the reference (SURVEY.md §2, LLM-pipeline graft)."""
    from ..operators.text_pipeline import gopher_quality
    from .text_fixture import QUALITY_FIXTURE_ROWS, fixture_df

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_quality(d.unionByName(fixture_df(spark, QUALITY_FIXTURE_ROWS)))


def _q_doc_quality_rules_sql() -> str:
    from ..operators.text_pipeline import gopher_quality_sql
    from .text_fixture import QUALITY_FIXTURE_ROWS, union_table_sql

    return gopher_quality_sql(table=union_table_sql(QUALITY_FIXTURE_ROWS))


QUERIES["doc_quality_rules"] = q_doc_quality_rules
ORACLE_SQL["doc_quality_rules"] = _q_doc_quality_rules_sql()


def q_doc_repetition_stats(spark, sf_dir):
    """Gopher repetition filters (top-2/3-gram character fraction,
    duplicate-5/10-gram position fraction; spec in
    operators/text_pipeline.repetition_stats) over the documents table.
    Word-soup repeats heavily, so every statistic discriminates on the
    real table — no fixture needed. All shuffles are doc_id-prefixed
    groupBys (map-side combinable, bounded per-doc cardinality)."""
    from ..operators.text_pipeline import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


def _q_doc_repetition_stats_sql() -> str:
    from ..operators.text_pipeline import repetition_stats_sql

    return repetition_stats_sql()


QUERIES["doc_repetition_stats"] = q_doc_repetition_stats
ORACLE_SQL["doc_repetition_stats"] = _q_doc_repetition_stats_sql()


def q_window_span_dedup(spark, sf_dir):
    """Cross-document duplicated-span accounting (Lee et al. 2021
    exact-substring dedup shape): 8-word windows at stride 4, a span is
    duplicated iff its md5 appears in >= 2 distinct docs. documents has
    no cross-doc spans at gate scale, so a crafted fixture (shared
    16-word run at different stride-aligned offsets, an exact copy, an
    unshingleable short doc) pins the positive paths. Only
    (doc_id, md5) pairs shuffle — text never leaves the map side."""
    from ..operators.text_pipeline import window_span_dedup
    from .text_fixture import SPAN_FIXTURE_ROWS, fixture_df

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return window_span_dedup(d.unionByName(fixture_df(spark, SPAN_FIXTURE_ROWS)))


def _q_window_span_dedup_sql() -> str:
    from ..operators.text_pipeline import window_span_dedup_sql
    from .text_fixture import SPAN_FIXTURE_ROWS, union_table_sql

    return window_span_dedup_sql(table=union_table_sql(SPAN_FIXTURE_ROWS))


QUERIES["window_span_dedup"] = q_window_span_dedup
ORACLE_SQL["window_span_dedup"] = _q_window_span_dedup_sql()


def q_pii_stats(spark, sf_dir):
    """PII accounting + redaction digest: email/IPv4/phone counts via
    RE2-and-Java-safe explicit-class patterns, and the md5 of the
    redacted text (fixed replacement order email -> IP -> phone, so an
    email whose domain embeds an IPv4-shaped host redacts as ONE
    <EMAIL>). documents carries no PII, so the crafted fixture pins all
    positive paths. Scalar projection — zero shuffle."""
    from ..operators.text_pipeline import pii_stats
    from .text_fixture import PII_FIXTURE_ROWS, fixture_df

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pii_stats(d.unionByName(fixture_df(spark, PII_FIXTURE_ROWS)))


def _q_pii_stats_sql() -> str:
    from ..operators.text_pipeline import pii_stats_sql
    from .text_fixture import PII_FIXTURE_ROWS, union_table_sql

    return pii_stats_sql(table=union_table_sql(PII_FIXTURE_ROWS))


QUERIES["pii_stats"] = q_pii_stats
ORACLE_SQL["pii_stats"] = _q_pii_stats_sql()


def q_dedup_clusters(spark, sf_dir):
    """Dedup CLUSTER assignment (round 6): consensus near-dup pairs ->
    connected components (alternating large-star/small-star,
    operators/components.py) -> every document labelled with its
    cluster id (the component-min canonical survivor), cluster size and
    an is_canonical flag. Near-dup similarity is not transitive, so the
    consensus cliques are augmented with a crafted edge fixture
    (chain / triangle+tail / reversed orientation / self-loop / bridge
    — plans/graph_fixture.py) whose nodes join the doc set; without it
    the gate would never exercise a multi-hop merge. Oracle face:
    recursive transitive closure + min over the SAME composed edge SQL.

    Scale shape: consensus pair generation keeps its banded ids-only
    shuffles; the component loop is O(log n) rounds of groupBy-min +
    equi-join over an edge set that only shrinks (one tiny signature
    action per round); the final size/canonical joins are broadcastable
    id-equi-joins."""
    from ..operators.components import dedup_clusters
    from .graph_fixture import edges_df, nodes_df

    d = _t(spark, sf_dir, "documents")
    consensus = q_near_dup_consensus(spark, sf_dir).select("id_a", "id_b")
    edges = consensus.unionByName(edges_df(spark))
    docs = d.select("doc_id").unionByName(nodes_df(spark))
    return dedup_clusters(docs, edges)


QUERIES["dedup_clusters"] = q_dedup_clusters


def _components_sql(edges_sql: str, nodes_sql: str) -> str:
    """DuckDB twin of operators/components.dedup_clusters: recursive
    transitive closure (terminates because the recursive UNION dedups)
    + min-label per node. ``edges_sql``/``nodes_sql`` are SELECTs
    yielding (a, b) / (doc_id)."""
    return f"""
WITH RECURSIVE
edges0 AS ({edges_sql}),
nodes AS ({nodes_sql}),
sym AS (
  SELECT a, b FROM edges0 WHERE a <> b
  UNION
  SELECT b, a FROM edges0 WHERE a <> b
),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT reach.node, sym.b FROM reach JOIN sym ON reach.r = sym.a
),
comp AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id)
SELECT comp.doc_id, comp.cluster_id,
       cast(sizes.cluster_size as bigint) AS cluster_size,
       cast(CASE WHEN comp.doc_id = comp.cluster_id THEN 1 ELSE 0 END as bigint) AS is_canonical
FROM comp JOIN sizes ON comp.cluster_id = sizes.cluster_id
"""


def _q_dedup_clusters_sql() -> str:
    from .graph_fixture import edges_values_sql, nodes_values_sql

    return _components_sql(
        f"""
  SELECT id_a AS a, id_b AS b FROM ({ORACLE_SQL["near_dup_consensus"]})
  UNION
  SELECT id_a, id_b FROM {edges_values_sql()}""",
        f"""
  SELECT doc_id FROM documents
  UNION
  SELECT doc_id FROM {nodes_values_sql()}""",
    )


ORACLE_SQL["dedup_clusters"] = _q_dedup_clusters_sql()


CURATION_MIN_WORDS = 50
CURATION_MAX_TOP2GRAM = 0.1


def q_corpus_curation(spark, sf_dir):
    """End-to-end training-corpus curation decision (round 6) — the
    composition a real pipeline runs: quality gate -> repetition gate
    -> cluster dedup, each stage reusing this repo's oracled operators,
    emitting one keep/drop row per document with the FIRST failing
    stage as the drop reason.

    The strict Gopher profile is its own query (doc_quality_rules);
    curation thresholds are corpus-tuned as in production (the
    synthetic word-soup fails strict stopword_kinds universally, which
    would make the composition degenerate): quality = n_words >=
    CURATION_MIN_WORDS, repetition = top2gram_frac <=
    CURATION_MAX_TOP2GRAM, dedup = consensus-component canonical. All
    three stages discriminate at gate scale.

    Scale shape: pure composition — each stage keeps its own 100 TB
    shape (scalar projection / doc-keyed aggs / banded pair generation
    + star-contraction components), and the final assembly is three
    doc_id equi-joins."""
    from ..operators.components import dedup_clusters
    from ..operators.text_pipeline import gopher_quality, repetition_stats

    d = _t(spark, sf_dir, "documents")
    quality = gopher_quality(d).select("doc_id", "n_words")
    rep = repetition_stats(d).select("doc_id", "top2gram_frac")
    consensus = q_near_dup_consensus(spark, sf_dir).select("id_a", "id_b")
    clusters = dedup_clusters(d.select("doc_id"), consensus).select(
        "doc_id", "is_canonical"
    )
    bad_quality = F.col("n_words") < CURATION_MIN_WORDS
    bad_rep = F.col("top2gram_frac") > CURATION_MAX_TOP2GRAM
    dup = F.col("is_canonical") == 0
    return (
        quality.join(rep, "doc_id")
        .join(clusters, "doc_id")
        .select(
            "doc_id",
            "n_words",
            "top2gram_frac",
            "is_canonical",
            F.when(bad_quality | bad_rep | dup, F.lit(0))
            .otherwise(F.lit(1))
            .cast("long")
            .alias("keep"),
            F.when(bad_quality, F.lit("quality"))
            .when(bad_rep, F.lit("repetition"))
            .when(dup, F.lit("duplicate"))
            .otherwise(F.lit("none"))
            .alias("drop_reason"),
        )
    )


QUERIES["corpus_curation"] = q_corpus_curation


def _q_corpus_curation_sql() -> str:
    from ..operators.text_pipeline import gopher_quality_sql, repetition_stats_sql

    cc = _components_sql(
        f"SELECT id_a AS a, id_b AS b FROM ({ORACLE_SQL['near_dup_consensus']})",
        "SELECT doc_id FROM documents",
    )
    return f"""
SELECT q.doc_id, q.n_words, r.top2gram_frac, c.is_canonical,
       cast(CASE WHEN q.n_words < {CURATION_MIN_WORDS}
                   OR r.top2gram_frac > {CURATION_MAX_TOP2GRAM}
                   OR c.is_canonical = 0
            THEN 0 ELSE 1 END as bigint) AS keep,
       CASE WHEN q.n_words < {CURATION_MIN_WORDS} THEN 'quality'
            WHEN r.top2gram_frac > {CURATION_MAX_TOP2GRAM} THEN 'repetition'
            WHEN c.is_canonical = 0 THEN 'duplicate'
            ELSE 'none' END AS drop_reason
FROM (SELECT doc_id, n_words FROM ({gopher_quality_sql()})) q
JOIN (SELECT doc_id, top2gram_frac FROM ({repetition_stats_sql()})) r USING (doc_id)
JOIN (SELECT doc_id, is_canonical FROM ({cc})) c USING (doc_id)
"""


ORACLE_SQL["corpus_curation"] = _q_corpus_curation_sql()


# ---------------------------------------------------------------------------
# semantic (embedding-space) near-dup + clusters (round 6)
# ---------------------------------------------------------------------------

SEMANTIC_NEAR_DUP_THRESHOLD = 0.95
_SEM_BITS = 8
_SEM_DIM = 64


def _semantic_vectors(spark, sf_dir):
    from .embedding_fixture import fixture_df

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return e.unionByName(fixture_df(spark))


def q_semantic_near_dup(spark, sf_dir):
    """Semantic near-dup pairs (SemDeDup shape) at cosine >= 0.95 over
    embeddings UNION a crafted vector fixture (the real synthetic
    corpus tops out at cosine 0.513, so the fixture supplies the
    transitive chain / exact copy / below-threshold candidate the gate
    must prove — plans/embedding_fixture.py). Candidates via the same
    oracled sign-LSH bucket family as ann_lsh_topk; exact cosine only
    on bucket collisions; 1e-9-quantized threshold compare."""
    from ..operators.similarity_search import semantic_near_dup_pairs

    return semantic_near_dup_pairs(
        _semantic_vectors(spark, sf_dir),
        threshold=SEMANTIC_NEAR_DUP_THRESHOLD,
        bits=_SEM_BITS,
        probe_hamming=1,
    )


QUERIES["semantic_near_dup"] = q_semantic_near_dup


def _semantic_pairs_sql() -> str:
    """DuckDB replica of q_semantic_near_dup: same hyperplane literals,
    bucketing, hamming<=1 expansion, exact cosine, quantized threshold."""
    from ..operators.similarity_search import lsh_plane_signs
    from .embedding_fixture import union_table_sql

    planes = lsh_plane_signs(_SEM_DIM, _SEM_BITS)
    plane_rows = ",\n      ".join(
        "({}, [{}])".format(
            b, ", ".join(f"{planes[d, b]:.1f}" for d in range(_SEM_DIM))
        )
        for b in range(_SEM_BITS)
    )
    flips = [0] + [1 << b for b in range(_SEM_BITS)]  # probe_hamming = 1
    return f"""
  WITH dimchk AS (
    SELECT CASE WHEN min(len(embedding)) = {_SEM_DIM} AND max(len(embedding)) = {_SEM_DIM} THEN 1
                ELSE CAST(error('semantic_near_dup oracle: embeddings width <> {_SEM_DIM} — '
                                || 'regenerate the hyperplane literals') AS INT)
           END AS ok FROM {union_table_sql()}),
  e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {union_table_sql()}, dimchk WHERE dimchk.ok = 1),
  planes(b, s) AS (VALUES
      {plane_rows}),
  sb AS (
    SELECT e.vec_id, e.v,
           cast(sum(CASE WHEN round(list_dot_product(e.v, p.s), 9) > 0
                         THEN 1 << p.b ELSE 0 END) as bigint) AS bucket
    FROM e, planes p GROUP BY e.vec_id, e.v),
  pe AS (
    SELECT vec_id, v, xor(bucket, f.f) AS bucket
    FROM sb, (SELECT unnest({flips}) AS f) f),
  pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS av, b.v AS bv
    FROM pe a JOIN sb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
  scored AS (
    SELECT id_a, id_b,
           CASE WHEN sqrt(list_dot_product(av, av)) * sqrt(list_dot_product(bv, bv)) > 0
                THEN list_dot_product(av, bv) /
                     (sqrt(list_dot_product(av, av)) * sqrt(list_dot_product(bv, bv)))
                ELSE 0.0 END AS cosine
    FROM pairs)
  SELECT id_a, id_b, round(cosine, 6) AS cosine
  FROM scored WHERE round(cosine, 9) >= {SEMANTIC_NEAR_DUP_THRESHOLD}
"""


ORACLE_SQL["semantic_near_dup"] = _semantic_pairs_sql()


def q_semantic_dedup_clusters(spark, sf_dir):
    """Semantic dedup clusters: the near-dup pairs above through
    connected components (operators/components.py) — the fixture's
    A~B~C chain (A~C below threshold) must land in ONE cluster, which
    no pairwise filter can do. Every vector gets cluster_id (component
    min = canonical), cluster_size, is_canonical."""
    from ..operators.components import dedup_clusters
    from ..operators.similarity_search import semantic_near_dup_pairs

    vecs = _semantic_vectors(spark, sf_dir)
    pairs = semantic_near_dup_pairs(
        vecs,
        threshold=SEMANTIC_NEAR_DUP_THRESHOLD,
        bits=_SEM_BITS,
        probe_hamming=1,
    ).select("id_a", "id_b")
    out = dedup_clusters(vecs.select(F.col("vec_id").alias("doc_id")), pairs)
    return out.select(
        F.col("doc_id").alias("vec_id"), "cluster_id", "cluster_size", "is_canonical"
    )


QUERIES["semantic_dedup_clusters"] = q_semantic_dedup_clusters


def _q_semantic_clusters_sql() -> str:
    from .embedding_fixture import union_table_sql

    cc = _components_sql(
        f"SELECT id_a AS a, id_b AS b FROM ({_semantic_pairs_sql()})",
        f"SELECT vec_id AS doc_id FROM {union_table_sql()}",
    )
    return (
        "SELECT doc_id AS vec_id, cluster_id, cluster_size, is_canonical"
        f" FROM ({cc})"
    )


ORACLE_SQL["semantic_dedup_clusters"] = _q_semantic_clusters_sql()


def q_benchmark_decontamination(spark, sf_dir):
    """Benchmark decontamination (round 6): flag training documents
    sharing ANY word-8-gram (stride 1 — every alignment) with an eval
    set. Train = documents UNION the span fixture (the only docs that
    can overlap a crafted benchmark deterministically); eval = a
    3-doc fixture whose middle row embeds words 3..12 of the shared run
    _R, hitting fixture docs A/B/D at different window offsets. Eval
    gram hashes BROADCAST (a benchmark suite is thousands of docs);
    train text never shuffles — only (doc_id, md5) pairs and per-doc
    counts."""
    from ..operators.text_pipeline import decontaminate
    from .text_fixture import EVAL_FIXTURE_ROWS, SPAN_FIXTURE_ROWS, fixture_df

    train = _t(spark, sf_dir, "documents").select("doc_id", "text").unionByName(
        fixture_df(spark, SPAN_FIXTURE_ROWS)
    )
    return decontaminate(train, fixture_df(spark, EVAL_FIXTURE_ROWS))


QUERIES["benchmark_decontamination"] = q_benchmark_decontamination


def _q_benchmark_decontamination_sql() -> str:
    from ..operators.text_pipeline import decontaminate_sql
    from .text_fixture import (
        EVAL_FIXTURE_ROWS,
        SPAN_FIXTURE_ROWS,
        fixture_values_sql,
        union_table_sql,
    )

    return decontaminate_sql(
        train_table=union_table_sql(SPAN_FIXTURE_ROWS),
        eval_table=fixture_values_sql(EVAL_FIXTURE_ROWS),
    )


ORACLE_SQL["benchmark_decontamination"] = _q_benchmark_decontamination_sql()


# per-language rebalancing quotas for the sampling gate query: every
# stratum present in the synthetic corpus, spread across the fraction
# range so each threshold branch both keeps and drops rows at gate scale
SAMPLE_FRACTIONS = {"en": 0.9, "de": 0.5, "es": 0.5, "fr": 0.25, "zh": 0.125}


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language stratified sample (round 6): keep a
    row iff the first 8 md5 bytes of (doc_id || salt), read as a u64,
    clear the language's EXACT integer threshold floor(frac * 2^64) —
    no RNG, no float division; identical row sets at any parallelism
    and in both engines. Pure scalar scan predicate — zero shuffle,
    pushes down beside the parquet reader (operators/sampling.py)."""
    from ..operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    return stratified_sample(d, SAMPLE_FRACTIONS).select("doc_id", "lang", "source")


QUERIES["stratified_sample"] = q_stratified_sample


def _q_stratified_sample_sql() -> str:
    from ..operators.sampling import stratified_sample_sql

    return stratified_sample_sql(
        "documents", SAMPLE_FRACTIONS, select="doc_id, lang, source"
    )


ORACLE_SQL["stratified_sample"] = _q_stratified_sample_sql()


def q_curation_by_source(spark, sf_dir):
    """Curation yield report (round 6): drop-reason counts and keep
    rate per source with a ROLLUP grand total — the dashboard a
    curation run ships with. Composes corpus_curation with the
    documents dim (broadcast doc_id equi-join) and a two-level
    grouping-sets aggregate; the rollup itself is one map-side
    combinable partial agg."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    cur = q_corpus_curation(spark, sf_dir).select("doc_id", "keep", "drop_reason")
    return (
        cur.join(d, "doc_id")
        .rollup("source", "drop_reason")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("keep").cast("long").alias("n_kept"),
        )
        .select(
            F.coalesce(F.col("source"), F.lit("ALL")).alias("source"),
            F.coalesce(F.col("drop_reason"), F.lit("ALL")).alias("drop_reason"),
            "n_docs",
            "n_kept",
            F.round(F.col("n_kept").cast("double") / F.col("n_docs").cast("double"), 6).alias(
                "keep_rate"
            ),
        )
    )


QUERIES["curation_by_source"] = q_curation_by_source
ORACLE_SQL["curation_by_source"] = f"""
SELECT coalesce(d.source, 'ALL') AS source,
       coalesce(c.drop_reason, 'ALL') AS drop_reason,
       count(*) AS n_docs,
       cast(sum(c.keep) as bigint) AS n_kept,
       round(cast(sum(c.keep) as double) / cast(count(*) as double), 6) AS keep_rate
FROM ({ORACLE_SQL["corpus_curation"]}) c
JOIN (SELECT doc_id, source FROM documents) d USING (doc_id)
GROUP BY ROLLUP (d.source, c.drop_reason)
"""


def q_decontaminate_redacted(spark, sf_dir):
    """Span-level decontamination (round 6): remove every word covered
    by an eval-overlapping 8-gram window instead of dropping whole
    docs; emit removal accounting + the cleaned text's md5. Same
    train/eval fixture as benchmark_decontamination, so the three
    contaminated fixture docs lose exactly their shared-run words at
    DIFFERENT offsets while the word-soup corpus passes through
    untouched (clean_md5 = md5 of the collapsed original)."""
    from ..operators.text_pipeline import decontaminate_redact
    from .text_fixture import EVAL_FIXTURE_ROWS, SPAN_FIXTURE_ROWS, fixture_df

    train = _t(spark, sf_dir, "documents").select("doc_id", "text").unionByName(
        fixture_df(spark, SPAN_FIXTURE_ROWS)
    )
    return decontaminate_redact(train, fixture_df(spark, EVAL_FIXTURE_ROWS))


QUERIES["decontaminate_redacted"] = q_decontaminate_redacted


def _q_decontaminate_redacted_sql() -> str:
    from ..operators.text_pipeline import decontaminate_redact_sql
    from .text_fixture import (
        EVAL_FIXTURE_ROWS,
        SPAN_FIXTURE_ROWS,
        fixture_values_sql,
        union_table_sql,
    )

    return decontaminate_redact_sql(
        train_table=union_table_sql(SPAN_FIXTURE_ROWS),
        eval_table=fixture_values_sql(EVAL_FIXTURE_ROWS),
    )


ORACLE_SQL["decontaminate_redacted"] = _q_decontaminate_redacted_sql()


def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary head (round 6): top-100 tokens by occurrence
    count with document frequency — the vocab-building pass of a
    tokenizer pipeline, over documents UNION all three text fixtures
    (the word-soup vocabulary alone is 31 tokens, so without them the
    LIMIT would never bind). Deterministic total order (count desc,
    token asc) makes the LIMIT stable. 100 TB shape: one map-side-combinable
    (token) agg whose cardinality is the VOCABULARY (not the corpus);
    the top-k is orderBy+limit, which Spark executes as TakeOrdered —
    per-partition heaps, no global sort shuffle."""
    from ..functions.text_quality import words_col
    from .text_fixture import (
        PII_FIXTURE_ROWS,
        QUALITY_FIXTURE_ROWS,
        SPAN_FIXTURE_ROWS,
        fixture_df,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    for rows in (QUALITY_FIXTURE_ROWS, PII_FIXTURE_ROWS, SPAN_FIXTURE_ROWS):
        d = d.unionByName(fixture_df(spark, rows))
    toks = d.select(
        "doc_id", F.explode(words_col(F.col("text"))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(100)
    )


QUERIES["vocab_topk"] = q_vocab_topk


def _q_vocab_topk_sql() -> str:
    from ..functions.text_quality import words_sql
    from .text_fixture import (
        PII_FIXTURE_ROWS,
        QUALITY_FIXTURE_ROWS,
        SPAN_FIXTURE_ROWS,
        fixture_values_sql,
    )

    unions = " UNION ALL ".join(
        f"SELECT doc_id, text FROM {fixture_values_sql(rows)}"
        for rows in (QUALITY_FIXTURE_ROWS, PII_FIXTURE_ROWS, SPAN_FIXTURE_ROWS)
    )
    return f"""
WITH docs_u AS (SELECT doc_id, text FROM documents UNION ALL {unions}),
toks AS (
  SELECT doc_id, unnest({words_sql("text")}) AS token FROM docs_u)
SELECT token, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
FROM toks GROUP BY token
ORDER BY n_occurrences DESC, token ASC LIMIT 100
"""


ORACLE_SQL["vocab_topk"] = _q_vocab_topk_sql()


def q_doc_quality_stream(spark, sf_dir):
    """STREAM face of the Gopher quality rules (round 6): the same
    gopher_quality projection run as a real micro-batched Structured
    Streaming job — three file-source batches (documents split by
    doc_id parity, then the fixture rows as their own batch;
    maxFilesPerTrigger=1 forces genuinely incremental triggers) into an
    append memory sink, answered by the SAME DuckDB oracle as
    doc_quality_rules. Stateless scalar streaming: no watermark or
    sentinel needed — every batch emits completely, proving the text
    rules are streaming-safe expressions (no aggregation, no state)."""
    import glob as _glob
    import os
    import shutil
    import tempfile

    from ..operators.text_pipeline import gopher_quality
    from .text_fixture import QUALITY_FIXTURE_ROWS, fixture_df

    src = f"{sf_dir.rstrip('/')}/documents.parquet"
    work = tempfile.mkdtemp(prefix="docq_stream_")
    try:
        indir = os.path.join(work, "in")
        os.makedirs(indir)
        batch = spark.read.parquet(src).select("doc_id", "text")
        parts = (
            batch.filter(F.col("doc_id") % 2 == 0),
            batch.filter(F.col("doc_id") % 2 == 1),
            fixture_df(spark, QUALITY_FIXTURE_ROWS),
        )
        for i, p in enumerate(parts):
            bdir = os.path.join(work, f"b{i}")
            p.coalesce(1).write.mode("overwrite").parquet(bdir)
            (part,) = _glob.glob(os.path.join(bdir, "part-*.parquet"))
            shutil.copy(part, os.path.join(indir, f"b{i}.parquet"))
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(indir)
        )
        qn = f"docq_stream_{next(_STREAM_GATE_SEQ)}_{os.getpid()}"
        q = (
            gopher_quality(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(qn)
            .option("checkpointLocation", os.path.join(work, "ck"))
            .start()
        )
        try:
            q.processAllAvailable()
            # 3 input files at one file per trigger = at least 3 batches
            n_batches = len(q.recentProgress)
            if n_batches < 3:
                raise AssertionError(
                    f"doc_quality_stream: expected >=3 micro-batches, saw {n_batches}"
                )
        finally:
            q.stop()
        return spark.table(qn)
    finally:
        shutil.rmtree(work, ignore_errors=True)


QUERIES["doc_quality_stream"] = q_doc_quality_stream
ORACLE_SQL["doc_quality_stream"] = ORACLE_SQL["doc_quality_rules"]


def q_tfidf_topk(spark, sf_dir):
    """TF-IDF sparse top-k similar documents (round 6) — the third
    candidate-generation family next to signature banding and vector
    LSH: inverted-index join with document-frequency pruning (tokens in
    > 60% of the corpus leave the vectors entirely, bounding every
    token's pair fan-out). Weights quantized at 1e-9 before every
    aggregation (ln is the only transcendental; both engines call libm)
    so the faces sum identical values. operators/tfidf.py."""
    from ..operators.tfidf import tfidf_topk_pairs

    return tfidf_topk_pairs(_t(spark, sf_dir, "documents"), k=3)


QUERIES["tfidf_topk"] = q_tfidf_topk


def _q_tfidf_topk_sql() -> str:
    from ..operators.tfidf import tfidf_topk_sql

    return tfidf_topk_sql("SELECT count(*) FROM documents", k=3)


ORACLE_SQL["tfidf_topk"] = _q_tfidf_topk_sql()


def q_unigram_logprob(spark, sf_dir):
    """Unigram LM quality score (round 6): the relational analog of the
    CCNet perplexity filter, self-trained on the input corpus in the
    same plan. Runs over documents UNION the quality fixture so the
    empty-document path (n_tokens = 0, score 0.0) is pinned by the
    gate. operators/text_pipeline.unigram_logprob."""
    from ..operators.text_pipeline import unigram_logprob
    from .text_fixture import QUALITY_FIXTURE_ROWS, fixture_df

    d = _t(spark, sf_dir, "documents").select("doc_id", "text").unionByName(
        fixture_df(spark, QUALITY_FIXTURE_ROWS)
    )
    return unigram_logprob(d)


QUERIES["unigram_logprob"] = q_unigram_logprob


def _q_unigram_logprob_sql() -> str:
    from ..operators.text_pipeline import unigram_logprob_sql
    from .text_fixture import QUALITY_FIXTURE_ROWS, union_table_sql

    return unigram_logprob_sql(table=union_table_sql(QUALITY_FIXTURE_ROWS))


ORACLE_SQL["unigram_logprob"] = _q_unigram_logprob_sql()


def q_self_dedup_redacted(spark, sf_dir):
    """Corpus self-dedup surgery (round 6): spans duplicated across
    documents keep only their canonical (min doc_id) occurrence; every
    other document has the covered words removed. Same span fixture as
    window_span_dedup — A (1000200) is the canonical keeper of the
    shared 16-word run, B and the exact copy D lose their instances,
    the word-soup corpus passes through untouched."""
    from ..operators.text_pipeline import self_dedup_redact
    from .text_fixture import SPAN_FIXTURE_ROWS, fixture_df

    d = _t(spark, sf_dir, "documents").select("doc_id", "text").unionByName(
        fixture_df(spark, SPAN_FIXTURE_ROWS)
    )
    return self_dedup_redact(d)


QUERIES["self_dedup_redacted"] = q_self_dedup_redacted


def _q_self_dedup_redacted_sql() -> str:
    from ..operators.text_pipeline import self_dedup_redact_sql
    from .text_fixture import SPAN_FIXTURE_ROWS, union_table_sql

    return self_dedup_redact_sql(table=union_table_sql(SPAN_FIXTURE_ROWS))


ORACLE_SQL["self_dedup_redacted"] = _q_self_dedup_redacted_sql()


def q_weighted_sample(spark, sf_dir):
    """Exact-size weighted sample (round 6): 10 documents per language,
    weight = n_chars (longer docs proportionally likelier), via the
    deterministic Efraimidis-Spirakis scheme in
    operators/sampling.weighted_sample_per_stratum — the fixed-quota
    complement of the hash-threshold stratified_sample."""
    from ..operators.sampling import weighted_sample_per_stratum

    d = _t(spark, sf_dir, "documents")
    return weighted_sample_per_stratum(d, n=10, weight_col="n_chars").select(
        "doc_id", "lang", "n_chars"
    )


QUERIES["weighted_sample"] = q_weighted_sample


def _q_weighted_sample_sql() -> str:
    from ..operators.sampling import weighted_sample_per_stratum_sql

    return weighted_sample_per_stratum_sql(
        "documents", n=10, weight_col="n_chars", select="doc_id, lang, n_chars"
    )


ORACLE_SQL["weighted_sample"] = _q_weighted_sample_sql()
