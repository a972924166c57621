"""Driver-contract tests: entry() smoke + a fast oracle-compare subset at
sf0.001 (the full sweep is tests/test_oracle_full.py at sf0.01)."""

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF = "/root/testdata/sf0.001"

FAST_SUBSET = [
    "pricing_summary",
    "doc_cells",
    "tile_rollup_z6",
    "pip_rectangles",
    "extract_text",
    "latest_crawl_dedup",
    "text_stats",
    "label_stats",
    "pipeline_lineage",  # r4: lineage bookkeeping under the oracle
    "ann_ivf_topk",      # r4: the last formerly-rows-only query
    "event_sessions_stream",  # r5: the stateful STREAM face itself
    "multimodal_features",    # r5: real PNG/JPEG codecs under the oracle
    "phash_near_dup",         # r5: perceptual image dedup (multimodal x dedup)
    "audio_fp_near_dup",      # r5: perceptual audio dedup (audio x dedup)
    "video_fp_near_dup",      # r5: perceptual video dedup — triad complete
    "simhash_pairs_stream",   # r5: STREAMING near-dup == batch oracle
    "cell_hierarchy",         # Column parent + k-ring under the oracle
    "knn_k5",                 # disk-1 round + brute-force fallback of the kNN join
]


def test_entry_smoke(spark):
    import __spark_entry__ as em

    df = em.entry(spark)
    assert df.count() > 0
    assert "page_count" in df.columns


def test_queries_have_oracles_or_are_flagged(spark):
    import __spark_entry__ as em

    qs = em.queries()
    oracles = em.oracle_sql()
    assert set(oracles) <= set(qs)
    rows_only = set(qs) - set(oracles)
    # Round 4 closed the last rows-only query: ann_ivf_topk's seeded
    # k-means centroids are materialized by a Spark-free deterministic
    # twin and injected into the DuckDB oracle as a VALUES table
    # (configuration constants, like the LSH hyperplane signs); list
    # assignment, probe expansion, candidate join and top-k are all
    # recomputed in SQL. Every query now has a full oracle.
    assert rows_only == set()


def test_fast_oracle_subset(spark):
    import __spark_entry__ as em
    from tools.compare_oracle import compare, duck_con

    con = duck_con(SF)
    qs = em.queries()
    oracles = em.oracle_sql()
    failures = {}
    for name in FAST_SUBSET:
        sdf = qs[name](spark, SF).toPandas()
        ddf = con.sql(oracles[name]).df()
        problems = compare(sdf, ddf)
        if problems:
            failures[name] = problems
    assert not failures, failures


def test_cell_path_has_no_python_hop(spark):
    """The WGQ cell, parent and k-ring math and the PIP ray cast run as JVM
    expressions: no Python evaluation node in the executed plans of the
    cell queries, the kNN join, pip_rectangles or a bare pip_join, and no
    side table scanned from pickled rows (ExistingRDD)."""
    from pyspark.sql import functions as F

    from web_template_forensics_spark.geo.polygons import Polygon
    from web_template_forensics_spark.operators.spatial_join import knn_join, pip_join
    from web_template_forensics_spark.plans.queries import QUERIES, doc_points

    def python_hops(df):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        return [n for n in ("ArrowEvalPython", "BatchEvalPython", "ExistingRDD") if n in plan]

    for name in ("doc_cells", "cell_hierarchy", "pip_rectangles"):
        assert python_hops(QUERIES[name](spark, SF)) == [], name
    pts = doc_points(spark, SF).withColumnRenamed("doc_id", "id")
    knn = knn_join(spark, pts.filter(F.col("id") % 10 == 0), pts, k=3, level=4)
    assert python_hops(knn) == []
    polys = [
        Polygon.make(1, "box", [[(-40.0, -60.0), (-40.0, 60.0), (40.0, 60.0), (40.0, -60.0)]]),
        Polygon.make(2, "antimeridian", [[(-30.0, 170.0), (-30.0, -170.0), (0.0, -170.0), (0.0, 170.0)]]),
    ]
    assert python_hops(pip_join(spark, pts, polys, index_level=6)) == []


def test_spatial_queries_build_without_jobs(spark):
    """Building (not running) doc_cells, tile_rollup_z6, pip_rectangles and
    knn_k5 submits no Spark job once their table's schema is known: a table
    read infers its schema once, not per call, and the PIP side tables are
    local relations."""
    from web_template_forensics_spark.plans.queries import QUERIES

    names = ("doc_cells", "tile_rollup_z6", "pip_rectangles", "knn_k5")
    for name in names:
        QUERIES[name](spark, SF)  # the first read of a table infers its schema
    sc = spark.sparkContext
    group = "spatial-build-jobs"
    sc.setJobGroup(group, "build the spatial queries")
    try:
        for name in names:
            QUERIES[name](spark, SF)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []


def test_table_cache_sees_a_table_rewritten_in_place(spark, tmp_path):
    """``_t`` keeps one schema and row-group count per table version:
    rewriting a table at the same path with another schema and another
    row-group count is read with the new ones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from web_template_forensics_spark.plans.queries import _t

    def repartitioned(df):
        return "Repartition" in df._jdf.queryExecution().optimizedPlan().toString()

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2, 3], pa.int32())}), path)
    first = _t(spark, str(tmp_path), "t")
    assert first.schema.simpleString() == "struct<a:int>"
    assert sorted(r.a for r in first.collect()) == [1, 2, 3]
    assert repartitioned(first)  # one row group < the session's parallelism

    n = 4 * spark.sparkContext.defaultParallelism
    pq.write_table(
        pa.table({"a": pa.array(range(n), pa.int64()), "b": [str(i) for i in range(n)]}),
        path,
        row_group_size=1,
    )
    second = _t(spark, str(tmp_path), "t")
    assert second.schema.simpleString() == "struct<a:bigint,b:string>"
    assert sorted(r.a for r in second.collect()) == list(range(n))
    assert not repartitioned(second)


def test_knn_k5_runs_in_few_jobs_and_persists_nothing(spark):
    """Building and writing the knn_k5 query submits a bounded number of
    jobs (no per-round driver loop) and leaves no persisted RDD behind."""
    from web_template_forensics_spark.plans.queries import QUERIES

    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    group = "knn-k5-jobs"
    sc.setJobGroup(group, "knn_k5 to a noop sink")
    try:
        QUERIES["knn_k5"](spark, SF).write.format("noop").mode("overwrite").save()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) <= 12, len(jobs)
    assert sc._jsc.getPersistentRDDs().size() == before
