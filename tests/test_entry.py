"""Driver-contract tests: entry() smoke + a fast oracle-compare subset at
sf0.001 (the full sweep runs via tools/compare_oracle.py at sf0.01)."""

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
        problems = compare(name, sdf, ddf)
        if problems:
            failures[name] = problems
    assert not failures, failures


def test_cell_path_has_no_python_hop(spark):
    """The WGQ cell, parent and k-ring math runs as JVM expressions: no
    Python evaluation node in the executed plans of the cell queries, nor
    in the kNN join's."""
    from pyspark.sql import functions as F

    from web_template_forensics_spark.operators.spatial_join import knn_join
    from web_template_forensics_spark.plans.queries import QUERIES, doc_points

    def python_nodes(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return [n for n in ("ArrowEvalPython", "BatchEvalPython") if n in plan]

    for name in ("doc_cells", "cell_hierarchy"):
        df = QUERIES[name](spark, SF)
        df.collect()
        assert python_nodes(df) == [], name
    pts = doc_points(spark, SF).withColumnRenamed("doc_id", "id")
    knn = knn_join(spark, pts.filter(F.col("id") % 10 == 0), pts, k=3, level=4)
    knn.collect()
    assert python_nodes(knn) == []


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
