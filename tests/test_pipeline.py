"""End-to-end pipeline tests: text invariant on-cluster, geocode goldens,
kill/resume via the lineage catalog."""

import os

from pyspark.sql import functions as F


def test_pipeline_invariant_and_geocode(spark):
    from web_template_forensics_spark.plans.pipeline import pages_to_geo_fused
    from web_template_forensics_spark.sources.pages import build_pages_df, gen_pages_pdf

    n = 400
    pages = build_pages_df(spark, n, seed=42)
    geo = pages_to_geo_fused(pages, verify_text=True)
    got = geo.select("url", "text_ok", "lat", "lon").toPandas().set_index("url")

    gold = gen_pages_pdf(0, n, 42, with_gold=True)
    # duplicate urls: keep any row (same url -> same html -> same geocode)
    gold = gold.drop_duplicates("url").set_index("url")
    assert len(got) == n
    assert (got.text_ok == 1).all()  # extracted text byte-identical per row
    joined = got.join(gold[["gold_lat", "gold_lon"]])
    assert (joined.lat == joined.gold_lat).all()
    assert (joined.lon == joined.gold_lon).all()


def test_fused_geocode_nulls_ungeocodable_pages(spark):
    """A page with neither a geo <meta> tag nor a known host/TLD gets
    null lat and lon; a meta tag alone geocodes any url."""
    from datetime import datetime

    from web_template_forensics_spark.plans.pipeline import pages_to_geo_fused
    from web_template_forensics_spark.sources.pages import PAGES_SCHEMA

    meta = '<html><head><meta name="geo.position" content="12.5;-45.25"></head><body>x</body></html>'
    plain = "<html><head></head><body>x</body></html>"
    ts = datetime(2025, 1, 1)
    rows = [
        ("https://foreign.org/x", ts, plain.encode(), "x", "en"),
        ("https://h12.example.zz/p/1", ts, plain.encode(), "x", "en"),
        ("https://foreign.org/meta", ts, meta.encode(), "x", "en"),
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    got = {
        r.url: r
        for r in pages_to_geo_fused(pages).select("url", "lat", "lon").collect()
    }
    for url in ("https://foreign.org/x", "https://h12.example.zz/p/1"):
        assert (got[url].lat, got[url].lon) == (None, None), url
    m = got["https://foreign.org/meta"]
    assert (m.lat, m.lon) == (12.5, -45.25)


def test_checkpointed_write_resume(spark, tmp_path):
    """A run killed between the data write and the marker commit resumes:
    committed buckets are skipped, every pending bucket is rewritten
    (half-written leftovers included), and each marker's fingerprint
    matches the data on disk."""
    import shutil

    from web_template_forensics_spark.sources.catalog import (
        bucket_fingerprints,
        checkpointed_write,
        done_buckets,
        lineage_rows,
        read_table,
    )

    df = spark.range(0, 1000).withColumn("payload", F.concat(F.lit("v"), F.col("id")))
    path = str(tmp_path / "tbl")
    checkpointed_write(spark, df, path, key_col="id", n_buckets=16, fingerprint=True)

    # simulate the kill: only 5 of 16 markers made it, no snapshot, and
    # one uncommitted bucket holds a stray file (a committed bucket's
    # rows, so a resume that keeps it would duplicate them)
    committed = list(range(5))
    for b in range(5, 16):
        os.remove(os.path.join(path, "_lineage", f"bucket-{b}.json"))
    shutil.rmtree(os.path.join(path, "_snapshots"))
    assert sorted(done_buckets(path)) == committed

    def bucket_files(b):
        d = os.path.join(path, "data", f"bucket={b}")
        return [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]

    shutil.copy(
        bucket_files(0)[0],
        os.path.join(path, "data", "bucket=9", "part-99999-leftover.c000.snappy.parquet"),
    )
    assert read_table(spark, path).count() > 1000

    def bucket_mtime(b):
        return max(os.path.getmtime(f) for f in bucket_files(b))

    mtimes_before = {b: bucket_mtime(b) for b in committed}

    snap = checkpointed_write(spark, df, path, key_col="id", n_buckets=16, fingerprint=True)
    assert snap["committed_buckets"] == 16
    assert snap["total_rows"] == 1000
    for b in committed:
        assert bucket_mtime(b) == mtimes_before[b], f"bucket {b} was recomputed"

    # final table identical to the input: the leftover was replaced
    back = read_table(spark, path)
    assert back.count() == 1000
    assert back.agg(F.sum("id")).first()[0] == 499500

    # markers from BOTH runs match a fresh recompute from the written data
    marks = {m["bucket"]: m for m in lineage_rows(path)}
    assert sorted(marks) == list(range(16))
    fresh = bucket_fingerprints(spark, path, "id", list(range(16)))
    for b, m in marks.items():
        assert m["fingerprint"] == fresh[b], f"bucket {b} fingerprint drift"


def test_checkpointed_write_runs_one_task_per_core(spark, tmp_path):
    """16 pending buckets are written by at most one task per core, and
    each non-empty bucket still gets exactly one parquet file."""
    from web_template_forensics_spark.sources.catalog import checkpointed_write, lineage_rows

    sc = spark.sparkContext
    cores = sc.defaultParallelism
    # buckets 13-15 get no rows
    df = spark.range(0, 1000, 1, cores).withColumn("b", F.col("id") % 13)
    path = str(tmp_path / "tbl")
    group = "checkpointed-write-tasks"
    sc.setJobGroup(group, "checkpointed_write of 16 buckets")
    try:
        checkpointed_write(spark, df, path, key_col="id", n_buckets=16, bucket_col="b")
        tracker = sc.statusTracker()
        stages = [
            tracker.getStageInfo(s)
            for j in tracker.getJobIdsForGroup(group)
            for s in tracker.getJobInfo(j).stageIds
        ]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tasks = [s.numTasks for s in stages if s is not None]
    assert tasks and max(tasks) <= cores, tasks

    data = os.path.join(path, "data")
    dirs = sorted(d for d in os.listdir(data) if d.startswith("bucket="))
    assert dirs == sorted(f"bucket={b}" for b in range(13))
    for d in dirs:
        files = [f for f in os.listdir(os.path.join(data, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    assert [m["rows"] for m in lineage_rows(path)] == [77] * 12 + [76] + [0] * 3


def test_pipeline_text_mismatch_commits_no_sink(spark, tmp_path):
    """One page whose stored text differs from extract_text(html) fails
    the verified pipeline before either sink commits a lineage marker."""
    import pytest

    from web_template_forensics_spark.plans.pipeline import run_pages_pipeline
    from web_template_forensics_spark.sources.pages import build_pages_df

    pages = build_pages_df(spark, 40, seed=42)
    url = pages.first()["url"]
    bad = pages.withColumn(
        "text",
        F.when(F.col("url") == url, F.concat("text", F.lit("x"))).otherwise(F.col("text")),
    )
    out = tmp_path / "out"
    with pytest.raises(AssertionError, match="text-extraction invariant"):
        run_pages_pipeline(spark, pages=bad, out_dir=str(out), verify_text=True)
    for sink in ("pip", "tiles"):
        assert not (out / sink / "_lineage").exists(), sink


def test_full_pipeline_stats(spark, tmp_path):
    from web_template_forensics_spark.plans.pipeline import run_pages_pipeline

    stats = run_pages_pipeline(
        spark, n_pages=500, seed=42, out_dir=str(tmp_path / "out")
    )
    assert stats["pages"] == 500
    assert stats["geocoded"] == 500  # every synthetic page geocodes
    assert stats["tiles"] > 50
    assert stats["pip_assignments"] > 100
    assert stats["tiles_snapshot"] == 16


def test_lineage_gate_empty_residue_class(spark, tmp_path):
    """ADVICE r4: a corpus where some doc_id % 16 residue class is empty
    must still gate green — the empty bucket's marker is (0 rows,
    0 bytes, consistent) on the Spark face and the oracle generates the
    full 0..15 bucket domain with 0-row defaults."""
    import duckdb
    import pandas as pd

    from web_template_forensics_spark.plans.queries import (
        _Q_PIPELINE_LINEAGE_SQL,
        LINEAGE_N_BUCKETS,
        lineage_gate_df,
    )

    src = tmp_path / "docs.parquet"
    docs_pd = pd.DataFrame({"doc_id": [i for i in range(160) if i % 16 not in (5, 11)]})
    docs_pd.to_parquet(src)

    got = (
        lineage_gate_df(spark, spark.createDataFrame(docs_pd), str(tmp_path / "gate"))
        .toPandas()
        .sort_values("bucket")
        .reset_index(drop=True)
    )
    assert len(got) == LINEAGE_N_BUCKETS
    empty = got[got.bucket.isin([5, 11])]
    assert (empty.n_rows == 0).all()
    assert empty.bytes_consistent.all(), "empty residue class must be consistent"

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{src}'")
    want = (
        con.execute(_Q_PIPELINE_LINEAGE_SQL)
        .df()
        .sort_values("bucket")
        .reset_index(drop=True)
    )
    assert len(want) == LINEAGE_N_BUCKETS
    for col in ("bucket", "n_rows", "fingerprint", "status"):
        assert got[col].astype(want[col].dtype).equals(want[col]), col
    assert got.bytes_consistent.all() and want.bytes_consistent.all()
