"""Iceberg-style table layout on plain parquet (no Iceberg jar offline).

Layout of a checkpointed table at ``path``:
    data/bucket=<N>/*.parquet        bucketed data files
    _lineage/bucket-<N>.json         per-partition done marker + metrics
    _snapshots/snap-<k>.json         snapshot: committed buckets + totals

The north rule's resumability contract: a killed job re-run with the same
inputs skips every bucket whose lineage marker exists and only recomputes
the missing ones; the final table is identical either way. On a real
cluster the same shape maps 1:1 onto Iceberg partitioned writes +
snapshot metadata — this module is the offline stand-in, kept behind a
small API so `writeTo(...)`-style code can swap in.

Buckets are ``pmod(xxhash64(key), n_buckets)`` — deterministic, so the
same row always lands in the same bucket across runs and cluster sizes.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class BucketStatus:
    bucket: int
    rows: int
    bytes: int
    wall_sec: float
    # content fingerprint of the WRITTEN bucket (read back from the data
    # files, not from the input frame): sum of a 48-bit md5 slice of the
    # bucket key per row. Engine-portable (DuckDB recomputes it in SQL),
    # so the lineage bookkeeping itself is oracle-checkable, and a
    # partial/corrupt bucket write cannot match its marker.
    fingerprint: int = 0


def _lineage_dir(path: str) -> str:
    return os.path.join(path, "_lineage")


def _data_dir(path: str) -> str:
    return os.path.join(path, "data")


def done_buckets(path: str) -> set[int]:
    d = _lineage_dir(path)
    if not os.path.isdir(d):
        return set()
    out = set()
    for f in os.listdir(d):
        if f.startswith("bucket-") and f.endswith(".json"):
            out.add(int(f[len("bucket-"):-len(".json")]))
    return out


def write_bucket_marker(path: str, status: BucketStatus) -> None:
    os.makedirs(_lineage_dir(path), exist_ok=True)
    marker = os.path.join(_lineage_dir(path), f"bucket-{status.bucket}.json")
    tmp = marker + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(
            {
                "bucket": status.bucket,
                "rows": status.rows,
                "bytes": status.bytes,
                "wall_sec": status.wall_sec,
                "fingerprint": status.fingerprint,
                "committed_at": "deterministic",  # no wall clock in metadata
            },
            fh,
        )
    os.replace(tmp, marker)


def lineage_rows(path: str) -> list[dict]:
    """The committed lineage markers, in bucket order."""
    out = []
    for b in sorted(done_buckets(path)):
        with open(os.path.join(_lineage_dir(path), f"bucket-{b}.json")) as fh:
            out.append(json.load(fh))
    return out


def write_snapshot(path: str, n_buckets: int) -> dict:
    """Aggregate lineage into a snapshot manifest (metrics table rows)."""
    lineage = lineage_rows(path)
    snap = {
        "n_buckets": n_buckets,
        "committed_buckets": len(lineage),
        "total_rows": sum(x["rows"] for x in lineage),
        "total_bytes": sum(x["bytes"] for x in lineage),
        "lineage": lineage,
    }
    sdir = os.path.join(path, "_snapshots")
    os.makedirs(sdir, exist_ok=True)
    with open(os.path.join(sdir, f"snap-{len(lineage)}.json"), "w") as fh:
        json.dump(snap, fh)
    return snap


def _fingerprint_expr(key_col: str):
    """Per-row 48-bit md5 slice of the key, summed per bucket: fits a
    BIGINT sum for <= ~2^15 rows/bucket at gate scale and is computable
    verbatim in DuckDB (('0x' || substr(md5(k),1,12))::UBIGINT)."""
    return F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 12), 16, 10
    ).cast("long")


def bucket_fingerprints(
    spark: SparkSession, path: str, key_col: str, buckets: list[int]
) -> dict[int, int]:
    """Read the WRITTEN buckets back and fingerprint each — one column-
    pruned scan of the new data, grouped by the partition column."""
    base = _data_dir(path)
    dirs = [os.path.join(base, f"bucket={b}") for b in buckets]
    dirs = [d for d in dirs if os.path.isdir(d)]
    if not dirs:
        return {}
    rows = (
        spark.read.option("basePath", base)
        .parquet(*dirs)
        .groupBy("bucket")
        .agg(F.sum(_fingerprint_expr(key_col)).alias("fp"))
        .collect()
    )
    return {int(r["bucket"]): int(r["fp"]) for r in rows}


def checkpointed_write(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key_col: str,
    n_buckets: int = 32,
    bucket_col: str | None = None,
    fingerprint: bool = False,
) -> dict:
    """Resumable bucketed write with per-partition lineage + metrics.

    Computes only the buckets without done markers. At 100 TB each bucket
    is an Iceberg partition: ALL pending buckets are written in ONE Spark
    job (``partitionBy`` + dynamic partition overwrite — only the pending
    buckets' directories are touched, committed ones are never in the
    frame, and whatever a killed run left in a pending bucket is
    replaced), then one lineage marker per bucket is committed.

    Write tasks = min(pending buckets, cores), and a task writes one file
    for each of its buckets: the shuffle hashes every bucket into exactly
    one task, so each bucket directory still gets exactly one file.

    ``bucket_col`` overrides the default ``pmod(xxhash64(key), n)``
    bucketing with a caller-provided column (values must be in
    [0, n_buckets)) — used by the oracle-gated lineage query, whose
    bucketing must be recomputable in plain SQL.

    ``fingerprint=True`` adds a content fingerprint to each marker, read
    BACK from the written files (bucket_fingerprints) — one extra
    column-pruned scan of the newly-written buckets per commit, which
    both makes the bookkeeping independently recomputable (the DuckDB
    lineage oracle) and catches a partial bucket write at commit time.
    Opt-in because the read-back is real I/O in the commit path: the
    oracle gate and the kill/resume tests run with it on; the throughput
    pipeline leaves it off (rows/bytes still come from parquet footers
    either way).
    """
    bucket_expr = (
        F.col(bucket_col)
        if bucket_col is not None
        else F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
    )
    done = done_buckets(path)
    todo = [b for b in range(n_buckets) if b not in done]
    if not todo:
        return write_snapshot(path, n_buckets)
    bdf = df.withColumn("bucket", bucket_expr)
    if len(todo) < n_buckets:
        bdf = bdf.filter(F.col("bucket").isin(todo))
    # a write task costs more than the few files it writes, so cap the
    # tasks at the cores instead of one task per bucket
    n_tasks = min(len(todo), spark.sparkContext.defaultParallelism)
    t0 = time.perf_counter()
    (
        # co-locate each bucket into one task -> one file per bucket
        # (instead of input tasks x n_buckets small files)
        bdf.repartition(n_tasks, F.col("bucket"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(_data_dir(path))
    )
    wall = time.perf_counter() - t0
    per = round(wall / max(1, len(todo)), 4)
    # row/byte metrics from the written parquet footers (driver-side
    # metadata read) — one Spark job total instead of a separate
    # groupBy-sizes job + a persist of the whole frame
    fps = bucket_fingerprints(spark, path, key_col, todo) if fingerprint else {}
    for b in todo:
        rows, nbytes = _bucket_stats(os.path.join(_data_dir(path), f"bucket={b}"))
        write_bucket_marker(path, BucketStatus(b, rows, nbytes, per, fps.get(b, 0)))
    return write_snapshot(path, n_buckets)


def _bucket_stats(bucket_dir: str) -> tuple[int, int]:
    """(rows, bytes) of one written bucket from parquet footers + file
    sizes — pure driver-side metadata, no Spark job."""
    import pyarrow.parquet as pq

    rows = 0
    nbytes = 0
    if not os.path.isdir(bucket_dir):
        return 0, 0
    for f in os.listdir(bucket_dir):
        if not f.endswith(".parquet"):
            continue
        fp = os.path.join(bucket_dir, f)
        rows += pq.ParquetFile(fp).metadata.num_rows
        nbytes += os.path.getsize(fp)
    return rows, nbytes


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(_data_dir(path)))
