"""SparkSession factory with the engine's pinned configuration.

Local mode is the sandbox proxy for a multi-executor cluster: partitioning,
broadcast and skew decisions are made as if each of the N threads were an
executor. The same builder config ships unchanged in the ``spark-submit
--py-files`` job (`jobs/run_pipeline.py`); bench.py runs it on its
``local-cluster`` substrate by passing ``spark.master`` in ``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "web_template_forensics_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    cores=None -> ``local[*]``. Shuffle partitions default to the core count:
    on a real cluster this is overridden to ~2-3x total executor cores; AQE
    coalesces downward at runtime either way.

    ``extra_conf`` is applied last, so it overrides any pinned setting,
    the master URL included (``{"spark.master": ...}``); ``cores`` then
    only sizes the shuffle-partition default.
    """
    cores_s = "*" if cores is None else str(cores)
    effective_cores = cores if cores is not None else (os.cpu_count() or 8)
    n_shuffle = shuffle_partitions or effective_cores
    # spark-submit compatibility: builder options override spark-submit's
    # --master, so forcing local[] here would silently run a cluster job
    # single-node on the driver. Only pin a master when the caller asked
    # for one (cores) or none is configured at all.
    builder = SparkSession.builder.appName(app_name)
    if cores is not None:
        builder = builder.master(f"local[{cores_s}]")
    else:
        from pyspark import SparkConf

        if SparkConf().get("spark.master", None) is None:
            builder = builder.master(f"local[{cores_s}]")
    builder = (
        builder
        # AQE: runtime coalescing + skew-join splitting (north rule names it).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow is the only Python<->JVM crossing we allow (vectorized UDFs).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # small Arrow batches pipeline MUCH better through python workers on
        # wide pages (34MB batches measured 4x slower than 1.7MB on the
        # 3.4KB-page corpus: the pipe can't overlap JVM feed with parse)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "500")
        # smaller input splits -> enough scan parallelism without an explicit
        # repartition shuffle on medium local corpora
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        # Deterministic timestamps vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # stdout hygiene: stage-progress bars interleave with any
        # one-line-JSON contract a caller prints (bench.py's r4 artifact
        # loss, VERDICT r4 #1)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
