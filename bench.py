"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on the
executor-JVM substrate (``local-cluster``: 8 one-core executor JVMs by
default). Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value``/``queries`` are min-over-passes wall times (contract continuity
with earlier rounds); ``value_cold``/``queries_cold`` is the first pass
(plan compile + codegen + broadcast included) and ``value_warm`` the min
of later passes — reported separately so round-over-round comparisons
are not confounded by warmup. Throughput legs (BENCH/BASELINE.md) are
under "pages_per_sec", "cascade_pairs_per_sec" and "media_items_per_sec"
(+ "_cold").

Usage: python bench.py                              # sf0.1, 8 executor JVMs
       SPARK_GRAFT_CPUS=16 python bench.py          # more executor JVMs

The same-host performance gate is perfbench/ (see README.md), not this
script.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))


def _cluster_spark(app_name: str, executors: int, shuffle_partitions: int):
    """``executors`` separate one-core executor JVMs over real
    BlockManager/RPC (``local-cluster``), each with its own Python worker
    and a 3 GiB budget — the sandbox proxy for N executors."""
    from web_template_forensics_spark.session import get_spark

    spark = get_spark(
        app_name, cores=executors, shuffle_partitions=shuffle_partitions,
        extra_conf={
            "spark.master": f"local-cluster[{executors},1,3072]",
            "spark.executorEnv.PYTHONPATH": REPO,
            "spark.driver.memory": "8g",
        },
    )
    _silence_deploy_loggers(spark)
    return spark


def _silence_deploy_loggers(spark) -> None:
    """In ``local-cluster`` mode the standalone Master/Worker run inside
    the DRIVER JVM and log at WARN; at teardown of a long run the Master
    emits thousands of ``Got status update for unknown executor`` lines,
    which drowned this script's one-JSON-line output in round 4
    (BENCH_r04.json ``parsed: null``). Drop the whole deploy subsystem to
    ERROR — its WARNs are executor-churn bookkeeping, never actionable
    here. Best-effort: a driver without log4j2 (or a future Spark that
    renames it) just keeps the default levels."""
    try:
        jvm = spark.sparkContext._jvm
        configurator = jvm.org.apache.logging.log4j.core.config.Configurator
        level = jvm.org.apache.logging.log4j.Level.ERROR
        for logger in (
            "org.apache.spark.deploy",  # Master, Worker, client
            "org.apache.spark.scheduler.cluster",  # executor add/remove churn
        ):
            configurator.setLevel(logger, level)
    except Exception:
        pass


def _healthy_cluster_count(requested: int) -> tuple[int, bool]:
    """Guard against the host's own parallel-JVM wall (r5 verdict ask #4:
    bench.py trusted SPARK_GRAFT_CPUS verbatim, so the driver's 32-JVM
    artifact inherited the documented >8-JVM host wall and per-query
    numbers stopped being comparable round-over-round). Measures per-core
    codegen throughput on N one-core executor JVMs vs 8; if the requested
    level runs below 60% of 8's per-core rate, the bench runs at 8 and
    reports the fallback in the JSON."""
    from pyspark.sql import functions as F

    def per_core(n: int) -> float:
        spark = _cluster_spark(f"cprobe-{n}", n, n)
        spark.range(10).count()
        rows = 2_000_000 * n
        t0 = time.perf_counter()
        (
            spark.range(0, rows, 1, n * 2)
            .select(F.count(F.when(F.xxhash64(F.sha2(F.col("id").cast("string"), 256)) % 2 == 0, 1)))
            .collect()
        )
        wall = time.perf_counter() - t0
        spark.stop()
        return rows / n / wall

    base = per_core(8)
    req = per_core(requested)
    if req < 0.6 * base:
        print(
            f"# executor-JVM host wall: per-core throughput at {requested} "
            f"one-core JVMs is {req / base:.2f}x of 8's — running the bench "
            f"at 8 executors (see BENCH/BASELINE.md)",
            file=sys.stderr,
        )
        return 8, True
    return requested, False


def _probe_burn(_: int) -> float:
    t0 = time.perf_counter()
    n = 0
    for i in range(12_000_000):
        n += i * i
    return time.perf_counter() - t0


def _host_probe(procs: int = 8) -> float:
    """Raw-process parallel-overlap efficiency RIGHT NOW (no Spark, no
    JVM): ``procs`` OS processes each burn a fixed CPU loop; 1.0 means
    perfect overlap. Recorded before and after the measured passes so
    every committed per-query number carries the concurrent host-capacity
    reading next to it (round-5 protocol: per-query swings on this box
    are host-dominated, and the probe makes that attribution part of the
    artifact instead of after-the-fact analysis)."""
    import multiprocessing as mp

    with mp.Pool(procs) as pool:
        t0 = time.perf_counter()
        per = pool.map(_probe_burn, range(procs))
        wall = time.perf_counter() - t0
    return round(sum(per) / procs / wall, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    pages_rows = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "200000"))
    sys.path.insert(0, REPO)

    from web_template_forensics_spark.plans.queries import QUERIES

    # 8 one-core executor JVMs is the measured healthy range on the
    # round-4 host: separate JVMs sidestep the single-JVM thread collapse,
    # but that host ALSO collapsed under ~32 parallel JVMs (623 -> 38
    # krows/s/core on a codegen loop at 8 vs 32 executors), so 8 is the
    # default; SPARK_GRAFT_CPUS overrides explicitly.
    cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
    cpus = int(cpus_env) if cpus_env else 8

    host_probe_pre = _host_probe()

    cpus_requested = cpus
    jvm_pathology = False
    if cpus > 8 and os.environ.get("SPARK_GRAFT_SKIP_PROBE") != "1":
        cpus, jvm_pathology = _healthy_cluster_count(cpus)
    substrate = f"local-cluster[{cpus},1,3072] ({cpus} one-core executor JVMs)"
    spark = _cluster_spark("bench", cpus, max(cpus, 8))

    # Warm the Python worker pool (parallel cold imports of pandas/numpy in
    # every worker dominate the first Arrow-UDF action; the measurement
    # protocol excludes process startup, so pay it before the clock starts).
    from web_template_forensics_spark.functions.text_udfs import token_count_udf

    spark.range(0, cpus * 10, 1, cpus).selectExpr("cast(id as string) s").select(
        token_count_udf("s")
    ).count()
    # ...and the relational path (whole-stage-codegen compile + parquet
    # reader init): the first relational query otherwise pays ~3-4 s of
    # one-time JVM setup that the protocol excludes as process startup.
    spark.read.parquet(f"{sf_dir}/region.parquet").groupBy().count().first()

    headline = [
        "pricing_summary",
        "revenue_by_nation",
        "doc_cells",
        "tile_rollup_z6",
        "pip_rectangles",
        "knn_k5",
        "extract_text",
        "text_stats",
        "exact_dedup",
        "minhash_pairs",
        "embedding_topk",
        "pages_pipeline_tiles",
    ]

    # COLD and WARM passes are recorded SEPARATELY (round-4 de-confound:
    # r3's min-of-2 mixed a measurement-methodology change into the
    # round-over-round comparison). Pass 0 = cold (first execution of
    # each plan this session: query compilation, codegen, broadcast
    # build, Python-worker module imports all included); passes >=1 =
    # warm (min over repeats, the standard noisy-host estimator for a
    # deterministic workload — this box's hypervisor throughput swings
    # 2-3x between minutes, BENCH/BASELINE.md "host variance").
    # ``queries``/``value`` remain min-over-all-passes for contract
    # continuity with BENCH_r03; queries_cold/value_cold are the clean
    # single-run numbers.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2")))
    timings: dict[str, float] = {}
    timings_cold: dict[str, float] = {}
    timings_warm: dict[str, float] = {}
    for rep in range(repeats):
        for name in headline:
            fn = QUERIES[name]
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()  # materialize the full plan
            wall = round(time.perf_counter() - t0, 3)
            timings[name] = min(timings.get(name, wall), wall)
            if rep == 0:
                timings_cold[name] = wall
            else:
                timings_warm[name] = min(timings_warm.get(name, wall), wall)
            print(f"# {name}[{rep}]: {n} rows in {wall}s", file=sys.stderr)

    # pages-pipeline throughput at bench scale (the N vs 4N protocol):
    # input table is generated ONCE to parquet (cached, excluded from the
    # measured window); the measured job is read -> extract-verify ->
    # geocode -> cells -> PIP -> tiles -> checkpointed sinks.
    import shutil
    import tempfile

    from web_template_forensics_spark.plans.pipeline import run_pages_pipeline
    from web_template_forensics_spark.sources.pages import build_pages_df

    rich = int(os.environ.get("SPARK_GRAFT_PAGE_RICH", "8"))
    # Fine-grained layout: parquet scans parallelize at row-group
    # granularity, and the r1/r2 bench inputs (a couple of giant row
    # groups) silently serialized the parse stage onto 1-8 tasks
    # regardless of core count.
    n_files = max(32, pages_rows // 10_000)
    pages_path = os.path.join(REPO, ".bench_data", f"pages_{pages_rows}_r{rich}_f{n_files}")
    if not os.path.isdir(pages_path):
        print(f"# generating {pages_rows} pages to {pages_path}", file=sys.stderr)
        build_pages_df(spark, pages_rows, seed=42, rich=rich).repartition(
            n_files
        ).write.mode("overwrite").parquet(pages_path)

    # cold + warm for the headline throughput too (fresh sink per
    # pass — the pipeline is deterministic, the host is not).
    pipe_wall = float("inf")
    pipe_cold = None
    for rep in range(repeats):
        sink = tempfile.mkdtemp(prefix="bench_sink_")
        try:
            pages = spark.read.parquet(pages_path)
            t0 = time.perf_counter()
            stats = run_pages_pipeline(
                spark, pages=pages, out_dir=sink, verify_text=True
            )
            wall = time.perf_counter() - t0
        finally:
            shutil.rmtree(sink, ignore_errors=True)
        pipe_wall = min(pipe_wall, wall)
        if rep == 0:
            pipe_cold = wall
        print(
            f"# pages_pipeline[{rep}]: {pages_rows} pages in {wall:.1f}s -> "
            f"{round(pages_rows / wall, 1)} pages/sec ({stats})",
            file=sys.stderr,
        )
    pages_per_sec = round(pages_rows / pipe_wall, 1)
    pages_per_sec_cold = round(pages_rows / pipe_cold, 1)

    # cascade throughput (round-5 item 6): the E1-at-scale shape — N
    # seeded ~34-file project pairs through the ONE grouped-map pass
    # (cascade_reports_per_pair). Input generated distributed once to a
    # parquet cache (excluded from the measured window, same protocol as
    # the pages input); the measured job is read -> groupBy(pair_id) ->
    # applyInPandas full-cascade replay -> count.
    from web_template_forensics_spark.operators.cascade import cascade_reports_per_pair
    from web_template_forensics_spark.sources.pairs import build_pair_files_df

    cascade_pairs = int(os.environ.get("SPARK_GRAFT_BENCH_CASCADE_PAIRS", "10000"))
    pairs_path = os.path.join(REPO, ".bench_data", f"pairs_{cascade_pairs}")
    # _SUCCESS, not isdir: an interrupted prior generation leaves a
    # partial directory that would silently benchmark a smaller corpus
    # (cascade_pairs_per_sec computed against the intended count)
    if not os.path.exists(os.path.join(pairs_path, "_SUCCESS")):
        print(f"# generating {cascade_pairs} project pairs to {pairs_path}", file=sys.stderr)
        build_pair_files_df(spark, cascade_pairs, seed0=42).write.mode(
            "overwrite"
        ).parquet(pairs_path)
    cascade_wall = float("inf")
    cascade_cold = None
    for rep in range(repeats):
        files = spark.read.parquet(pairs_path)
        t0 = time.perf_counter()
        n_reports = cascade_reports_per_pair(files).count()
        wall = time.perf_counter() - t0
        cascade_wall = min(cascade_wall, wall)
        if rep == 0:
            cascade_cold = wall
        print(
            f"# cascade_pairs[{rep}]: {n_reports} pair reports in {wall:.1f}s -> "
            f"{round(n_reports / wall, 1)} pairs/sec",
            file=sys.stderr,
        )
    # throughput from the MEASURED report count, not the requested pair
    # count — they agree on a healthy corpus and diverge loudly otherwise
    cascade_pairs_per_sec = round(n_reports / cascade_wall, 1)
    cascade_pairs_per_sec_cold = round(n_reports / cascade_cold, 1)

    # media-decode throughput (round 5: the codecs are real now, so the
    # multimodal path gets a perf number like everything else): N rows of
    # genuinely encoded PNG/JPEG/WAV/MJPEG generated distributed once to
    # a parquet cache (excluded from the measured window); the measured
    # job is read -> mapInPandas decode + features -> count. JPEG decode
    # dominates (~10 ms per 48x64 image, MJPEG = several per row).
    from pyspark.sql import functions as F

    from web_template_forensics_spark.operators.multimodal import (
        extract_media_features,
    )
    from web_template_forensics_spark.sources.media import build_media_df

    media_rows = int(os.environ.get("SPARK_GRAFT_BENCH_MEDIA", "6000"))
    # v3: corpus covers all seven codecs (v2 added GIF/WebP, v3 FLAC) —
    # versioned cache so a stale parquet never serves an old generator
    media_path = os.path.join(REPO, ".bench_data", f"media_v3_{media_rows}")
    if not os.path.exists(os.path.join(media_path, "_SUCCESS")):
        print(f"# generating {media_rows} media rows to {media_path}", file=sys.stderr)
        build_media_df(spark, media_rows, seed=42).write.mode("overwrite").parquet(
            media_path
        )
    media_mb = round(
        spark.read.parquet(media_path)
        .agg(F.sum(F.length("payload")))
        .first()[0]
        / 1e6,
        1,
    )
    media_wall = float("inf")
    media_cold = None
    # decode cost per row is wildly uneven (a WAV row is ~50x cheaper
    # than an MJPEG row), so one scan task per core leaves the wall to
    # the worst straggler; ~2 waves of smaller input SPLITS (no shuffle —
    # payload bytes still never leave the map side) lets the scheduler
    # rebalance. Finer than ~2/core measurably loses to per-task Python
    # overhead on this corpus (measured: 16 parts 1550 it/s, 32 parts
    # 954, 50 parts 1038 at 8 executors).
    split_defaults = {
        "spark.sql.files.maxPartitionBytes": spark.conf.get(
            "spark.sql.files.maxPartitionBytes"
        ),
        "spark.sql.files.openCostInBytes": spark.conf.get(
            "spark.sql.files.openCostInBytes"
        ),
    }
    target_split = max(1, int(media_mb * 1e6) // (2 * cpus))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(target_split))
    spark.conf.set("spark.sql.files.openCostInBytes", str(target_split // 8))
    for rep in range(repeats):
        media = spark.read.parquet(media_path)
        t0 = time.perf_counter()
        n_media = extract_media_features(media).count()
        wall = time.perf_counter() - t0
        media_wall = min(media_wall, wall)
        if rep == 0:
            media_cold = wall
        print(
            f"# media_decode[{rep}]: {n_media} rows ({media_mb} MB) in {wall:.1f}s -> "
            f"{round(n_media / wall, 1)} items/sec, {round(media_mb / wall, 1)} MB/sec",
            file=sys.stderr,
        )
    media_items_per_sec = round(n_media / media_wall, 1)
    media_items_per_sec_cold = round(n_media / media_cold, 1)
    media_mb_per_sec = round(media_mb / media_wall, 1)
    for k, v in split_defaults.items():
        spark.conf.set(k, v)

    host_probe_post = _host_probe()
    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    result = json.dumps(
        {
            "metric": "headline_suite_seconds",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "value_cold": round(sum(timings_cold.values()), 3),
            "queries_cold": timings_cold,
            "value_warm": round(sum(timings_warm.values()), 3) if timings_warm else None,
            "queries_warm": timings_warm or None,
            "sf": sf,
            "pages_per_sec": pages_per_sec,
            "pages_per_sec_cold": pages_per_sec_cold,
            "pages_rows": pages_rows,
            "cascade_pairs_per_sec": cascade_pairs_per_sec,
            "cascade_pairs_per_sec_cold": cascade_pairs_per_sec_cold,
            "cascade_pairs": cascade_pairs,
            "media_items_per_sec": media_items_per_sec,
            "media_items_per_sec_cold": media_items_per_sec_cold,
            "media_mb_per_sec": media_mb_per_sec,
            "media_rows": media_rows,
            "media_mb": media_mb,
            "cpus": cpus,
            "cpus_requested": cpus_requested,
            "jvm_thread_pathology": jvm_pathology,
            "mode": "cluster",
            "substrate": substrate,
            "repeats": repeats,
            # concurrent host-capacity readings bracketing the measured
            # window (raw processes, no Spark; 1.0 = perfect overlap)
            "host_probe_pre": host_probe_pre,
            "host_probe_post": host_probe_post,
        }
    )
    # Artifact durability (round-4 failure: BENCH_r04.json parsed:null —
    # the JSON line was pushed out of the captured output tail by
    # thousands of standalone-Master teardown WARNs). Three defenses:
    # the deploy loggers are at ERROR (_silence_deploy_loggers),
    # the result is persisted to a file the tail can never drown, and
    # Spark is stopped BEFORE the line is printed so nothing logs after.
    # The tee goes to the git-ignored data dir, so a local run leaves the
    # committed BENCH/ records untouched.
    os.makedirs(os.path.join(REPO, ".bench_data"), exist_ok=True)
    with open(os.path.join(REPO, ".bench_data", "last_run.json"), "w") as fh:
        fh.write(result + "\n")
    spark.stop()
    sys.stderr.flush()
    print(result, flush=True)


if __name__ == "__main__":
    main()
