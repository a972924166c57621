"""Structured Streaming ingestion surface.

The reference has no streaming path (SURVEY.md §2.9) and the north rule's
resumability is batch lineage (sources/catalog.py), so streaming here is
the ENGINE's ingestion extension: a crawl feed lands as micro-batches and
the same operators run over it. Three canonical shapes:

  * windowed_event_counts — watermarked tumbling-window aggregation
    (late data handled by the watermark, state bounded);
  * latest_state_stream — streaming as-of dedup: latest row per key via
    ``foreachBatch`` merge into the checkpointed catalog (exactly-once per
    batch since the merge is idempotent on (key, ts));
  * sessionize_events — the custom STATEFUL operator
    (``applyInPandasWithState`` + event-time timeout): gap-based crawl
    sessionization, stream==batch parity pytest-pinned against the
    oracled ``event_sessions`` query.

Tested with the parquet source + ``processAllAvailable`` (synchronous
drain) — the pattern is identical on kafka/file sources on a cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# state-table buckets: a merge reads back and rewrites only the buckets
# its batch touches
_N_BUCKETS = 16


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts + value sums per event_type."""
    # watermarks require TIMESTAMP (LTZ); parquet NTZ columns are cast in
    # the session timezone (pinned UTC by the session factory)
    events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window).alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def merge_upsert_latest(
    batch_df: DataFrame,
    table_path: str,
    key_col: str,
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
) -> None:
    """MERGE a micro-batch into the bucketed state table at ``table_path``
    keeping the latest row per key (the Iceberg ``MERGE INTO`` shape on
    the offline catalog layout of sources/catalog.py).

    Only the buckets TOUCHED by the batch are read back and rewritten
    (dynamic partition overwrite) — merge cost is O(batch ∪ touched
    state), never O(full table). Idempotent under foreachBatch epoch
    replay: keep-latest of (old state ∪ batch) after (key, ts) dedup is a
    fixed point, so re-running a delivered batch leaves the table
    unchanged (exactly-once effect per epoch).

    ``tiebreak_cols`` (round 5) break ``ts`` ties deterministically
    (descending, after ts) — without them a key whose max ts appears on
    two rows keeps an arbitrary winner, which is fine for a cache but
    not for an oracle-gated face (the gate passes ["event_id"], matching
    the batch query's ordering).
    """
    import os

    from pyspark.sql.window import Window

    spark = batch_df.sparkSession
    tb = [F.col(c).desc() for c in (tiebreak_cols or [])]
    bucket = F.pmod(F.xxhash64(F.col(key_col)), F.lit(_N_BUCKETS))
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col).desc(), *tb)
    latest = (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("bucket", bucket)
    )
    data_dir = os.path.join(table_path, "data")
    if os.path.isdir(data_dir):
        # driver-side collect is bounded by _N_BUCKETS (<= _N_BUCKETS rows
        # of one int each), NOT by batch or table size
        touched = [r["bucket"] for r in latest.select("bucket").distinct().collect()]
        if not touched:
            return
        existing = (
            spark.read.option("basePath", data_dir)
            .parquet(*[
                os.path.join(data_dir, f"bucket={b}")
                for b in touched
                if os.path.isdir(os.path.join(data_dir, f"bucket={b}"))
            ])
            if any(os.path.isdir(os.path.join(data_dir, f"bucket={b}")) for b in touched)
            else None
        )
        merged = latest if existing is None else existing.unionByName(latest)
    else:
        merged = latest
    merged = (
        # replay dedup key includes the tie-breakers: deduping on
        # (key, ts) alone could arbitrarily drop the tie-break winner
        merged.dropDuplicates([key_col, ts_col, *(tiebreak_cols or [])])
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    (
        merged.repartition(F.col("bucket"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(data_dir)
    )


def latest_state_stream(
    events_stream: DataFrame,
    table_path: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_cols: list[str] | None = None,
):
    """Streaming as-of dedup with a REAL sink: every micro-batch is
    MERGEd into the bucketed state table (merge_upsert_latest) instead of
    a driver-side dict. Returns (query_starter, read_state):
    ``read_state(spark)`` reads the current latest-per-key table."""

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        merge_upsert_latest(batch_df, table_path, key_col, ts_col, tiebreak_cols)

    def start(checkpoint_dir: str):
        return (
            events_stream.writeStream.outputMode("update")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(upsert)
            .start()
        )

    def read_state(spark):
        import os

        return spark.read.parquet(os.path.join(table_path, "data")).drop("bucket")

    return start, read_state


def coalesce_sessions(
    sessions: list[tuple[int, int, int]], gap_us: int
) -> list[tuple[int, int, int]]:
    """Pure core of the stateful sessionizer: merge (start, last, n)
    intervals whose gap is <= gap_us, sorted by start. Associative over
    batch splits by construction — folding events in ANY batch order
    through this yields the same final sessions as one pass over the
    complete set (hypothesis-pinned in tests/test_properties.py), which
    is exactly the stream==batch parity claim."""
    sessions = sorted(sessions)
    merged: list[tuple[int, int, int]] = []
    for s0, l0, n0 in sessions:
        if merged and s0 - merged[-1][1] <= gap_us:
            ps, pl, pn = merged[-1]
            merged[-1] = (ps, max(pl, l0), pn + n0)
        else:
            merged.append((s0, l0, n0))
    return merged


def sessionize_events(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 minutes",
) -> DataFrame:
    """Gap-based crawl sessionization — the custom STATEFUL streaming
    operator (``applyInPandasWithState``): semantics no windowed agg can
    express, since a session's extent is data-dependent (it ends only
    when the per-user event gap exceeds ``gap``).

    Exactness model (stream == batch on the admitted event set): per user
    key, state buffers ALL pending sessions as parallel (start, last, n)
    arrays. Each invocation folds the batch's events in as unit sessions,
    sorts, and coalesces adjacent sessions whose gap is <= ``gap`` — so a
    late (but watermark-admitted) event can still bridge two previously
    separate sessions, exactly as the batch twin (plans/queries.py
    q_event_sessions) would. A session is EMITTED only once it is
    provably immutable: the watermark has passed last + gap, after which
    no admissible event (t >= watermark) can merge into it. Emission is
    therefore exactly-once per final session for ANY watermark delay —
    there is no watermark<=gap restriction, because nothing is emitted
    while it could still change.

    The event-time timeout is armed at the earliest pending
    ``last + gap`` (ceil'd to ms so it can never fire early), so sessions
    flush via ``hasTimedOut`` even when the user receives no further
    events. State is O(pending sessions) per user — bounded by
    ``watermark/gap + 1`` sessions, since anything older than the
    watermark horizon emits. The only shuffle is the groupBy(user) hash
    partition; users never communicate — linear scale-out.

    Output (append mode): user_id, session_start_us, session_end_us,
    n_events (epoch-microsecond longs).

    Enforced precondition: the session timezone must be UTC (the engine
    session factory's default, session.py) — the NTZ->TIMESTAMP cast
    that feeds the watermark machinery reinterprets naive parquet
    timestamps in the session zone, so a non-UTC session would shift the
    emitted epoch micros relative to the batch twin's NTZ-safe
    arithmetic. A loud ValueError beats a silent offset.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    gap_us = int(pd.Timedelta(gap).total_seconds() * 1_000_000)
    tz = events_stream.sparkSession.conf.get("spark.sql.session.timeZone")
    if tz not in ("UTC", "Etc/UTC", "GMT"):
        raise ValueError(
            f"sessionize_events requires a UTC session timezone (got "
            f"{tz!r}): the NTZ cast feeding the watermark would shift "
            f"epoch output by the zone offset"
        )
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start_us", LongType()),
            StructField("session_end_us", LongType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("starts", ArrayType(LongType())),
            StructField("lasts", ArrayType(LongType())),
            StructField("ns", ArrayType(LongType())),
        ]
    )

    def fn(key, pdfs, state):
        user = int(key[0])
        sessions: list[tuple[int, int, int]] = []
        if state.exists:
            starts, lasts, ns = state.get
            sessions = [
                (int(a), int(b), int(c)) for a, b, c in zip(starts, lasts, ns)
            ]
        if not state.hasTimedOut:
            chunks = [pdf["_ts_us"] for pdf in pdfs]
            if chunks:
                ts = pd.concat(chunks).dropna().astype("int64").to_numpy()
                sessions.extend((int(t), int(t), 1) for t in ts)
        # coalesce (pure core, see coalesce_sessions): late admitted
        # events participate like any other unit session, so they extend
        # AND bridge exactly as batch semantics dictate
        merged = coalesce_sessions(sessions, gap_us)
        # emit only immutable sessions: watermark strictly past last+gap
        # means every future admissible event (t >= wm) fails the merge
        # predicate t - last <= gap
        wm_us = state.getCurrentWatermarkMs() * 1000
        emit = [x for x in merged if wm_us > x[1] + gap_us]
        keep = [x for x in merged if wm_us <= x[1] + gap_us]
        if keep:
            state.update(
                (
                    [x[0] for x in keep],
                    [x[1] for x in keep],
                    [x[2] for x in keep],
                )
            )
            # earliest point any pending session becomes immutable;
            # ceil to ms (+1) so the timeout can never fire early
            next_ms = min(-(-(x[1] + gap_us) // 1000) + 1 for x in keep)
            state.setTimeoutTimestamp(max(next_ms, state.getCurrentWatermarkMs() + 1))
        else:
            state.remove()
        if emit:
            yield pd.DataFrame(
                {
                    "user_id": pd.array([user] * len(emit), dtype="int64"),
                    "session_start_us": pd.array([x[0] for x in emit], dtype="int64"),
                    "session_end_us": pd.array([x[1] for x in emit], dtype="int64"),
                    "n_events": pd.array([x[2] for x in emit], dtype="int64"),
                }
            )

    ev = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    ev = ev.withWatermark("ts", watermark).withColumn("_ts_us", F.unix_micros(F.col("ts")))
    return ev.groupBy(F.col("user_id")).applyInPandasWithState(
        fn,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
