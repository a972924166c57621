"""Streaming ingestion + multimodal plumbing tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def synth_media_df(spark, n: int = 100, seed: int = 7):
    """Deterministic synthetic media table for plumbing tests: seeded
    noise payloads that no codec decodes, so every row takes the
    byte-histogram fallback."""
    from web_template_forensics_spark.operators.multimodal import MEDIA_SCHEMA

    rng = np.random.RandomState(seed)
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        payload = rng.bytes(200 + (i % 50) * 10)
        meta = {
            "width": 16 + i % 16 if kind == "image" else None,
            "height": 16 + (i + 1) % 16 if kind == "image" else None,
            "sample_rate": 16000 if kind == "audio" else None,
            "duration_ms": 1000 * (i % 30) if kind != "image" else None,
            "codec": {"image": "fakepng", "audio": "fakepcm", "video": "fakeh264"}[kind],
        }
        rows.append((i, kind, payload, meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _events_stream(spark, tmp_path):
    import shutil

    src = "/root/testdata/sf0.001/events.parquet"
    indir = tmp_path / "in"
    indir.mkdir(exist_ok=True)
    shutil.copy(src, indir / "events.parquet")
    schema = spark.read.parquet(src).schema
    return spark.readStream.schema(schema).parquet(str(indir))


def test_windowed_event_counts_stream(spark, tmp_path):
    from web_template_forensics_spark.streaming.ingest import windowed_event_counts

    stream = _events_stream(spark, tmp_path)
    agg = windowed_event_counts(stream, window="10 minutes", watermark="30 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT * FROM win_counts").toPandas()
    assert len(out) > 0
    # total events across windows == table count
    assert out.n.sum() == 1000
    batch = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .count()
        .count()
    )
    assert len(out) == batch


def test_latest_state_stream_merge_sink(spark, tmp_path):
    """Streaming as-of dedup MERGEs into the bucketed state table (no
    driver-side state), survives a stop/restart on the same checkpoint,
    and the merge is idempotent under batch replay."""
    from web_template_forensics_spark.streaming.ingest import (
        latest_state_stream,
        merge_upsert_latest,
    )

    stream = _events_stream(spark, tmp_path)
    table = str(tmp_path / "state_table")
    start, read_state = latest_state_stream(stream, table)
    q = start(str(tmp_path / "ck2"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    exp = {r.user_id: r.ts for r in src.groupBy("user_id").agg(F.max("ts").alias("ts")).collect()}
    got = {r.user_id: r.ts for r in read_state(spark).collect()}
    assert got == exp

    # kill/resume: drop NEW data into the source, restart on the SAME
    # checkpoint — only the new file is processed, the merge folds it in
    newer = src.limit(50).withColumn("ts", F.col("ts") + F.expr("INTERVAL 365 DAYS"))
    newer.write.mode("append").parquet(str(tmp_path / "in"))
    q2 = start(str(tmp_path / "ck2"))
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    bumped = {r.user_id: r.ts for r in newer.groupBy("user_id").agg(F.max("ts").alias("ts")).collect()}
    exp2 = dict(exp)
    for uid, ts in bumped.items():
        exp2[uid] = max(exp2[uid], ts)
    got2 = {r.user_id: r.ts for r in read_state(spark).collect()}
    assert got2 == exp2

    # replay idempotence: re-merging an already-delivered batch is a no-op
    merge_upsert_latest(newer, table, "user_id", "ts")
    got3 = {r.user_id: r.ts for r in read_state(spark).collect()}
    assert got3 == exp2


def test_multimodal_feature_extraction(spark):
    from web_template_forensics_spark.operators.multimodal import (
        extract_media_features,
    )

    media = synth_media_df(spark, n=60)
    feats = extract_media_features(media).toPandas()
    assert len(feats) == 60
    assert set(feats.kind) == {"image", "audio", "video"}
    # features are unit-ish histograms of fixed arity
    assert all(len(f) == 8 for f in feats.feat)
    assert all(abs(sum(f) - 1.0) < 1e-5 for f in feats.feat)
    img = feats[feats.kind == "image"]
    assert all(len(t) == 3 for t in img.thumb_mean)
    # deterministic: second run bit-identical
    feats2 = extract_media_features(media).toPandas()
    a = feats.sort_values("media_id").reset_index(drop=True)
    b = feats2.sort_values("media_id").reset_index(drop=True)
    assert all(np.array_equal(x, y) for x, y in zip(a.feat, b.feat))


def test_build_media_df_real_corpus(spark):
    """The bench's real-media corpus builder: deterministic across
    partitionings, every payload decodes for REAL (feature extraction
    produces zero byte-histogram fallbacks:
    every image row's thumb_mean must equal the per-channel pixel mean
    of a driver-side decode of the same payload, which a fallback row
    cannot)."""
    from web_template_forensics_spark.operators.multimodal import (
        decode_image,
        extract_media_features,
    )
    from web_template_forensics_spark.sources.media import build_media_df

    df = build_media_df(spark, 36, seed=11, partitions=3)
    rows = {r["media_id"]: r for r in df.collect()}
    assert len(rows) == 36
    # partitioning-independence: same ids -> same bytes at another layout
    for r in build_media_df(spark, 36, seed=11, partitions=5).collect():
        assert bytes(r["payload"]) == bytes(rows[r["media_id"]]["payload"])
    # image metas match a real driver-side decode
    for r in rows.values():
        if r["kind"] == "image":
            img = decode_image(bytes(r["payload"]))
            assert img.shape == (r["meta"]["height"], r["meta"]["width"], 3)
    feats = extract_media_features(df).collect()
    assert len(feats) == 36
    by_id = {f["media_id"]: f for f in feats}
    from web_template_forensics_spark.functions.flac_codec import decode_flac, is_flac
    from web_template_forensics_spark.functions.wav_codec import decode_wav
    from web_template_forensics_spark.operators.multimodal import audio_features

    for r in rows.values():
        if r["kind"] == "image":
            img = decode_image(bytes(r["payload"]))
            want = img.reshape(-1, 3).mean(axis=0) / 255.0
            got = np.array(by_id[r["media_id"]]["thumb_mean"], dtype=np.float64)
            assert np.allclose(got, want, atol=1e-5)  # float32 narrowing only
        elif r["kind"] == "audio":
            payload = bytes(r["payload"])
            samples, _ = decode_flac(payload) if is_flac(payload) else decode_wav(payload)
            want, _thumb = audio_features(samples)
            got = np.array(by_id[r["media_id"]]["feat"], dtype=np.float64)
            assert np.allclose(got, want, atol=1e-5)  # real decode, no fallback


def test_decode_stub_raises_without_fake():
    from web_template_forensics_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"abc")


def test_frame_sampling():
    from web_template_forensics_spark.operators.multimodal import frame_sample_indices

    idx = frame_sample_indices(5500, every_ms=1000)
    assert idx.tolist() == [0, 1000, 2000, 3000, 4000, 5000]
    assert frame_sample_indices(0).size == 0


def test_thumbnails_and_frame_sampling(spark):
    from web_template_forensics_spark.operators.multimodal import (
        frame_sample_indices,
        image_thumbnails,
        resize_image,
        sample_video_frames,
    )

    media = synth_media_df(spark, n=60)
    thumbs = image_thumbnails(media, out_h=8, out_w=8).toPandas()
    n_images = media.filter("kind = 'image'").count()
    assert len(thumbs) == n_images
    assert all(len(t) == 8 * 8 * 3 for t in thumbs.thumb)  # fixed-size binary

    frames = sample_video_frames(media, every_ms=1000).toPandas()
    vids = media.filter("kind = 'video'").select("media_id", "meta.duration_ms").toPandas()
    exp = int(sum(len(frame_sample_indices(int(d), 1000)) for d in vids.duration_ms))
    assert len(frames) == exp
    assert (frames.position_ms % 1000 == 0).all()
    assert all(abs(sum(f) - 1.0) < 1e-5 for f in frames.feat)  # unit histograms

    # resize is deterministic pure index math
    img = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    r = resize_image(img, 2, 3)
    assert r.shape == (2, 3, 3)
    assert (resize_image(img, 2, 3) == r).all()


def test_sessionize_events_stateful_stream(spark, tmp_path):
    """applyInPandasWithState sessionization: gap-splits inside a batch,
    cross-batch session continuation in state, and event-time-timeout
    flush once the watermark passes last_event + gap."""
    from pyspark.sql import Row
    from web_template_forensics_spark.streaming.ingest import sessionize_events

    indir = tmp_path / "in"
    indir.mkdir()
    schema = "event_id long, ts timestamp, user_id long"

    def _write(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        import shutil, glob

        (part,) = glob.glob(str(tmp_path / name / "part-*.parquet"))
        shutil.copy(part, indir / f"{name}.parquet")

    import datetime as dt

    T0 = dt.datetime(2026, 1, 1, 10, 0, 0)

    def ev(eid, user, secs):
        return Row(
            event_id=eid, ts=T0 + dt.timedelta(seconds=secs), user_id=user
        )

    # batch 1: user 1 has two gap-separated sessions IN ONE batch
    # (0s,10s,20s then 20min later 1200s,1210s); user 2 one event.
    _write(
        "b1",
        [
            ev(1, 1, 0), ev(2, 1, 10), ev(3, 1, 20),
            ev(4, 1, 1200), ev(5, 1, 1210),
            ev(6, 2, 5),
        ],
    )
    stream = spark.readStream.schema(
        spark.read.parquet(str(tmp_path / "b1")).schema
    ).parquet(str(indir))
    sessions = sessionize_events(
        stream, gap="5 minutes", watermark="1 seconds"
    )
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        out1 = spark.sql("SELECT * FROM sessions").toPandas()
        # user 1's FIRST session closes via the in-batch gap; batch 1
        # advances the watermark to ~1209s and the follow-up no-data
        # micro-batch immediately times out user 2 (5s + 5min < wm).
        # user 1's open session (last=1210s, timeout 1510s) survives.
        assert len(out1) == 2, out1
        got1 = set(zip(out1.user_id, out1.n_events))
        assert got1 == {(1, 3), (2, 1)}, out1
        r = out1[out1.user_id == 1].iloc[0]
        assert r.session_end_us - r.session_start_us == 20_000_000

        # batch 2: user 3 event 1h later advances the watermark past
        # user 1's open session's last+gap -> timeout flush
        _write("b2", [ev(7, 3, 3600)])
        q.processAllAvailable()
        out2 = (
            spark.sql("SELECT * FROM sessions")
            .toPandas()
            .sort_values(["user_id", "session_start_us"])
            .reset_index(drop=True)
        )
        flushed = set(zip(out2.user_id, out2.n_events))
        assert (1, 3) in flushed and (1, 2) in flushed and (2, 1) in flushed
        assert len(out2) == 3  # user 3's session still open
    finally:
        q.stop()


def test_sessionize_stream_batch_parity(spark, tmp_path):
    """Streaming sessionize_events == batch q_event_sessions on the same
    (complete) events table: a far-future sentinel event advances the
    watermark so every real session timeout-flushes, then the two results
    must agree row-for-row."""
    import shutil

    from web_template_forensics_spark.plans.queries import q_event_sessions
    from web_template_forensics_spark.streaming.ingest import sessionize_events

    src = "/root/testdata/sf0.001/events.parquet"
    indir = tmp_path / "in"
    indir.mkdir()
    shutil.copy(src, indir / "b1.parquet")
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(str(indir))
    sessions = sessionize_events(stream, gap="30 minutes", watermark="1 seconds")
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_parity")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # sentinel: one user -1 event far in the future flushes the rest
        batch = spark.read.parquet(src)
        sent = batch.limit(1).select(
            F.lit(-1).alias("event_id"),
            (F.col("ts") + F.expr("INTERVAL 365 DAYS")).alias("ts"),
            F.lit(-1).alias("user_id"),
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        sent.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b2"))
        import glob

        (part,) = glob.glob(str(tmp_path / "b2" / "part-*.parquet"))
        shutil.copy(part, indir / "b2.parquet")
        q.processAllAvailable()
        got = (
            spark.sql("SELECT * FROM sess_parity WHERE user_id >= 0")
            .toPandas()
            .sort_values(["user_id", "session_start_us"])
            .reset_index(drop=True)
        )
    finally:
        q.stop()
    want = (
        q_event_sessions(spark, "/root/testdata/sf0.001")
        .toPandas()
        .sort_values(["user_id", "session_start_us"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want), (len(got), len(want))
    for c in ["user_id", "session_start_us", "session_end_us", "n_events"]:
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), c


def test_sessionize_kill_resume(spark, tmp_path):
    """The applyInPandasWithState state store survives a query restart on
    the same checkpoint: an open session from before the kill is resumed
    (not restarted) and extends with post-restart events."""
    import datetime as dt
    import glob
    import shutil

    from pyspark.sql import Row
    from web_template_forensics_spark.streaming.ingest import sessionize_events

    indir = tmp_path / "in"
    indir.mkdir()
    schema = "event_id long, ts timestamp, user_id long"
    T0 = dt.datetime(2026, 1, 1, 10, 0, 0)

    def _write(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        (part,) = glob.glob(str(tmp_path / name / "part-*.parquet"))
        shutil.copy(part, indir / f"{name}.parquet")

    def ev(eid, user, secs):
        return Row(event_id=eid, ts=T0 + dt.timedelta(seconds=secs), user_id=user)

    outdir = str(tmp_path / "sessions_out")

    def _start(qname):
        # parquet file sink: unlike the memory sink it SUPPORTS
        # checkpoint recovery, which is the point of this test
        stream = spark.readStream.schema(
            spark.read.parquet(str(tmp_path / "b1")).schema
        ).parquet(str(indir))
        return (
            sessionize_events(stream, gap="5 minutes", watermark="1 seconds")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )

    _write("b1", [ev(1, 1, 0), ev(2, 1, 10)])
    q = _start("sess_kr1")
    try:
        q.processAllAvailable()
    finally:
        q.stop()  # kill with user 1's session OPEN in the state store

    # events 60s later are within the gap -> must EXTEND the pre-kill
    # session; the sentinel then flushes it
    _write("b2", [ev(3, 1, 70), ev(4, 9, 4000)])
    q2 = _start("sess_kr2")
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    out = (
        spark.read.parquet(outdir).filter("user_id = 1").toPandas()
    )
    assert len(out) == 1, out
    r = out.iloc[0]
    # one continuous session spanning the restart: 0s..70s, 3 events
    assert r.n_events == 3
    assert r.session_end_us - r.session_start_us == 70_000_000


def test_sessionize_guards(spark, tmp_path):
    """Non-UTC session timezone is rejected loudly (the NTZ cast would
    silently shift epoch output by the zone offset)."""
    from web_template_forensics_spark.streaming.ingest import sessionize_events

    stream = _events_stream(spark, tmp_path)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(ValueError, match="UTC"):
            sessionize_events(stream, gap="5 minutes")
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    # watermark > gap is LEGAL under the immutability-buffered emission
    # model (nothing emits while it could still change)
    sessionize_events(stream, gap="5 minutes", watermark="2 hours")


def test_sessionize_late_bridge_parity(spark, tmp_path):
    """A late admitted event that BRIDGES two previously separate pending
    sessions produces ONE session, matching batch semantics (the reviewer
    counterexample: gap=300s, events 0s & 301s, then late 299.5s)."""
    import datetime as dt
    import glob
    import shutil

    from pyspark.sql import Row
    from web_template_forensics_spark.streaming.ingest import sessionize_events

    indir = tmp_path / "in"
    indir.mkdir()
    schema = "event_id long, ts timestamp, user_id long"
    T0 = dt.datetime(2026, 1, 1, 10, 0, 0)

    def _write(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        (part,) = glob.glob(str(tmp_path / name / "part-*.parquet"))
        shutil.copy(part, indir / f"{name}.parquet")

    def ev(eid, u, ms):
        return Row(
            event_id=eid, ts=T0 + dt.timedelta(milliseconds=ms), user_id=u
        )

    _write("b1", [ev(1, 1, 0), ev(2, 1, 301_000)])
    stream = spark.readStream.schema(
        spark.read.parquet(str(tmp_path / "b1")).schema
    ).parquet(str(indir))
    q = (
        sessionize_events(stream, gap="300 seconds", watermark="2 seconds")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("bridge")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # wm = 299s: neither pending session (0+300=300s, 301+300=601s)
        # is immutable yet -> nothing emitted, nothing split
        assert spark.sql("SELECT * FROM bridge").count() == 0
        _write("b2", [ev(3, 1, 299_500), ev(4, 9, 3_600_000)])
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM bridge WHERE user_id = 1").toPandas()
    finally:
        q.stop()
    # batch semantics on the complete set {0, 299.5, 301}: one session
    assert len(out) == 1, out
    r = out.iloc[0]
    assert (r.n_events, r.session_start_us, r.session_end_us) == (
        3,
        1767261600000000,
        1767261600000000 + 301_000_000,
    )


def test_position_keyed_frames_bounded_and_equal_to_keep_all():
    """The position-driven sampler materializes at most len(positions)
    canvases (keep-set decode), and each returned frame is byte-equal to
    the keep-all decode at the same mapped index."""
    from web_template_forensics_spark.functions.gif_codec import (
        decode_gif_frames,
        encode_gif_animation,
    )
    from web_template_forensics_spark.functions.webp_codec import (
        decode_webp_frames,
        encode_webp_animation,
    )
    from web_template_forensics_spark.operators.multimodal import (
        _position_keyed_frames,
    )

    rng = np.random.RandomState(7)
    pal = rng.randint(0, 256, (8, 3), dtype=np.uint8)
    gframes = [pal[rng.randint(0, 8, (6, 9))] for _ in range(12)]
    wframes = [rng.randint(0, 256, (6, 9, 3), dtype=np.uint8) for _ in range(12)]
    positions = [0, 1000, 2000]  # duration 3000 -> 3 of 12 frames needed
    for payload, dec in (
        (encode_gif_animation(gframes), decode_gif_frames),
        (encode_webp_animation(wframes), decode_webp_frames),
    ):
        got = _position_keyed_frames(payload, positions, 3000)
        assert set(got) == set(positions)
        full = [f[:, :, :3] for f in dec(payload)]  # keep-all reference
        for pos, img in got.items():
            ref = full[min(pos * len(full) // 3000, len(full) - 1)]
            np.testing.assert_array_equal(img, ref)
        # distinct positions sharing one frame still hold ONE canvas set
        shared = _position_keyed_frames(payload, [0, 10, 20], 3000)
        assert len({id(v) for v in shared.values()}) <= 1 or len(shared) <= 3


def test_sample_video_frames_flood_gif_decodes_bounded(spark):
    """A 2000x2000-canvas 60-tiny-frame GIF (the r5 ADVICE attack) OOMs
    under keep-all decode (the cumulative kept-canvas guard now raises
    on it) but samples FOR REAL through sample_video_frames: only the
    3 position-mapped canvases materialize, features are the real black
    canvas histogram, not the byte-histogram stub."""
    import pytest as _pytest
    from web_template_forensics_spark.functions.gif_codec import (
        GifFormatError,
        decode_gif_frames,
    )
    from web_template_forensics_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        sample_video_frames,
    )
    from tests.test_gif_codec import _tiny_frame_flood_gif

    payload = _tiny_frame_flood_gif(60)
    with _pytest.raises(GifFormatError):
        decode_gif_frames(payload)  # keep-all path is guarded shut
    meta = {"width": 2000, "height": 2000, "sample_rate": None,
            "duration_ms": 3000, "codec": "gif"}
    media = spark.createDataFrame(
        [(0, "video", bytearray(payload), meta)], MEDIA_SCHEMA
    )
    out = sample_video_frames(media, every_ms=1000).collect()
    assert len(out) == 3
    for r in out:
        # real decode: canvas is (nearly) all palette-0 black -> bin 0 ~ 1.0
        assert r["feat"][0] > 0.999


def test_sample_video_frames_seeks_gif_and_webp(spark):
    """Animated GIF/WebP rows seek FOR REAL: each sampled position's
    features equal the driver-side decode of that frame (a stub/fallback
    row cannot)."""
    from web_template_forensics_spark.functions.gif_codec import encode_gif_animation
    from web_template_forensics_spark.functions.webp_codec import (
        encode_webp_animation,
    )
    from web_template_forensics_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        sample_video_frames,
    )

    rng = np.random.RandomState(41)
    pal = rng.randint(0, 256, (16, 3), dtype=np.uint8)
    gframes = [pal[rng.randint(0, 16, (10, 12))] for _ in range(4)]
    wframes = [rng.randint(0, 256, (10, 12, 3), dtype=np.uint8) for _ in range(4)]
    meta = {"width": 12, "height": 10, "sample_rate": None, "duration_ms": 4000, "codec": None}
    media = spark.createDataFrame(
        [
            (0, "video", bytearray(encode_gif_animation(gframes)), {**meta, "codec": "gif"}),
            (1, "video", bytearray(encode_webp_animation(wframes)), {**meta, "codec": "webp"}),
        ],
        MEDIA_SCHEMA,
    )
    out = sample_video_frames(media, every_ms=1000).collect()
    assert len(out) == 8

    def feat(img):
        h = np.histogram(img, bins=8, range=(0, 255))[0].astype(np.float64)
        return (h / max(1.0, h.sum())).astype(np.float32)

    for r in out:
        src = gframes if r["media_id"] == 0 else wframes
        fidx = min(r["position_ms"] * len(src) // 4000, len(src) - 1)
        assert np.allclose(np.array(r["feat"]), feat(src[fidx]), atol=1e-6)
