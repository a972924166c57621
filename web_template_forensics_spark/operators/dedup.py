"""Deduplication operators for the corpus pipeline.

Exact (hash groupBy), latest-crawl (as-of window, J10 in SURVEY.md §2.3),
MinHash+LSH banded near-dup, SimHash hamming near-dup, n-gram Jaccard
verification. Candidate generation is always an equi-join on bucket keys
(band hash / simhash band / md5) — never a cross join — so the shuffle
volume is O(candidate pairs), the property that survives 100x scale-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql.window import Window

from ..functions.text_udfs import (
    ASCII_WS_REGEX,
    N_MINHASH,
    simhash64_udf,
)

# LSH bands over the N_MINHASH-slot signature (a divisor of it), read by
# minhash_lsh_pairs and its DuckDB replica
MINHASH_BANDS = 16
# perceptual near-dup radii, one home for the operators' defaults, the
# declared queries and the DuckDB oracle builders
IMAGE_HAMMING = 6
AUDIO_HAMMING = 8
VIDEO_HAMMING = 6


def latest_crawl_dedup(pages: DataFrame, key: str = "url", ts: str = "warc_ts") -> DataFrame:
    """Keep the latest crawl per url (deterministic: ts desc, then all
    remaining columns are identical by construction of the key)."""
    w = Window.partitionBy(key).orderBy(F.col(ts).desc())
    return pages.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact-content dedup -> (content_hash, canonical_id, dup_count)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col).alias("_id"))
        .groupBy("content_hash")
        .agg(F.min("_id").alias("canonical_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def _band_cols(sig_col: str, bands: int, rows_per_band: int) -> list:
    """Band key = xxhash of the band's slice of the minhash signature."""
    out = []
    for b in range(bands):
        sl = F.slice(F.col(sig_col), b * rows_per_band + 1, rows_per_band)
        out.append(F.xxhash64(F.lit(b), F.concat_ws(",", F.transform(sl, lambda x: x.cast("string")))))
    return out


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs -> (id_a, id_b, jaccard).

    shingle -> minhash (64 perms) -> band -> bucket equi-join -> exact
    shingle-set Jaccard verification >= threshold. id_a < id_b.

    Shuffle shape (the property that survives 100x): the banded explode
    and its self-join carry ONLY (id, band_key) — never the document text
    (r1 shipped text through all 16 bands: ~32x corpus text volume).
    Verification joins the candidate ids back to per-document distinct
    shingle-hash arrays (computed once per doc, ~8 bytes/shingle) and
    computes exact Jaccard JVM-side with array_intersect — no per-pair
    Python, no re-shingling.
    """
    rows_per_band = N_MINHASH // MINHASH_BANDS
    # zero-shingle (empty / whitespace-only) docs are excluded up front:
    # their Jaccard is 0/0 — not "1.0" — and their constant sentinel
    # signatures would otherwise bucket every empty doc with every other
    # empty doc. JVM-side predicate, same ASCII-\S semantics as the
    # shingle tokenizer (Java \s is ASCII-only, matching ASCII_TOKEN_RE).
    df = df.filter(F.regexp_count(F.col(text_col), F.lit(r"\S")) > 0)
    # ONE tokenize+md5+signature pass materialized behind ONE exchange
    # (round 7): signature and shingle arrays come from a single combined
    # UDF, and the repartition("_id") puts an Exchange ABOVE the Python
    # stage that every consumer (band-join probe AND build, both
    # verification sides) reuses — the r6 shape computed the UDFs below
    # the join/broadcast boundaries, so the text was scanned and shingled
    # once per consumer (4x with broadcast build sides). At 100 TB this
    # is the §2.4 move: the corpus text is read once; only the ~1 KB/doc
    # signature rows pass through the shared exchange.
    from ..functions.text_udfs import minhash_and_shingles_udf

    base = (
        df.select(
            F.col(id_col).alias("_id"),
            minhash_and_shingles_udf(F.col(text_col)).alias("_mh"),
        )
        .select("_id", F.col("_mh.sig").alias("_sig"), F.col("_mh.sh").alias("_sh"))
        # explicit count: AQE would coalesce a bare repartition("_id") of
        # this small exchange to 1 partition and serialize the band join
        .repartition(df.sparkSession.sparkContext.defaultParallelism, "_id")
    )
    banded = base.select(
        "_id",
        F.explode(F.array(*_band_cols("_sig", MINHASH_BANDS, rows_per_band))).alias("band_key"),
    )
    ba, bb = banded.alias("_ba"), banded.alias("_bb")
    cand = (
        ba.join(
            bb,
            (F.col("_ba.band_key") == F.col("_bb.band_key"))
            & (F.col("_ba._id") < F.col("_bb._id")),
        )
        .select(F.col("_ba._id").alias("id_a"), F.col("_bb._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sh = base.select("_id", "_sh")
    sa, sb = sh.alias("_sa"), sh.alias("_sb")
    paired = (
        cand.join(sa, F.col("id_a") == F.col("_sa._id"))
        .join(sb, F.col("id_b") == F.col("_sb._id"))
        .select(
            "id_a",
            "id_b",
            F.col("_sa._sh").alias("sh_a"),
            F.col("_sb._sh").alias("sh_b"),
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    # union > 0 is guaranteed by the zero-shingle filter above
    jaccard = inter.cast("double") / union.cast("double")
    return (
        paired.withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_bands: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs -> (id_a, id_b, hamming).

    Banding is parametric and pigeonhole-SOUND for the requested radius:
    with ``n_bands >= max_hamming + 1`` bands (default: exactly that), a
    pair within hamming distance ``max_hamming`` cannot differ in every
    band, so it must agree on at least one band key — recall is exact.
    Band b covers bits [64*b//n_bands, 64*(b+1)//n_bands). Verification is
    JVM-side bit_count(a XOR b).

    Scale note: narrow bands (large max_hamming) collide heavily — at
    radius 12 each ~5-bit band has only ~32 values, so candidates grow
    toward quadratic. Keep max_hamming <= 3 for web-scale corpora (the
    standard 64-bit simhash operating point, Manku et al. WWW'07);
    larger radii are supported but priced accordingly.
    """
    sh = df.select(F.col(id_col).alias("_id"), simhash64_udf(F.col(text_col)).alias("_sh"))
    return hamming_band_pairs(sh, max_hamming, n_bands)


def band_struct_cols(max_hamming: int, n_bands: int | None = None) -> list:
    """The pigeonhole band decomposition of the signed-64-bit ``_sh``
    column as struct(band_no, band_val) Columns — shared by the batch
    banded self-join below and the streaming band-bucket dedup
    (streaming/near_dup.py). Validates the recall precondition."""
    if n_bands is None:
        n_bands = max_hamming + 1
    if n_bands < max_hamming + 1:
        raise ValueError(
            f"n_bands={n_bands} cannot guarantee recall at hamming "
            f"{max_hamming}: a pair may differ in every band "
            f"(need n_bands >= max_hamming + 1)"
        )
    band_structs = []
    for b in range(n_bands):
        lo = 64 * b // n_bands
        width = 64 * (b + 1) // n_bands - lo
        shifted = F.shiftrightunsigned(F.col("_sh"), lo)
        # a full-word band (max_hamming=0 -> one 64-bit band) needs no
        # mask — and (1<<64)-1 would overflow the JVM long in F.lit
        band_val = (
            shifted if width >= 64
            else shifted.bitwiseAND(F.lit((1 << width) - 1))
        )
        band_structs.append(
            F.struct(F.lit(b).alias("band_no"), band_val.alias("band_val"))
        )
    return band_structs


def hamming_band_pairs(
    hashed: DataFrame, max_hamming: int, n_bands: int | None = None
) -> DataFrame:
    """(_id long, _sh long) -> (id_a, id_b, hamming) for every pair
    within ``max_hamming`` of the 64-bit hash — the banding machinery
    shared by SimHash (text) and pHash (image) near-dup.

    Pigeonhole-sound: with ``n_bands >= max_hamming + 1`` a pair within
    the radius must agree on at least one band key, so the band
    equi-join has exact recall. Verification is JVM-side
    bit_count(a XOR b). Shuffle carries (id, hash, band) only."""
    band_structs = band_struct_cols(max_hamming, n_bands)
    # repartition("_id") materializes the upstream hash computation
    # (cheap for simhash, a FULL IMAGE DECODE for pHash) behind one
    # 16-byte/row Exchange that both join sides reuse. The r1-r6 shape
    # relied on the two aliased sides producing byte-identical shuffle
    # Exchanges — which holds for a sort-merge/shuffled-hash band join,
    # but when the planner picks a BROADCAST band join the build side is
    # a BroadcastExchange over the raw subtree and the decode re-ran per
    # side (measured: the bench-scale pHash plans decoded every image
    # twice). The explicit tiny exchange makes single-execution
    # unconditional at every scale and join strategy.
    # explicit partition count (REPARTITION_BY_NUM): a bare
    # repartition("_id") lets AQE coalesce this ~24-byte/row exchange to
    # ONE partition, which then serializes the expensive candidate
    # fan-out of the band join downstream (measured 4x slower)
    n_parts = hashed.sparkSession.sparkContext.defaultParallelism
    banded = hashed.repartition(n_parts, "_id").select(
        "_id", "_sh", F.explode(F.array(*band_structs)).alias("band")
    ).select("_id", "_sh", "band.band_no", "band.band_val")
    a, b = banded.alias("_a"), banded.alias("_b")
    cand = (
        a.join(
            b,
            (F.col("_a.band_no") == F.col("_b.band_no"))
            & (F.col("_a.band_val") == F.col("_b.band_val"))
            & (F.col("_a._id") < F.col("_b._id")),
        )
        .select(
            F.col("_a._id").alias("id_a"),
            F.col("_a._sh").alias("sh_a"),
            F.col("_b._id").alias("id_b"),
            F.col("_b._sh").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _media_hash_pairs(media: DataFrame, payload_hash64, max_hamming: int) -> DataFrame:
    """(media_id, payload) -> (id_a, id_b, hamming): the loop shared by
    the image, audio and video near-dup operators.

    Stage 1 hashes each payload ON EXECUTORS (Arrow-batched
    ``mapInPandas`` — the expensive, embarrassingly-parallel part) and
    emits only (id, 64-bit hash): payload bytes never shuffle, the
    pairing stage moves 16 bytes/row no matter how large the media are.
    A null payload hashes as empty bytes. A row whose hash raises
    ValueError or NotImplementedError (corrupt, unknown or unsupported
    payload) is DROPPED from pairing — it has no perceptual identity to
    match on (callers wanting an audit trail join the output back
    against the input ids). Stage 2 is the shared pigeonhole banding
    (exact recall at the radius)."""
    import pandas as pd

    from ..functions.image_hash import phash_to_signed

    def op(batches):
        for pdf in batches:
            ids: list[int] = []
            hs: list[int] = []
            for media_id, payload in pdf.itertuples(index=False):
                try:
                    h = payload_hash64(bytes(payload) if payload is not None else b"")
                except (ValueError, NotImplementedError):
                    continue
                ids.append(int(media_id))
                hs.append(phash_to_signed(h))
            yield pd.DataFrame(
                {"_id": pd.array(ids, dtype="int64"), "_sh": pd.array(hs, dtype="int64")}
            )

    hashed = media.select("media_id", "payload").mapInPandas(op, "_id long, _sh long")
    return hamming_band_pairs(hashed, max_hamming)


def image_phash_pairs(media: DataFrame, max_hamming: int = IMAGE_HAMMING) -> DataFrame:
    """Perceptual near-duplicate image pairs -> (id_a, id_b, hamming):
    decode + 64-bit pHash per payload, then the shared banding
    (``_media_hash_pairs``). Default radius 6 is comfortably inside the
    measured operating point: same image re-encoded across JPEG quality
    70-92/progressive/PNG lands at hamming <= 2 on this package's own
    codecs, while distinct textures sit >= 20."""
    from ..functions.image_hash import phash64
    from .multimodal import decode_image

    return _media_hash_pairs(media, lambda p: phash64(decode_image(p)), max_hamming)


def audio_fingerprint_pairs(media: DataFrame, max_hamming: int = AUDIO_HAMMING) -> DataFrame:
    """Perceptual near-duplicate audio pairs -> (id_a, id_b, hamming).

    The audio sibling of ``image_phash_pairs``: decode RIFF/WAVE or FLAC
    and take the 64-bit gain-invariant time-frequency fingerprint
    (functions/audio_hash.py); non-WAV/FLAC rows drop. Default radius 8
    sits inside the measured gap: the same clip across gain 0.6-1.2 /
    dither / PCM-depth + float re-encodes lands at hamming <= 6 while
    distinct clips sit >= 17 (functions/audio_hash.py docstring)."""
    from ..functions.audio_hash import audio_payload_hash64

    return _media_hash_pairs(media, audio_payload_hash64, max_hamming)


def video_phash_pairs(media: DataFrame, max_hamming: int = VIDEO_HAMMING) -> DataFrame:
    """Perceptual near-duplicate VIDEO pairs -> (id_a, id_b, hamming).

    Completes the multimodal x dedup triad (image ``image_phash_pairs``,
    audio ``audio_fingerprint_pairs``): real decode of <= MAX_FRAMES
    evenly-sampled frames — structural MJPEG framing + JPEG decode, or
    animated-GIF/WebP compositing, dispatched per row on magic bytes —
    per-frame pHash, per-bit majority vote into one 64-bit fingerprint
    (functions/video_hash.py), then the shared banding: the SAME clip in
    different containers (MJPEG vs animated GIF) pairs up. Rows with no
    decodable frame drop. Default radius 6 sits inside the measured
    gap: the same clip across MJPEG quality 78-85 / progressive
    re-encode / trim / reversal / GIF re-containering lands at hamming
    <= 4 while distinct clips sit >= 18."""
    from ..functions.video_hash import video_payload_hash64

    return _media_hash_pairs(media, video_payload_hash64, max_hamming)


def av_fingerprint_pairs(media: DataFrame) -> DataFrame:
    """CROSS-MODAL near-duplicate pairs over a mixed media bucket ->
    (family, id_a, id_b, hamming), family in {audio, video}.

    The multiplexed-container completion of the perceptual triad (r5
    verdict ask #5): a RIFF/AVI or ISO-BMFF (MP4) payload DEMUXES on
    the executor — its MJPG/'jpeg' stream fingerprints through the
    majority-vote video hash, its PCM track through the gain-invariant
    audio fingerprint — so an A/V file pairs with a standalone
    WAV/FLAC clip of its soundtrack, with a standalone MJPEG/GIF/WebP
    of its footage, AND with the same clip re-containered AVI<->MP4.
    An MP4 whose video codec we can't decode (avc1/...) still
    fingerprints its decodable sibling tracks (demux_mp4
    skip_unsupported). Standalone rows dispatch on magic bytes as in
    audio_fingerprint_pairs / video_phash_pairs; corrupt rows drop (no
    perceptual identity).

    100 TB shape: payload bytes never shuffle (each row emits <= 2
    (id, family, 64-bit hash) tuples), and BOTH families band through
    ONE self-join keyed by (family, band_no, band_val) with
    n_bands = max(radii) + 1 — pigeonhole-sound for the smaller radius
    too, and the single aliased plan means the demux/decode/hash stage
    executes once (ReusedExchange), not once per family. Two
    ``_media_hash_pairs`` calls would decode every payload twice."""
    import pandas as pd

    from ..functions.audio_hash import audio_hash64, audio_payload_hash64
    from ..functions.avi_codec import demux_avi, is_avi
    from ..functions.flac_codec import is_flac
    from ..functions.image_hash import phash_to_signed
    from ..functions.mp4_codec import demux_mp4, is_mp4
    from ..functions.video_hash import video_payload_hash64
    from ..functions.wav_codec import is_wav

    def op(batches):
        for pdf in batches:
            ids: list[int] = []
            fams: list[str] = []
            hs: list[int] = []
            for media_id, payload in pdf.itertuples(index=False):
                payload = bytes(payload) if payload is not None else b""
                emitted: list[tuple[str, int]] = []
                try:
                    if is_avi(payload):
                        vf, samples, _rate = demux_avi(payload)
                        if vf:
                            emitted.append(
                                ("video", video_payload_hash64(b"".join(vf)))
                            )
                        if samples.shape[0]:
                            emitted.append(("audio", audio_hash64(samples)))
                    elif is_mp4(payload):
                        # skip_unsupported: an avc1/mp4a track has no
                        # computable identity, but a sibling jpeg/PCM
                        # track in the same file still fingerprints
                        vf, samples, _rate = demux_mp4(payload, skip_unsupported=True)
                        if vf:
                            emitted.append(
                                ("video", video_payload_hash64(b"".join(vf)))
                            )
                        if samples.shape[0]:
                            emitted.append(("audio", audio_hash64(samples)))
                    elif is_wav(payload) or is_flac(payload):
                        emitted.append(("audio", audio_payload_hash64(payload)))
                    else:
                        # MJPEG / animated GIF / WebP magic dispatch;
                        # anything else raises ValueError -> dropped
                        emitted.append(("video", video_payload_hash64(payload)))
                except (ValueError, NotImplementedError):
                    # NotImplementedError too (ADVICE r6 high): demux_avi
                    # raises it for non-MJPG/non-PCM AVIs (XviD, MP3-in-
                    # AVI) — the drop/partial-fingerprint contract of
                    # _media_hash_pairs
                    continue
                for fam, h in emitted:
                    ids.append(int(media_id))
                    fams.append(fam)
                    hs.append(phash_to_signed(h))
            yield pd.DataFrame(
                {
                    "_id": pd.array(ids, dtype="int64"),
                    "family": pd.array(fams, dtype="string"),
                    "_sh": pd.array(hs, dtype="int64"),
                }
            )

    hashed = media.select("media_id", "payload").mapInPandas(
        op, "_id long, family string, _sh long"
    )

    n_bands = max(AUDIO_HAMMING, VIDEO_HAMMING) + 1
    band_structs = band_struct_cols(n_bands - 1, n_bands)
    # same tiny-exchange materialization as hamming_band_pairs: the demux
    # + decode + hash stage executes once regardless of join strategy
    # (explicit count so AQE can't coalesce-then-serialize, see there)
    n_parts = hashed.sparkSession.sparkContext.defaultParallelism
    banded = hashed.repartition(n_parts, "_id").select(
        "_id", "family", "_sh", F.explode(F.array(*band_structs)).alias("band")
    ).select("_id", "family", "_sh", "band.band_no", "band.band_val")
    a, b = banded.alias("_a"), banded.alias("_b")
    cand = (
        a.join(
            b,
            (F.col("_a.family") == F.col("_b.family"))
            & (F.col("_a.band_no") == F.col("_b.band_no"))
            & (F.col("_a.band_val") == F.col("_b.band_val"))
            & (F.col("_a._id") < F.col("_b._id")),
        )
        .select(
            F.col("_a.family").alias("family"),
            F.col("_a._id").alias("id_a"),
            F.col("_a._sh").alias("sh_a"),
            F.col("_b._id").alias("id_b"),
            F.col("_b._sh").alias("sh_b"),
        )
        .dropDuplicates(["family", "id_a", "id_b"])
    )
    radius = F.when(F.col("family") == "audio", F.lit(AUDIO_HAMMING)).otherwise(
        F.lit(VIDEO_HAMMING)
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= radius)
        .select("family", "id_a", "id_b", "hamming")
    )


def _toks(text_col: str):
    """ASCII-whitespace tokens with empties dropped — F.split emits ''
    for leading/trailing whitespace, which would otherwise corrupt grams
    (' alpha bravo' != 'alpha bravo') and let whitespace-only docs pair
    via the single gram ' '. Same semantics as ASCII_TOKEN_RE.findall."""
    return F.filter(
        F.split(F.col(text_col), ASCII_WS_REGEX), lambda x: x != F.lit("")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float,
    n: int = 3,
    max_gram_doc_freq: int | None = None,
) -> DataFrame:
    """Word n-gram set Jaccard over candidate pairs blocked by ``block_col``.

    Pure relational formulation (explodable to SQL, hence oracle-checkable):
    explode distinct n-grams -> self-join within block -> |A∩B| via count,
    |A∪B| = |A| + |B| - |A∩B|. id_a < id_b.

    ``max_gram_doc_freq``: optional hot-gram cap for web scale — a gram
    occurring in more docs than this within its block is excluded from
    the measure entirely (one ubiquitous trigram in a 30B-page block is a
    quadratic reducer). With the cap the operator computes **DF-filtered
    Jaccard** — intersection AND set sizes over the surviving grams (the
    SpotSigs-style measure: ubiquitous grams carry no signal) — a
    well-defined, documented semantic change, not a silent approximation.
    Default None = exact full-gram Jaccard (the oracle-checked
    configuration).
    """
    grams = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(block_col).alias("_blk"),
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(
                            F.lit(0),
                            F.greatest(F.size(_toks(text_col)) - n, F.lit(0)),
                        ),
                        lambda i: F.array_join(F.slice(_toks(text_col), i + 1, n), " "),
                    )
                )
            ).alias("gram"),
        )
        .filter(F.length("gram") > 0)
    )
    join_grams = grams
    if max_gram_doc_freq is not None:
        hot = (
            grams.groupBy("_blk", "gram")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_gram_doc_freq)
            .select("_blk", "gram")
        )
        join_grams = grams.join(hot, ["_blk", "gram"], "left_anti")
    # ONE materialized gram stage (round 7, same move as minhash/banding):
    # the gram explosion feeds three consumers (both intersection-join
    # sides and the sizes aggregate); an explicit exchange keyed on the
    # join key makes all of them reuse a single scan+explode execution —
    # and already satisfies the intersection join's distribution, so it
    # adds no exchange to that path. Explicit partition count so AQE
    # cannot coalesce-and-serialize the candidate fan-out downstream.
    join_grams = join_grams.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "_blk", "gram"
    )
    sizes = join_grams.groupBy("_id").agg(F.count(F.lit(1)).alias("n_grams"))
    ga, gb = join_grams.alias("_ga"), join_grams.alias("_gb")
    inter = (
        ga.join(
            gb,
            (F.col("_ga._blk") == F.col("_gb._blk"))
            & (F.col("_ga.gram") == F.col("_gb.gram"))
            & (F.col("_ga._id") < F.col("_gb._id")),
        )
        .select(F.col("_ga._id").alias("id_a"), F.col("_gb._id").alias("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    za, zb = sizes.alias("_za"), sizes.alias("_zb")
    return (
        inter.join(za, F.col("id_a") == F.col("_za._id"))
        .join(zb, F.col("id_b") == F.col("_zb._id"))
        .withColumn("na", F.col("_za.n_grams"))
        .withColumn("nb", F.col("_zb.n_grams"))
        .withColumn(
            "_raw", F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))
        )
        # threshold on the RAW ratio (the SQL oracle filters pre-rounding;
        # filtering the rounded value would admit boundary pairs like
        # 0.0039995 -> 0.004000 that the oracle rejects)
        .filter(F.col("_raw") >= threshold)
        .select("id_a", "id_b", F.round("_raw", 6).alias("jaccard"))
    )
