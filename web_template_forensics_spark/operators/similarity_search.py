"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (JVM-side arithmetic: the
dot product is ``aggregate(zip_with(a, b, *), 0.0, +)`` — no Python in the
loop). The scale path is sign-LSH bucketing: 2^bits hyperplane buckets
prune the candidate set so the pairing is an equi-join; recall is tunable
by ``probe_hamming`` (multi-probe into adjacent buckets).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

# the embedding frames' schema: (vec_id long, embedding array<float>)
_ID = "vec_id"
_VEC = "embedding"
# hyperplanes only need an upper bound on the dimension: the bucket UDF
# multiplies by the batch's actual width, so padding planes is harmless.
# 4096 covers every embedding family in use; no .first() job needed.
_MAX_DIM = 4096


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def with_cosine(df: DataFrame, a: str, b: str) -> DataFrame:
    ac, bc = F.col(a), F.col(b)
    denom = _norm(ac) * _norm(bc)
    return df.withColumn(
        "cosine", F.when(denom > 0, _dot(ac, bc) / denom).otherwise(F.lit(0.0))
    )


def _seqfold_dot(C: np.ndarray, P: np.ndarray) -> np.ndarray:
    """(n_c, n_p) dot products with the SAME float64 operation order as
    the JVM expression ``aggregate(zip_with(a, b, *), 0.0, +)`` and
    DuckDB's ``list_dot_product`` loop: one IEEE multiply per element,
    then a left-to-right sequential sum over the dimension. Vectorized
    over pairs (the Python loop is only over the dimension), so the
    result is BITWISE identical to the old per-pair JVM fold while
    running at numpy speed."""
    acc = np.zeros((C.shape[0], P.shape[0]), dtype=np.float64)
    for j in range(C.shape[1]):
        acc += C[:, j, None] * P[None, :, j]
    return acc


def _seqfold_norm(M: np.ndarray) -> np.ndarray:
    """sqrt of the sequential-fold sum of squares — the numpy twin of
    ``sqrt(aggregate(transform(a, x*x), 0.0, +))`` (same op order)."""
    acc = np.zeros(M.shape[0], dtype=np.float64)
    for j in range(M.shape[1]):
        acc += M[:, j] * M[:, j]
    return np.sqrt(acc)


def cosine_topk_bruteforce(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k -> (probe_id, neighbor_id, rank, cosine); a
    probe never neighbours itself.

    Deterministic total order (cosine desc, neighbor_id asc).

    Round-7 shape (optimization guide §4.2/§8: decide with small rows,
    vectorize in native code): the probe side — the operator's SMALL
    side — is collected once (bounded driver transfer, Arrow path) and
    broadcast; a ``mapInPandas`` pass over the corpus computes each
    batch's cosines in numpy and emits only the per-batch top-(k+1)
    candidates per probe, so the window top-k runs over
    O(batches * k * probes) rows instead of |probes| * |corpus|. The old
    shape was a BroadcastNestedLoopJoin whose per-pair cosine ran through
    interpreted higher-order JVM expressions — ~80% of the bench suite at
    the driver's sf1.0. Results are bitwise identical: the numpy kernel
    replicates the JVM fold's float64 operation order exactly
    (``_seqfold_dot``/``_seqfold_norm``), and top-k-of-union ==
    union-of-per-batch-top-k under the total order (at most one self
    pair per probe, hence k+1). The corpus is never broadcast nor
    collected: it streams through the map side.
    """
    probe_pdf = probes.select(
        F.col(_ID).alias("probe_id"), F.col(_VEC).alias("p_vec")
    ).toPandas()
    spark = probes.sparkSession
    out_schema = "probe_id long, neighbor_id long, cosine double"
    if len(probe_pdf) == 0:
        return spark.createDataFrame([], out_schema).select(
            "probe_id", "neighbor_id", F.lit(1).alias("rank"), F.col("cosine")
        ).filter(F.lit(False))
    p_ids = probe_pdf["probe_id"].to_numpy(dtype=np.int64)
    P = np.stack(probe_pdf["p_vec"].to_numpy()).astype(np.float64)
    bc = spark.sparkContext.broadcast((p_ids, P))

    def op(batches):
        import pandas as pd  # noqa: F811 (executor-side import)

        ids, mat = bc.value
        norm_p = _seqfold_norm(mat)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # sort the batch by neighbor_id so the stable argsort below
            # breaks cosine ties toward the LOWER id — the exact window
            # order (cosine desc, neighbor_id asc)
            order = np.argsort(pdf["neighbor_id"].to_numpy(dtype=np.int64), kind="stable")
            c_ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)[order]
            C = np.stack(pdf["c_vec"].to_numpy()[order]).astype(np.float64)
            dots = _seqfold_dot(C, mat)
            denom = np.multiply.outer(_seqfold_norm(C), norm_p)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom > 0, dots / denom, 0.0)
            top = np.argsort(-cos, axis=0, kind="stable")[: min(k + 1, len(c_ids))]
            n_top, n_p = top.shape
            probe_rep = np.broadcast_to(ids, (n_top, n_p)).ravel()
            neigh = c_ids[top].ravel()
            cosv = np.take_along_axis(cos, top, axis=0).ravel()
            keep = neigh != probe_rep
            probe_rep, neigh, cosv = probe_rep[keep], neigh[keep], cosv[keep]
            yield pd.DataFrame(
                {"probe_id": probe_rep, "neighbor_id": neigh, "cosine": cosv}
            )

    # no JVM-side cast: float32 -> float64 in numpy is the identical exact
    # widening, and shipping the narrower float32 halves the Arrow bytes
    cand = corpus.select(
        F.col(_ID).alias("neighbor_id"), F.col(_VEC).alias("c_vec")
    ).mapInPandas(op, out_schema)
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def lsh_plane_signs(dim: int, bits: int, seed: int = 7) -> np.ndarray:
    """(dim, bits) Rademacher hyperplanes: sign(d, b) = +-1 from the low
    bit of splitmix64(seed*2^32 + d*bits + b).

    Rademacher (+-1) random projections are a standard sign-LSH family
    (Achlioptas-style sparse/sign projections preserve the same angular
    collision geometry as Gaussians). Deriving the signs from a counter
    hash instead of a PRNG stream makes every plane component a pure
    function of (d, b) — independently recomputable in numpy, Spark SQL
    and DuckDB SQL, which is what puts the whole ANN query under the
    DuckDB oracle."""
    from ..sources.pages import splitmix64

    idx = (
        np.uint64(seed) * np.uint64(1 << 32)
        + np.arange(dim * bits, dtype=np.uint64)
    )
    low = (splitmix64(idx) & np.uint64(1)).astype(np.float64)
    return (2.0 * low - 1.0).reshape(dim, bits)


def _sign_lsh_udf(dim: int, bits: int, seed: int = 7):
    planes = lsh_plane_signs(dim, bits, seed)

    @F.pandas_udf(T.IntegerType())
    def _bucket(vec: pd.Series) -> pd.Series:
        mat = np.stack(vec.to_numpy())  # (n, d), d <= dim
        # slice to the batch's actual width: signs are a pure function of
        # (d, b), so planes[:d] is identical to generating (d, bits)
        # round before the sign: the SQL oracle sums the dot product
        # sequentially while BLAS blocks/FMAs it — for a projection
        # within ~1e-15 of 0 the two orders can disagree on the SIGN and
        # flip the bucket; quantizing at 1e-9 makes both faces agree
        # everywhere except a measure-zero knife-edge 6 digits finer
        signs = np.round(mat @ planes[: mat.shape[1]], 9) > 0  # (n, bits)
        weights = (1 << np.arange(bits)).astype(np.int64)
        return pd.Series((signs @ weights).astype(np.int32))

    return _bucket


def _probe_flips(bits: int, probe_hamming: int) -> list[int]:
    """XOR masks of every bucket within ``probe_hamming`` bit flips
    (itertools over bit subsets — the old hand-rolled version silently
    capped at 2 flips, so probe_hamming=3 quietly behaved like 2).
    Fan-out is sum(C(bits, h)) for h <= probe_hamming; the guard keeps
    an accidental probe_hamming=bits from exploding into the full
    2^bits bucket space unnoticed."""
    import itertools
    import math

    if probe_hamming > bits:
        raise ValueError(f"probe_hamming={probe_hamming} exceeds bits={bits}")
    fan_out = sum(math.comb(bits, h) for h in range(probe_hamming + 1))
    if fan_out > 4096:
        raise ValueError(
            f"probe expansion of {fan_out} buckets (bits={bits}, "
            f"probe_hamming={probe_hamming}) — lower probe_hamming or "
            f"raise this guard deliberately"
        )
    return [
        sum(1 << b for b in combo)
        for h in range(probe_hamming + 1)
        for combo in itertools.combinations(range(bits), h)
    ]


def cosine_topk_lsh(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    bits: int = 8,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate cosine top-k via sign-LSH buckets (the ANN scale path).

    Candidates = corpus vectors other than the probe itself whose bucket
    is within ``probe_hamming`` bit flips of the probe's bucket; then
    exact cosine + window top-k.
    """
    bucket = _sign_lsh_udf(_MAX_DIM, bits)
    flips = _probe_flips(bits, probe_hamming)
    p = probes.select(
        F.col(_ID).alias("probe_id"),
        F.transform(F.col(_VEC), lambda x: x.cast("double")).alias("p_vec"),
        bucket(F.col(_VEC)).alias("p_bucket"),
    ).withColumn(
        "bucket",
        F.explode(F.array(*[F.col("p_bucket").bitwiseXOR(F.lit(fl)) for fl in flips])),
    )
    c = corpus.select(
        F.col(_ID).alias("neighbor_id"),
        F.transform(F.col(_VEC), lambda x: x.cast("double")).alias("c_vec"),
        bucket(F.col(_VEC)).alias("bucket"),
    )
    pairs = (
        p.join(c, "bucket")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .dropDuplicates(["probe_id", "neighbor_id"])
    )
    scored = with_cosine(pairs, "p_vec", "c_vec")
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def _kmeans_centroids(mat: np.ndarray, k: int, iters: int = 10, seed: int = 11) -> np.ndarray:
    """Tiny deterministic k-means (numpy, driver-side on a SAMPLE) for the
    IVF coarse quantizer. Unit-normalized input -> cosine ~ dot."""
    rng = np.random.RandomState(seed)
    k = min(k, len(mat))
    centroids = mat[rng.choice(len(mat), size=k, replace=False)]
    for _ in range(iters):
        assign = np.argmax(mat @ centroids.T, axis=1)
        for j in range(k):
            members = mat[assign == j]
            if len(members):
                c = members.mean(axis=0)
                n = np.linalg.norm(c)
                if n > 0:
                    centroids[j] = c / n
    return centroids


def ivf_centroids_from_parquet(
    path: str, n_lists: int = 16, sample_rows: int = 2000
) -> np.ndarray:
    """Spark-free twin of the centroid training inside ``cosine_topk_ivf``:
    same deterministic sample (order by id, first ``sample_rows``), same
    float32 -> float64 cast chain, same seeded k-means. Used by the DuckDB
    oracle to materialize the centroids it injects as a VALUES table —
    bitwise-identical to what the Spark path trains because both read the
    identical parquet bytes and run the identical numpy."""
    import pyarrow.parquet as pq

    t = (
        pq.read_table(path, columns=[_ID, _VEC])
        .to_pandas()
        .sort_values(_ID)
        .head(sample_rows)
    )
    mat = np.stack(t[_VEC].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return _kmeans_centroids(mat / norms, n_lists)


def cosine_topk_ivf(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    sample_rows: int = 2000,
) -> DataFrame:
    """Approximate cosine top-k via IVF (inverted-file) lists — the other
    canonical ANN scale path next to sign-LSH:

      1. train a coarse quantizer (k-means on a driver-side SAMPLE of the
         corpus — O(sample x lists), independent of corpus size),
      2. broadcast the centroids; assign every corpus vector to its
         nearest list (one map pass),
      3. each probe explodes to its ``n_probe`` nearest lists; candidates
         come from an equi-join on list id (never a cross join),
      4. exact cosine + window top-k on the candidates (a probe never
         neighbours itself).

    Recall rises with n_probe (n_probe = n_lists degenerates to exact).
    """
    # Deterministic sample: ``limit`` without an ordering is
    # partition-layout-dependent, which made the trained centroids (and so
    # the rows-only output) vary under input repartitioning. Ordering by
    # id before the limit pins the sample; the sort is bounded by the
    # TakeOrderedAndProject operator (top-N per partition + driver merge),
    # still O(sample) driver-side.
    sample = np.stack(
        corpus.select(_ID, _VEC)
        .orderBy(_ID)
        .limit(sample_rows)
        .toPandas()[_VEC]
        .to_numpy()
    ).astype(np.float64)
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    centroids = _kmeans_centroids(sample / norms, n_lists)

    # Centroid similarities are quantized at 1e-9 before argmax/argsort so
    # list assignment and probe expansion are decided on values a
    # different engine (sequential-sum SQL vs BLAS matmul) reproduces
    # bit-identically — the same cross-engine fence as the LSH bucket
    # sign quantization above. Ties after rounding break to the LOWER
    # list id on both faces (np.argmax first-max / stable argsort here,
    # ORDER BY sim DESC, list_id ASC in the DuckDB oracle).
    @F.pandas_udf(T.IntegerType())
    def _list_of(vec: pd.Series) -> pd.Series:
        mat = np.stack(vec.to_numpy()).astype(np.float64)
        n = np.linalg.norm(mat, axis=1, keepdims=True)
        n[n == 0] = 1.0
        sims = np.round((mat / n) @ centroids.T, 9)
        return pd.Series(np.argmax(sims, axis=1).astype(np.int32))

    n_probe_eff = min(n_probe, len(centroids))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _probe_lists(vec: pd.Series) -> pd.Series:
        mat = np.stack(vec.to_numpy()).astype(np.float64)
        n = np.linalg.norm(mat, axis=1, keepdims=True)
        n[n == 0] = 1.0
        sims = np.round((mat / n) @ centroids.T, 9)
        top = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe_eff].astype(np.int32)
        return pd.Series([row.tolist() for row in top])

    p = probes.select(
        F.col(_ID).alias("probe_id"),
        F.transform(F.col(_VEC), lambda x: x.cast("double")).alias("p_vec"),
        F.explode(_probe_lists(F.col(_VEC))).alias("list_id"),
    )
    c = corpus.select(
        F.col(_ID).alias("neighbor_id"),
        F.transform(F.col(_VEC), lambda x: x.cast("double")).alias("c_vec"),
        _list_of(F.col(_VEC)).alias("list_id"),
    )
    pairs = (
        p.join(c, "list_id")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .dropDuplicates(["probe_id", "neighbor_id"])
    )
    scored = with_cosine(pairs, "p_vec", "c_vec")
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def semantic_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    bits: int = 8,
    probe_hamming: int = 1,
) -> DataFrame:
    """Semantic near-duplicate PAIRS (SemDeDup shape — Abbas et al.
    2023 prune embedding-space duplicates the same way): (id_a, id_b,
    cosine) for every unordered pair whose exact cosine clears
    ``threshold``, candidates generated by the sign-LSH bucket family
    ``cosine_topk_lsh`` uses (bucket equi-join within ``probe_hamming``
    bit flips — never all pairs).

    Each unordered pair is examined at most once: only the smaller id's
    bucket expands, the join demands ``id_a < id_b``, and at most one
    flip mask maps bucket(a) onto bucket(b), so no dedup pass is
    needed. The threshold compares a 1e-9-quantized cosine so the
    BLAS-ordered Spark sum and the sequential SQL-oracle sum cannot
    disagree at the knife edge (the repo-wide determinization rule).

    100 TB shape: buckets + ids + vectors shuffle once through the
    bucket equi-join; fan-out is bounded by bucket collision counts
    (bits sizes the buckets to the corpus), and the exact cosine runs
    only on candidates.
    """
    flips = _probe_flips(bits, probe_hamming)
    bucket = _sign_lsh_udf(_MAX_DIM, bits)
    # ONE materialized scan+bucket-UDF stage (round 7): both join sides
    # derive from the same (id, vec, bucket) frame; without an explicit
    # exchange above the UDF, each side re-scans and re-buckets the whole
    # corpus (a broadcast build side cannot reuse the other side's plan).
    # Explicit count so AQE can't coalesce-and-serialize the pair fan-out.
    base = vectors.select(
        F.col(_ID).alias("_vid"),
        F.transform(F.col(_VEC), lambda x: x.cast("double")).alias("_v"),
        bucket(F.col(_VEC)).alias("_b"),
    ).repartition(vectors.sparkSession.sparkContext.defaultParallelism, "_vid")
    left = (
        base.select(
            F.col("_vid").alias("id_a"), F.col("_v").alias("va"), F.col("_b").alias("ba")
        )
        .withColumn(
            "bucket",
            F.explode(F.array(*[F.col("ba").bitwiseXOR(F.lit(fl)) for fl in flips])),
        )
        .drop("ba")
    )
    right = base.select(
        F.col("_vid").alias("id_b"), F.col("_v").alias("vb"), F.col("_b").alias("bucket")
    )
    pairs = left.join(right, "bucket").filter(F.col("id_a") < F.col("id_b"))
    scored = with_cosine(pairs, "va", "vb")
    return (
        scored.filter(F.round(F.col("cosine"), 9) >= F.lit(threshold))
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )
