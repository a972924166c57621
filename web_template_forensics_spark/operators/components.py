"""Distributed connected components — alternating large-star /
small-star (Kiveris et al. 2014, "Connected Components in MapReduce and
Beyond") — and the dedup-cluster assignment built on it.

This is the missing last step of a production dedup pipeline: the
near-dup operators (minhash / simhash / ngram / consensus —
operators/dedup.py) emit PAIRS, but removal needs CLUSTERS — near-dup
is not transitive, so A~B and B~C must land A, B, C in one cluster even
when A~C never fired, and exactly one canonical document per cluster
survives.

Why this algorithm at 100 TB: label propagation converges in
O(diameter) rounds (a 1M-node chain = 1M shuffles); alternating
large-star/small-star provably converges in O(log^2 n) rounds and in
practice a handful, each round being two groupBy-min aggregations and
an equi-join — all map-side-combinable, no collect_list (a high-degree
node never materializes its neighborhood in one task; large-star is
exactly the step that re-attaches big neighborhoods to the component
min). Driver actions are one tiny signature aggregate per round
(count + sum of xxhash64) to detect the fixpoint — O(log n) actions
total, each over an edge set that only shrinks. ``localCheckpoint``
truncates the iterative lineage each round (on a real cluster: the
same call, or checkpoint to durable storage for fault tolerance).

Determinism contract: component id = MIN node id under the column's
natural ordering (bigint doc ids here; for strings, Spark's UTF8 binary
comparison matches DuckDB's default binary collation on ASCII ids), so
the oracle face (recursive transitive closure + min, plans/queries.py)
reproduces the labels exactly.

Reference parity: no graph/dedup surface exists in the reference
(SURVEY.md §2 — LLM-pipeline graft component).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_ROUNDS = 50


def _sym(edges: DataFrame) -> DataFrame:
    """Symmetrize (a, b) -> both directions, drop self-loops."""
    return (
        edges.select("a", "b")
        .union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _large_star(sym: DataFrame) -> DataFrame:
    """For each node u: m = min(N(u) + {u}); emit (v, m) for v in N(u),
    v > u. Detaches large neighborhoods onto the running minimum —
    the skew-handling half of the pair."""
    mins = sym.groupBy("a").agg(F.min("b").alias("mn")).select(
        "a", F.least(F.col("mn"), F.col("a")).alias("m")
    )
    return (
        sym.filter(F.col("b") > F.col("a"))
        .join(mins, "a")
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(sym: DataFrame) -> DataFrame:
    """Orient edges toward smaller ids ((u, v), v < u); for each u:
    m = min neighbor; emit (v, m) for each v in N(u) plus (u, m)."""
    d = sym.filter(F.col("b") < F.col("a"))
    mins = d.groupBy("a").agg(F.min("b").alias("m"))
    e1 = d.join(mins, "a").select(F.col("b").alias("a"), F.col("m").alias("b"))
    e2 = mins.select(F.col("a"), F.col("m").alias("b"))
    return e1.union(e2).filter(F.col("a") != F.col("b")).distinct()


def _signature(edges: DataFrame):
    """(row_count, sum-of-xxhash64) fixpoint signature over the
    ORIENTATION-CANONICAL edge form (least, greatest) — one driver
    action per round. Canonical form is sound AND saves a round: the
    next iteration's input is ``_sym(e)``, which depends only on the
    canonical edge set, so canonical-set equality proves
    transform(e_new) == e_new — a fixpoint — even when the oriented
    rows differ (e.g. a pair flips (1,2) -> (2,1) on its first pass).
    A hash-sum collision on CHANGED edge sets is ~2^-64 per round."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal(38,0) sum: immune to ANSI-mode long overflow
        F.coalesce(
            F.sum(
                F.xxhash64(
                    F.least(F.col("a"), F.col("b")),
                    F.greatest(F.col("a"), F.col("b")),
                ).cast("decimal(38,0)")
            ),
            F.lit(0),
        ).cast("decimal(38,0)").alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def connected_components(edges: DataFrame) -> DataFrame:
    """Edges (id_a, id_b) -> (node, component) with component = min node
    id reachable. Nodes appearing only as isolated endpoints of dropped
    self-loops still label themselves. Alternates large-star/small-star
    until the edge-set signature is stable; raises after MAX_ROUNDS
    (a 2^50-diameter graph does not occur).

    The star rounds run under a shuffle width sized to the EDGE SET,
    not the session default: a near-dup edge set is typically orders of
    magnitude smaller than the corpus whose session tuned
    ``spark.sql.shuffle.partitions``, and the loop's many tiny barrier
    stages pay per-partition scheduling latency at every round
    (measured: 45 s -> 6 s on a 50k-edge graph when a 1M-doc session's
    125 partitions clamp to 8). Auto width = ~1M canonical edges per
    reducer, floored at 8, capped at the session value — so a
    billion-edge graph still gets full width. The session conf is
    mutated for the duration of the loop and restored in ``finally``
    (conf reads happen at action time; the loop's actions are the only
    ones inside the window — avoid running concurrent queries on the
    same session mid-call)."""
    e = (
        edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    endpoints = _sym(e).select("a").distinct()
    sig = _signature(e)
    spark = e.sparkSession
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parts = max(8, min(session_parts, sig[0] // 1_000_000 + 8))
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        for _ in range(MAX_ROUNDS):
            e = _small_star(_large_star(_sym(e))).localCheckpoint(eager=True)
            new_sig = _signature(e)
            if new_sig == sig:
                break
            sig = new_sig
        else:
            raise RuntimeError(
                f"connected_components: no fixpoint in {MAX_ROUNDS} rounds"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(session_parts))
    # converged: every edge is (node, component-min); roots and isolated
    # nodes (none here after self-loop drop, but endpoints covers both)
    # label themselves
    labelled = e.select(F.col("a").alias("node"), F.col("b").alias("component"))
    selfs = endpoints.join(labelled, endpoints.a == labelled.node, "left_anti").select(
        F.col("a").alias("node"), F.col("a").alias("component")
    )
    return labelled.union(selfs)


def dedup_clusters(docs: DataFrame, edges: DataFrame) -> DataFrame:
    """Assign EVERY document (``doc_id``) a dedup cluster from near-dup
    pair edges (``id_a``, ``id_b``).

    Output per doc: cluster_id (min doc id in its component — the
    canonical survivor), cluster_size, is_canonical (1/0 bigint,
    matching the repo's no-boolean oracle convention). Docs in no pair
    form singleton clusters of themselves. Scale shape: the component
    computation shuffles only id pairs; the final joins are
    id-equi-joins (the component map is |near-dup docs| rows — tiny
    next to the corpus — so AQE broadcasts it)."""
    comp = connected_components(edges)
    ids = docs.select("doc_id")
    assigned = (
        ids.join(comp, ids.doc_id == comp.node, "left")
        .select("doc_id", F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"))
    )
    sizes = assigned.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        assigned.join(sizes, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.when(F.col("doc_id") == F.col("cluster_id"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("is_canonical"),
        )
    )
