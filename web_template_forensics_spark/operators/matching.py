"""The reference's matching cascade as dataflow operators.

J1 exact equi-join + anti remainders (core/file_matcher.py:46-58) and the
greedy 1:1 best-unused similarity assignment that underlies its fuzzy /
structure / contextual / content joins (core/file_matcher.py:61-82,
186-323, 325-360, 374-395).

The greedy pass is inherently sequential *within a comparison group*
(later picks depend on earlier ones — SURVEY.md §4.3), so it runs as a
grouped-map pandas UDF per block: candidate scoring fans out as a blocked
join (distributed, prunable), only the small per-block assignment replays
the reference's exact left-order greedy loop. Determinism: left keys are
processed in ascending order and ties keep the first-seen right key in
that same order — matching the reference's list-iteration semantics when
fixtures are generated under sorted file order.
"""

from __future__ import annotations

import logging

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)
_warned_banded = False


def greedy_similarity_match(
    scored_pairs: DataFrame,
    left_col: str = "left_key",
    right_col: str = "right_key",
    score_col: str = "score",
    block_col: str | None = None,
    threshold: float = 0.75,
) -> DataFrame:
    """Greedy 1:1 assignment over pre-scored candidate pairs.

    Replays the reference loop (core/file_matcher.py:61-82): iterate left
    keys in order; each takes the best not-yet-used right key with
    strictly-greater score (first-seen wins ties); keep if >= threshold.

    ``scored_pairs`` must already be blocked/pruned (the distributed part).
    Returns (block?, left_key, right_key, score).
    """
    blk = block_col or "_blk"
    df = scored_pairs
    if block_col is None:
        df = df.withColumn(blk, F.lit(0))

    def assign(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([left_col, right_col], kind="mergesort").reset_index(drop=True)
        used: set = set()
        out = []
        for lk, grp in pdf.groupby(left_col, sort=True):
            best_score = 0.0
            best_rk = None
            for rk, sc in zip(grp[right_col], grp[score_col]):
                if rk in used:
                    continue
                if sc > best_score:
                    best_score = sc
                    best_rk = rk
            if best_score >= threshold and best_rk is not None:
                used.add(best_rk)
                out.append((grp[blk].iloc[0], lk, best_rk, float(best_score)))
        return pd.DataFrame(out, columns=[blk, left_col, right_col, score_col])

    schema_fields = []
    for name in (blk, left_col, right_col, score_col):
        dtype = dict(df.dtypes)[name]
        schema_fields.append(f"{name} {dtype}")
    result = df.groupBy(blk).applyInPandas(assign, schema=", ".join(schema_fields))
    if block_col is None:
        result = result.drop(blk)
    return result


def fuzzy_filename_scores(
    left: DataFrame,
    right: DataFrame,
    path_col: str = "path",
    block_col: str | None = None,
    max_unblocked_rows: int = 100_000,
) -> DataFrame:
    """Candidate scores for the fuzzy filename join (J2).

    Blocked pairing (same block, e.g. filetype) + difflib ratio on
    basenames via the seq_ratio UDF. Feed into greedy_similarity_match.

    ``block_col=None`` is a disguised cross join — only legal for small
    sides (the cascade already splits by filetype before calling this); a
    guard aborts rather than let an unblocked cross join reach 100x scale.
    """
    from ..functions.similarity_udfs import seq_ratio_udf

    if block_col is None:
        # Eager by necessity (the guard must decide before the cross join
        # is built), but a single Spark action: both counts run as one
        # job via the single-row cross join, not two sequential .count()s.
        n_l, n_r = (
            left.select(F.count("*").alias("n"))
            .crossJoin(right.select(F.count("*").alias("m")))
            .first()
        )
        if n_l * n_r > max_unblocked_rows:
            raise ValueError(
                f"fuzzy_filename_scores without block_col would build a "
                f"{n_l}x{n_r} cross join; pass block_col (e.g. filetype) "
                f"or raise max_unblocked_rows explicitly"
            )

    base = lambda c: F.element_at(F.split(c, "/"), -1)  # noqa: E731
    l = left.select(
        F.col(path_col).alias("left_key"),
        base(F.col(path_col)).alias("_lbase"),
        *( [F.col(block_col).alias("_blk")] if block_col else [F.lit(0).alias("_blk")] ),
    )
    r = right.select(
        F.col(path_col).alias("right_key"),
        base(F.col(path_col)).alias("_rbase"),
        *( [F.col(block_col).alias("_blk")] if block_col else [F.lit(0).alias("_blk")] ),
    )
    return (
        l.join(r, "_blk")
        .withColumn("score", seq_ratio_udf("_lbase", "_rbase"))
        .select("_blk", "left_key", "right_key", "score")
    )


def contextual_match_scores(
    left: DataFrame,
    right: DataFrame,
    matched_pairs: DataFrame,
    path_col: str = "path",
    blocked: bool = True,
) -> DataFrame:
    """J4 candidate scoring (core/file_matcher.py:325-360): iterative —
    depends on prior matches, so prior pairs are broadcast (2-pass shape).

    score = 0.7 * (shared folder-prefix depth / max path depth)
          + 0.3 * (sibling matched-pair fraction)
    Feed into greedy_similarity_match(threshold=0.5) after left-anti
    filtering rights already used by ``matched_pairs``.

    ``blocked=True`` (the scale path) equi-joins candidates on the FIRST
    path segment instead of a cross join. Lossless for any downstream
    threshold > 0.3: the folder term is a first-mismatch prefix count, so
    pairs whose first segments differ score 0.7*0 + 0.3*sib <= 0.3 and can
    neither pass the threshold nor consume a right key in the greedy pass
    (the reference only marks a right file used when its best score meets
    the threshold, file_matcher.py:356-359).
    """
    # root-level files (no '/') have parent '' — the reference's
    # os.sep.join(parts[:-1]) of a bare filename (file_matcher.py:346-351),
    # so startswith('') counts EVERY prior matched pair for them.
    parent = lambda c: F.when(  # noqa: E731
        c.contains("/"), F.regexp_replace(c, r"/[^/]*$", "")
    ).otherwise(F.lit(""))
    # reference: sibling counts pairs whose ORIGINAL/MODIFIED PATHS start
    # with the candidate's parent dirs (file_matcher.py:348-351)
    pairs_paths = F.broadcast(
        matched_pairs.select(
            F.col("left_key").alias("mp_l"), F.col("right_key").alias("mp_r")
        )
    )
    # the sibling fraction's denominator (len(matched_pairs)+1) stays
    # in-plan: a 1-row broadcast aggregate instead of a driver .count()
    n_matched_df = F.broadcast(
        matched_pairs.agg(F.count(F.lit(1)).alias("_n_matched"))
    )
    first_seg = lambda c: F.split(c, "/").getItem(0)  # noqa: E731
    l = left.select(
        F.col(path_col).alias("left_key"),
        F.split(F.col(path_col), "/").alias("_lparts"),
        parent(F.col(path_col)).alias("_lparent"),
        first_seg(F.col(path_col)).alias("_lseg0"),
    )
    r = right.join(
        matched_pairs.select(F.col("right_key").alias(path_col)), path_col, "left_anti"
    ).select(
        F.col(path_col).alias("right_key"),
        F.split(F.col(path_col), "/").alias("_rparts"),
        parent(F.col(path_col)).alias("_rparent"),
        first_seg(F.col(path_col)).alias("_rseg0"),
    )
    if blocked:
        cand = l.join(r, l["_lseg0"] == r["_rseg0"]).drop("_lseg0", "_rseg0")
    else:
        cand = l.crossJoin(r).drop("_lseg0", "_rseg0")
    # matching parent-folder prefix length (stop at first mismatch)
    folder_matches = F.aggregate(
        F.zip_with(
            F.slice(F.col("_lparts"), 1, F.greatest(F.size("_lparts") - 1, F.lit(0))),
            F.slice(F.col("_rparts"), 1, F.greatest(F.size("_rparts") - 1, F.lit(0))),
            lambda a, b: F.when(a == b, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.struct(F.lit(0).alias("n"), F.lit(True).alias("go")),
        lambda acc, x: F.struct(
            (acc["n"] + F.when(acc["go"] & (x == 1), 1).otherwise(0)).alias("n"),
            (acc["go"] & (x == 1)).alias("go"),
        ),
        lambda acc: acc["n"],
    )
    folder_score = folder_matches / F.greatest(F.size("_lparts"), F.size("_rparts"))
    sib = (
        cand.join(
            pairs_paths,
            F.col("mp_l").startswith(F.col("_lparent"))
            & F.col("mp_r").startswith(F.col("_rparent")),
            "left",
        )
        .groupBy("left_key", "right_key", "_lparts", "_rparts")
        .agg(F.count("mp_l").alias("_nsib"))
    )
    return sib.crossJoin(n_matched_df).select(
        "left_key",
        "right_key",
        (
            F.lit(0.7) * (folder_score)
            + F.lit(0.3) * (F.col("_nsib") / (F.col("_n_matched") + F.lit(1)))
        ).alias("score"),
    )


def aggregate_match_scores(
    matched: DataFrame,
    n_left: int,
    n_right: int,
    score_col: str = "score",
) -> DataFrame:
    """A1 (core/file_matcher.py:555-570): per-group aggregate with
    unmatched penalty — agg = sum(sims) / (n_left + n_right - n_matched)
    (unmatched files contribute 0 to the numerator and stay in the
    denominator), rounded to 3 decimals, plus the A6 prediction bucket
    (core/file_matcher.py:362-368)."""
    total = F.lit(n_left + n_right) - F.count(F.lit(1))
    score = F.when(total > 0, F.sum(score_col) / total).otherwise(F.lit(0.0))
    return matched.agg(
        F.count(F.lit(1)).alias("files_matched"),
        F.round(score, 3).alias("aggregate_score"),
    ).withColumn(
        "prediction",
        F.when(F.col("aggregate_score") >= 0.75, F.lit("High similarity — likely copied or derived"))
        .when(F.col("aggregate_score") >= 0.40, F.lit("Moderate similarity — possible reuse or inspiration"))
        .otherwise(F.lit("Low similarity — likely independent")),
    )


def structure_match_scores(
    left: DataFrame,
    right: DataFrame,
    filetype: str,
    path_col: str = "path",
    content_col: str = "content",
    prefilter: str = "banded",
    threshold: float = 0.5,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Capable J3 (ENGINE EXTENSION): candidate scores for structure
    matching with the node-count guard working as the reference INTENDED
    (file_matcher.py:131-183 — its own guard never fires for html/jsx/js,
    quirks Q9-Q11; the cascade operator replicates those, this one fixes
    them). Feed into greedy_similarity_match(threshold=0.5).

    prefilter="banded" (default, the 100 TB shape): candidates come from
    a size-band EQUI-join, never a cross product. Rationale: the
    comparator scores every unmatched sibling subtree 0, so when size
    difference shows up as extra/missing SIBLINGS (the template shape —
    sections, list items, table rows), a pair can only reach the 0.5
    threshold if tree sizes are within ~2x, i.e. within one
    floor(log2(n)) band. The left side probes its own band and both
    neighbors (explode x3), the right keys on its band, and the join is
    a plain equi-join whose fan-out is bounded by the band populations.
    Caveat (documented, not hidden): alignment counts SUBTREES, so a
    degenerate single-child chain can hide many nodes behind one 0-entry
    and score >= 0.5 across bands — use prefilter="all_pairs" when
    exact recall over adversarial tree shapes matters.

    prefilter="all_pairs" is the oracle-fidelity mode (the reference
    literally scores the full remainder cross product,
    file_matcher.py:131-183) — every pair gets a score row, including
    sub-threshold ones.

    ``group_cols`` is the MANY-project-pairs shape (the cascade's 100x
    scale axis): columns like pair_id become extra equi-join keys, so
    ONE plan scores every project pair at once — candidates never cross
    pair boundaries, the banded join key is (group..., _band), and with
    all_pairs the cross product stays confined within each group (an
    equi-join on the group keys, not a CartesianProduct).
    """
    from ..functions.similarity_udfs import (
        guarded_structure_score_udf,
        structure_size_udf,
    )

    if prefilter == "banded":
        # one-time heads-up (ADVICE r3): banded is a deliberate recall
        # change vs the reference's all-pairs semantics — degenerate
        # single-child-chain trees can score >= 0.5 across size bands
        # and be missed. Callers needing reference-exact recall pass
        # prefilter="all_pairs".
        global _warned_banded
        if not _warned_banded:
            _warned_banded = True
            _log.info(
                "structure_match_scores: banded prefilter drops cross-band "
                "candidates (adversarial chain-shaped trees may be missed); "
                "use prefilter='all_pairs' for reference-exact recall"
            )
    gcols = list(group_cols)
    l = left.select(
        *gcols, F.col(path_col).alias("left_key"), F.col(content_col).alias("_c1")
    )
    r = right.select(
        *gcols, F.col(path_col).alias("right_key"), F.col(content_col).alias("_c2")
    )
    if prefilter == "banded":
        band = lambda n: F.floor(F.log2(F.greatest(n, F.lit(1.0))))  # noqa: E731
        # asNondeterministic: the equi-join's implicit isnotnull(_band)
        # otherwise gets pushed below the Project through projection
        # collapse, DUPLICATING the per-document tree parse (two
        # ArrowEvalPython nodes for the same UDF — the exact cost the
        # prefilter exists to save). Marking the size probe
        # non-deterministic pins it to a single evaluation; it is in
        # fact deterministic, only the optimizer fence is wanted.
        size_once = structure_size_udf.asNondeterministic()
        lb = l.withColumn(
            "_n", size_once(F.lit(filetype), "_c1").cast("double")
        ).withColumn(
            "_band",
            F.explode(
                F.array(band(F.col("_n")) - 1, band(F.col("_n")), band(F.col("_n")) + 1)
            ),
        )
        rb = r.withColumn(
            "_band", band(size_once(F.lit(filetype), "_c2").cast("double"))
        )
        pairs = lb.join(rb, gcols + ["_band"])
    elif prefilter == "all_pairs":
        pairs = l.crossJoin(r) if not gcols else l.join(r, gcols)
    else:
        raise ValueError(f"unknown prefilter mode: {prefilter!r}")
    return pairs.select(
        *gcols,
        "left_key",
        "right_key",
        guarded_structure_score_udf(F.lit(filetype), "_c1", "_c2").alias("score"),
    )
