"""Shared assignment and J4 scoring for the matching cascade.

``greedy_similarity_match`` is the greedy 1:1 best-unused similarity
assignment under the reference's fuzzy / structure / contextual / content
joins (core/file_matcher.py:61-82, 186-323, 325-360, 374-395);
``contextual_match_scores`` is the J4 candidate scoring. Both are stages
of ``operators/cascade.py:match_cascade``, which builds the other
stages' candidates inline.

The greedy pass is inherently sequential *within a comparison group*
(later picks depend on earlier ones — SURVEY.md §4.3), so it runs as a
grouped-map pandas UDF per block: candidate scoring fans out as a join
(distributed, prunable), only the small per-block assignment replays
the reference's exact left-order greedy loop. Determinism: left keys are
processed in ascending order and ties keep the first-seen right key in
that same order — matching the reference's list-iteration semantics when
fixtures are generated under sorted file order.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def greedy_similarity_match(scored_pairs: DataFrame, threshold: float = 0.75) -> DataFrame:
    """Greedy 1:1 assignment over pre-scored candidate pairs.

    Replays the reference loop (core/file_matcher.py:61-82): iterate left
    keys in order; each takes the best not-yet-used right key with
    strictly-greater score (first-seen wins ties); keep if >= threshold.

    ``scored_pairs`` (left_key, right_key, score) must already be
    blocked/pruned (the distributed part); all of it is one comparison
    group. Returns (left_key, right_key, score).
    """
    cols = ["left_key", "right_key", "score"]

    def assign(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["left_key", "right_key"], kind="mergesort").reset_index(drop=True)
        used: set = set()
        out = []
        for lk, grp in pdf.groupby("left_key", sort=True):
            best_score = 0.0
            best_rk = None
            for rk, sc in zip(grp["right_key"], grp["score"]):
                if rk in used:
                    continue
                if sc > best_score:
                    best_score = sc
                    best_rk = rk
            if best_score >= threshold and best_rk is not None:
                used.add(best_rk)
                out.append((lk, best_rk, float(best_score)))
        return pd.DataFrame(out, columns=cols)

    dtypes = dict(scored_pairs.dtypes)
    schema = ", ".join(f"{c} {dtypes[c]}" for c in cols)
    return scored_pairs.groupBy().applyInPandas(assign, schema=schema)


def contextual_match_scores(
    left: DataFrame,
    right: DataFrame,
    matched_pairs: DataFrame,
) -> DataFrame:
    """J4 candidate scoring (core/file_matcher.py:325-360): iterative —
    depends on prior matches, so prior pairs are broadcast (2-pass shape).

    score = 0.7 * (shared folder-prefix depth / max path depth)
          + 0.3 * (sibling matched-pair fraction)
    Feed into greedy_similarity_match(threshold=0.5) after left-anti
    filtering rights already used by ``matched_pairs``. ``left`` and
    ``right`` hold the file paths in a ``path`` column.

    Candidates equi-join on the FIRST path segment instead of a cross
    join. Lossless for any downstream threshold > 0.3: the folder term is
    a first-mismatch prefix count, so pairs whose first segments differ
    score 0.7*0 + 0.3*sib <= 0.3 and can neither pass the threshold nor
    consume a right key in the greedy pass (the reference only marks a
    right file used when its best score meets the threshold,
    file_matcher.py:356-359).
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
        F.col("path").alias("left_key"),
        F.split(F.col("path"), "/").alias("_lparts"),
        parent(F.col("path")).alias("_lparent"),
        first_seg(F.col("path")).alias("_lseg0"),
    )
    r = right.join(
        matched_pairs.select(F.col("right_key").alias("path")), "path", "left_anti"
    ).select(
        F.col("path").alias("right_key"),
        F.split(F.col("path"), "/").alias("_rparts"),
        parent(F.col("path")).alias("_rparent"),
        first_seg(F.col("path")).alias("_rseg0"),
    )
    cand = l.join(r, l["_lseg0"] == r["_rseg0"]).drop("_lseg0", "_rseg0")
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
