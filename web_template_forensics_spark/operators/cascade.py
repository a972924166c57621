"""The composed E1 matching cascade + aggregation layer as Spark dataflow.

Reference lifecycle (core/file_matcher.py:401-826): per filetype
exact -> fuzzy -> structure -> contextual -> (CSS content) matching with
greedy 1:1 assignment, then pairwise comparison, then the A1-A6
aggregates. This module re-expresses each stage as DataFrame ops:

  * candidate scoring = blocked joins + Arrow-batched compare UDFs,
  * greedy assignment = per-block grouped-map (operators/matching.py),
  * remainders = left_anti joins,
  * aggregates = groupBy/agg over the matched-pair rows.

Quirk fidelity (Q9-Q14, documented in oracle/cascade_oracle.py): the
reference's html/jsx/js structure stages can never match, jsx pairwise
similarity is constant 1.0, next-env.d.ts is dropped from js unmatched
lists only.

Rounding fidelity: everywhere the reference applies Python ``round``
(half-even) the plan calls a tiny pandas round UDF instead of ``F.round``
(half-up) so pinned oracle values match bit-for-bit.

Scale notes: one "project pair" is inventory metadata (file paths +
markup), so each filetype block is small even when the page corpus is
not — the greedy grouped-map is bounded by block size. For MANY project
pairs at once, run this cascade grouped by a pair-id column instead
(each pair's cascade is an independent group — embarrassingly parallel);
the stagewise form here is the one-huge-pair path and the oracle target.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..oracle.cascade_oracle import tailwind_compare
from ..oracle.css_oracle import compare_css
from ..oracle.html_oracle import parse_html_tree
from ..oracle.js_oracle import compare_js
from ..oracle.similarity import compare_structures
from .matching import contextual_match_scores, greedy_similarity_match

FILETYPES = ("html", "css", "jsx", "js")

# --------------------------------------------------------------------------
# UDFs
# --------------------------------------------------------------------------


def py_round_udf(digits: int):
    """Python round (banker's) as a pandas UDF — F.round is HALF_UP and
    diverges from the reference on exact .xx5 ties (e.g. ratio 5/8)."""

    @F.pandas_udf(T.DoubleType())
    def _r(x: pd.Series) -> pd.Series:
        return x.map(lambda v: None if v is None else round(v, digits))

    return _r


_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("similarity", T.DoubleType()),
        T.StructField("matching", T.IntegerType()),
        T.StructField("different", T.IntegerType()),
        T.StructField("missing", T.IntegerType()),
        T.StructField("extra", T.IntegerType()),
        T.StructField("total_functions", T.IntegerType()),
        T.StructField("function_similarity", T.DoubleType()),
        T.StructField("import_similarity", T.DoubleType()),
        T.StructField("class_similarity", T.DoubleType()),
        T.StructField("control_flow_similarity", T.DoubleType()),
        T.StructField("call_graph_similarity", T.DoubleType()),
    ]
)


@F.pandas_udf(_PAIR_SCHEMA)
def compare_pair_udf(filetype: pd.Series, c1: pd.Series, c2: pd.Series) -> pd.DataFrame:
    """E1 pairwise comparison dispatch (file_matcher.py:468-526), one
    Arrow batch per call; js metric fields are null for other filetypes."""
    rows = []
    for ft, a, b in zip(filetype, c1, c2):
        a, b = a or "", b or ""
        if ft == "html":
            r = compare_structures(parse_html_tree(a), parse_html_tree(b))
            rows.append((round(r.similarity_score, 2), r.matching, r.different,
                         r.missing, r.extra, None, None, None, None, None, None))
        elif ft == "jsx":  # Q12: constant match on the {'ast','call_graph'} wrappers
            rows.append((1.0, 1, 0, 0, 0, None, None, None, None, None, None))
        elif ft == "css":
            r = compare_css(a, b)
            rows.append((r["css_similarity"], r["matching_selectors"],
                         r["different_selectors"], r["missing_selectors"],
                         r["extra_selectors"], None, None, None, None, None, None))
        else:
            r = compare_js(a, b)
            d = r["details"]
            rows.append((r["similarity"], d["matching_functions"],
                         d["different_functions"], d["missing_functions"],
                         d["extra_functions"], d["total_functions"],
                         d["function_similarity"], d["import_similarity"],
                         d["class_similarity"], d["control_flow_similarity"],
                         d["call_graph_similarity"]))
    return pd.DataFrame(rows, columns=[f.name for f in _PAIR_SCHEMA.fields])


_TW_SCHEMA = T.StructType(
    [
        T.StructField("set_jaccard", T.DoubleType()),
        T.StructField("frequency_weighted_jaccard", T.DoubleType()),
        T.StructField("hybrid_similarity", T.DoubleType()),
        T.StructField("total_classes", T.LongType()),
        T.StructField("n_changed", T.IntegerType()),
        T.StructField("single_small_change", T.BooleanType()),
        T.StructField("has_classes", T.BooleanType()),
        T.StructField("shared_classes", T.ArrayType(T.StringType())),
        T.StructField("only_in_original", T.ArrayType(T.StringType())),
        T.StructField("only_in_user", T.ArrayType(T.StringType())),
        T.StructField(
            "change_impact",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("class", T.StringType()),
                        T.StructField("original_count", T.LongType()),
                        T.StructField("user_count", T.LongType()),
                        T.StructField("count_diff", T.LongType()),
                    ]
                )
            ),
        ),
    ]
)


@F.pandas_udf(_TW_SCHEMA)
def tailwind_pair_udf(filetype: pd.Series, c1: pd.Series, c2: pd.Series) -> pd.DataFrame:
    """C17 per-pair payload (tailwind_analyzer.py:71-109) incl. the
    shared/only-in sets and the T1 change-impact list."""
    rows = []
    for ft, a, b in zip(filetype, c1, c2):
        tw = tailwind_compare(a or "", b or "", ft)
        rows.append(
            (
                tw["set_jaccard"], tw["frequency_weighted_jaccard"],
                tw["hybrid_similarity"], tw["total_classes"],
                len(tw["change_impact"]),
                len(tw["change_impact"]) == 1 and tw["change_impact"][0][3] == 1,
                bool(tw["original_classes"] or tw["user_classes"]),
                tw["shared"], tw["only_in_original"], tw["only_in_user"],
                [
                    {"class": c, "original_count": oc, "user_count": uc, "count_diff": d}
                    for c, oc, uc, d in tw["change_impact"]
                ],
            )
        )
    return pd.DataFrame(rows, columns=[f.name for f in _TW_SCHEMA.fields])


_CONFIG_SCHEMA = T.DoubleType()


@F.pandas_udf(_CONFIG_SCHEMA)
def config_score_udf(kind: pd.Series, j1: pd.Series, j2: pd.Series) -> pd.Series:
    """C20-C22 dispatch over parsed-JSON config pairs (driver-small data,
    but the compare itself runs distributed for the many-project case)."""
    from ..oracle.config_oracle import (
        package_json_similarity,
        parse_tailwind_config_text,
        tailwind_config_similarity,
        tsconfig_json_similarity,
    )

    out = []
    for k, a, b in zip(kind, j1, j2):
        if k == "tailwind_config_file":
            # raw tailwind.config.js source -> dict (no Node) -> C20
            d1, d2 = parse_tailwind_config_text(a), parse_tailwind_config_text(b)
            out.append(tailwind_config_similarity(d1, d2)["improved_config_similarity"])
            continue
        d1, d2 = json.loads(a), json.loads(b)
        if k == "tailwind_config":
            out.append(tailwind_config_similarity(d1, d2)["improved_config_similarity"])
        elif k == "package_json":
            s, _ = package_json_similarity(d1, d2)
            out.append(0.0 if s is None else s)
        else:
            s, _ = tsconfig_json_similarity(d1, d2)
            out.append(s)
    return pd.Series(out)


# basename difflib scoring reuses the shared UDF (functions/
# similarity_udfs.seq_ratio_udf) — an identical local copy previously
# lived here and the two had to be kept in sync by hand
from ..functions.similarity_udfs import seq_ratio_udf as seq_ratio_pair_udf  # noqa: E402


# --------------------------------------------------------------------------
# The cascade
# --------------------------------------------------------------------------


def _sides(files: DataFrame, filetype: str) -> tuple[DataFrame, DataFrame]:
    l = files.filter((F.col("side") == "original") & (F.col("filetype") == filetype))
    r = files.filter((F.col("side") == "modified") & (F.col("filetype") == filetype))
    return l.select("path", "content"), r.select("path", "content")


def _css_rule_count(c) -> F.Column:
    # file_matcher.py:227: css.count('{')
    return F.length(c) - F.length(F.regexp_replace(c, r"\{", ""))


def match_cascade(files: DataFrame) -> DataFrame:
    """-> (filetype, original, modified, match_type, score) — the composed
    J1-J5 cascade with reference thresholds/ordering (sorted-path total
    order, SURVEY §4.3)."""
    spark = files.sparkSession
    out_parts: list[DataFrame] = []
    empty_pairs = spark.createDataFrame([], "left_key string, right_key string, score double")

    for ft in FILETYPES:
        l, r = _sides(files, ft)
        # J1 exact
        exact = (
            l.join(r.select("path"), "path")
            .select(
                F.col("path").alias("left_key"),
                F.col("path").alias("right_key"),
                F.lit(1.0).alias("score"),
                F.lit("exact").alias("match_type"),
            )
        )
        rem1 = l.join(r.select("path"), "path", "left_anti")
        rem2 = r.join(l.select("path"), "path", "left_anti")

        # J2 fuzzy (basename difflib >= 0.75, greedy). Deliberately the
        # reference's full remainder cross product (file_matcher.py:61-82)
        # — remainders are per-project-small by construction here.
        base = lambda c: F.element_at(F.split(c, "/"), -1)  # noqa: E731
        fz_scored = (
            rem1.select(F.col("path").alias("left_key"), base(F.col("path")).alias("_lb"))
            .crossJoin(
                rem2.select(F.col("path").alias("right_key"), base(F.col("path")).alias("_rb"))
            )
            .select("left_key", "right_key", seq_ratio_pair_udf("_lb", "_rb").alias("score"))
        )
        fuzzy = greedy_similarity_match(fz_scored, threshold=0.75)
        rem1b = rem1.join(fuzzy.select(F.col("left_key").alias("path")), "path", "left_anti")
        rem2b = rem2.join(fuzzy.select(F.col("right_key").alias("path")), "path", "left_anti")

        # J3 structure — live for CSS only (Q9-Q11); rule-count guard
        if ft == "css":
            st_scored = (
                rem1b.select(
                    F.col("path").alias("left_key"),
                    F.col("content").alias("_c1"),
                    _css_rule_count(F.col("content")).alias("_n1"),
                )
                .crossJoin(
                    rem2b.select(
                        F.col("path").alias("right_key"),
                        F.col("content").alias("_c2"),
                        _css_rule_count(F.col("content")).alias("_n2"),
                    )
                )
                .withColumn("_sim", compare_pair_udf(F.lit("css"), "_c1", "_c2").getField("similarity"))
                .select(
                    "left_key",
                    "right_key",
                    F.when(
                        (F.col("_n1") < 2) | (F.col("_n2") < 2),
                        F.when((F.col("_n1") == 1) & (F.col("_n2") == 1), F.col("_sim")).otherwise(F.lit(0.0)),
                    )
                    .otherwise(F.col("_sim"))
                    .alias("score"),
                )
            )
            structure = greedy_similarity_match(st_scored, threshold=0.5)
        else:
            structure = empty_pairs

        # J4 contextual over the POST-FUZZY remainders (reference hands the
        # same rem1/rem2 to both structure and contextual, so a
        # structure-matched left may match again contextually)
        prior = exact.select("left_key", "right_key").union(
            fuzzy.select("left_key", "right_key")
        ).union(structure.select("left_key", "right_key"))
        ctx_scored = contextual_match_scores(
            rem1b.select("path"), rem2b.select("path"), prior
        )
        contextual = greedy_similarity_match(ctx_scored, threshold=0.5)

        parts = [
            exact,
            fuzzy.withColumn("match_type", F.lit("fuzzy")),
            structure.withColumn("match_type", F.lit("fuzzy+structure")),
            contextual.withColumn("match_type", F.lit("contextual")),
        ]

        # J5 CSS content match on what structure+contextual left behind
        if ft == "css":
            st_ctx = structure.select("left_key", "right_key").union(
                contextual.select("left_key", "right_key")
            )
            u1 = rem1b.join(st_ctx.select(F.col("left_key").alias("path")), "path", "left_anti")
            u2 = rem2b.join(st_ctx.select(F.col("right_key").alias("path")), "path", "left_anti")
            ct_scored = (
                u1.select(F.col("path").alias("left_key"), F.col("content").alias("_c1"))
                .crossJoin(u2.select(F.col("path").alias("right_key"), F.col("content").alias("_c2")))
                .select("left_key", "right_key", seq_ratio_pair_udf("_c1", "_c2").alias("score"))
            )
            content = greedy_similarity_match(ct_scored, threshold=0.6)
            parts.append(content.withColumn("match_type", F.lit("content")))

        ft_all = parts[0]
        for p in parts[1:]:
            ft_all = ft_all.union(p.select("left_key", "right_key", "score", "match_type"))
        out_parts.append(ft_all.withColumn("filetype", F.lit(ft)))

    out = out_parts[0]
    for p in out_parts[1:]:
        out = out.union(p)
    rnd = py_round_udf(2)
    return out.select(
        "filetype",
        F.col("left_key").alias("original"),
        F.col("right_key").alias("modified"),
        "match_type",
        F.when(F.col("match_type") == "exact", F.lit(1.0)).otherwise(rnd(F.col("score"))).alias("score"),
    )


def matched_with_contents(files: DataFrame, matched: DataFrame | None = None) -> DataFrame:
    """Matched pairs + both contents + the E1 pairwise-comparison struct.

    ``matched``: optionally a precomputed (e.g. localCheckpointed)
    match_cascade output — the cascade subplan contains ~a dozen
    grouped-map stages, so callers composing several aggregates over the
    same file table should materialize it once and pass it in.
    """
    matched = match_cascade(files) if matched is None else matched
    l = files.filter(F.col("side") == "original").select(
        F.col("filetype").alias("_ft1"), F.col("path").alias("_p1"), F.col("content").alias("_c1")
    )
    r = files.filter(F.col("side") == "modified").select(
        F.col("filetype").alias("_ft2"), F.col("path").alias("_p2"), F.col("content").alias("_c2")
    )
    joined = (
        matched.join(l, (F.col("original") == F.col("_p1")) & (F.col("filetype") == F.col("_ft1")))
        .join(r, (F.col("modified") == F.col("_p2")) & (F.col("filetype") == F.col("_ft2")))
        .drop("_ft1", "_ft2", "_p1", "_p2")
    )
    return joined.withColumn("cmp", compare_pair_udf("filetype", "_c1", "_c2"))


def pair_scores(files: DataFrame, mwc: DataFrame | None = None) -> DataFrame:
    """Per matched pair: similarity + element/selector/function counts."""
    mwc = matched_with_contents(files) if mwc is None else mwc
    return mwc.select(
        "filetype",
        "original",
        "modified",
        F.col("cmp.similarity").alias("similarity"),
        F.col("cmp.matching").alias("matching"),
        F.col("cmp.different").alias("different"),
        F.col("cmp.missing").alias("missing"),
        F.col("cmp.extra").alias("extra"),
    )


def js_pair_metrics(files: DataFrame, mwc: DataFrame | None = None) -> DataFrame:
    """C11-C16 metric columns for matched js pairs."""
    mwc = matched_with_contents(files) if mwc is None else mwc
    return (
        mwc
        .filter(F.col("filetype") == "js")
        .select(
            "original",
            "modified",
            F.col("cmp.function_similarity").alias("function_similarity"),
            F.col("cmp.import_similarity").alias("import_similarity"),
            F.col("cmp.class_similarity").alias("class_similarity"),
            F.col("cmp.control_flow_similarity").alias("control_flow_similarity"),
            F.col("cmp.call_graph_similarity").alias("call_graph_similarity"),
            F.col("cmp.total_functions").alias("total_functions"),
        )
    )


def tailwind_pairs(files: DataFrame, mwc: DataFrame | None = None) -> DataFrame:
    """C17 rows for matched html/jsx pairs with any classes on either side."""
    mwc = matched_with_contents(files) if mwc is None else mwc
    m = mwc.filter(F.col("filetype").isin("html", "jsx"))
    return (
        m.withColumn("tw", tailwind_pair_udf("filetype", "_c1", "_c2"))
        .filter(F.col("tw.has_classes"))
        .select("filetype", "original", "modified", "tw.*")
        .drop("has_classes")
    )


def _unmatched_counts(
    files: DataFrame, matched: DataFrame, q13_filter: bool = False
) -> DataFrame:
    """Per-filetype unmatched file counts.

    Q13, precisely (file_matcher.py:557-576 + the rebinding quirk): the
    reference computes ``files_unmatched`` and the per-type aggregate
    BEFORE its js next-env.d.ts filter, and ``results[ft]['matched_pairs']``
    keeps pointing at the unfiltered list (the filter rebinds a local) —
    but the filter mutates ``unmatched_files[ft]`` in place, so A2's
    file-count denominator (file_matcher.py:614-617) sees the FILTERED
    unmatched lists. Hence: ``q13_filter=False`` for the A1
    ``files_unmatched`` column, ``True`` for the A2 denominator."""
    nextenv_ok = ~(
        (F.col("filetype") == "js") & F.col("path").endswith("next-env.d.ts")
    )
    def _side(side_name: str, matched_col: str, alias: str):
        out = (
            files.filter(F.col("side") == side_name)
            .join(
                matched.selectExpr("filetype as _mft", f"{matched_col} as _mpath"),
                (F.col("filetype") == F.col("_mft")) & (F.col("path") == F.col("_mpath")),
                "left_anti",
            )
        )
        if q13_filter:
            out = out.filter(nextenv_ok)
        return out.groupBy("filetype").agg(F.count(F.lit(1)).alias(alias))

    un1 = _side("original", "original", "n_un1")
    un2 = _side("modified", "modified", "n_un2")
    types = files.sparkSession.createDataFrame([(t,) for t in FILETYPES], "filetype string")
    return (
        types.join(un1, "filetype", "left")
        .join(un2, "filetype", "left")
        .fillna(0, ["n_un1", "n_un2"])
        .select("filetype", (F.col("n_un1") + F.col("n_un2")).alias("files_unmatched"))
    )


def filetype_aggregates(files: DataFrame, mwc: DataFrame | None = None) -> DataFrame:
    """A1 + A6 (file_matcher.py:555-571): per-filetype aggregate with the
    unmatched penalty, round-3, prediction bucket from the RAW score."""
    mwc = matched_with_contents(files) if mwc is None else mwc
    scored = pair_scores(files, mwc)
    side_counts = (
        files.groupBy("filetype")
        .agg(
            F.sum((F.col("side") == "original").cast("long")).alias("n1"),
            F.sum((F.col("side") == "modified").cast("long")).alias("n2"),
        )
    )
    per_pair = scored.groupBy("filetype").agg(
        F.count(F.lit(1)).alias("files_matched"),
        F.sum("similarity").alias("sim_sum"),
        F.countDistinct("original", "modified").alias("unique_matched"),
    )
    types = files.sparkSession.createDataFrame([(t,) for t in FILETYPES], "filetype string")
    agg = (
        types.join(per_pair, "filetype", "left")
        .join(side_counts, "filetype", "left")
        .join(_unmatched_counts(files, mwc), "filetype", "left")
        .fillna(0, ["files_matched", "sim_sum", "unique_matched", "n1", "n2", "files_unmatched"])
        .withColumn("_denom", F.col("n1") + F.col("n2") - F.col("unique_matched"))
        .withColumn(
            "_agg",
            F.when(F.col("_denom") > 0, F.col("sim_sum") / F.col("_denom")).otherwise(F.lit(0.0)),
        )
    )
    rnd = py_round_udf(3)
    return agg.select(
        "filetype",
        "files_matched",
        "files_unmatched",
        rnd(F.col("_agg")).alias("aggregate_score"),
        F.when(F.col("_agg") >= 0.75, F.lit("High similarity — likely copied or derived"))
        .when(F.col("_agg") >= 0.40, F.lit("Moderate similarity — possible reuse or inspiration"))
        .otherwise(F.lit("Low similarity — likely independent"))
        .alias("prediction"),
    )


def overall_similarity(
    files: DataFrame,
    virtual_json: DataFrame | None = None,
    mwc: DataFrame | None = None,
) -> DataFrame:
    """A2 (file_matcher.py:578-627): file-count-weighted overall.

    ``virtual_json``: optional 1-row DataFrame (package_json_similarity
    double, tsconfig_similarity double) — package.json counts as 2
    virtual files, tsconfig as 1 (file_matcher.py:598-619). E1 itself
    passes none (Q5: /analyze_zip never folds config scores in).
    """
    mwc = matched_with_contents(files) if mwc is None else mwc
    sims = pair_scores(files, mwc).agg(
        F.sum("similarity").alias("sim_sum"), F.count(F.lit(1)).alias("n_matched")
    )
    unm = _unmatched_counts(files, mwc, q13_filter=True).agg(
        F.sum("files_unmatched").alias("n_unmatched")
    )
    tw = tailwind_pairs(files, mwc).agg(
        F.coalesce(F.sum("hybrid_similarity"), F.lit(0.0)).alias("tw_sum"),
        F.count(F.lit(1)).alias("n_tw"),
    )
    row = sims.crossJoin(unm).crossJoin(tw)
    if virtual_json is not None:
        row = row.crossJoin(F.broadcast(virtual_json)).withColumn(
            "_vsum",
            F.lit(2.0) * F.col("package_json_similarity") + F.col("tsconfig_similarity"),
        ).withColumn("_vcnt", F.lit(3))
    else:
        row = row.withColumn("_vsum", F.lit(0.0)).withColumn("_vcnt", F.lit(0))
    rnd = py_round_udf(6)
    total = F.col("n_matched") + F.col("n_unmatched") + F.col("n_tw") + F.col("_vcnt")
    overall = F.when(
        total > 0,
        (F.col("sim_sum") + F.col("tw_sum") + F.col("_vsum")) / total,
    ).otherwise(F.lit(0.0))
    out = row.select(
        rnd(overall).alias("overall_similarity"),
        total.cast("long").alias("total_files"),
        F.when(overall >= 0.75, F.lit("High similarity — likely copied or derived"))
        .when(overall >= 0.40, F.lit("Moderate similarity — possible reuse or inspiration"))
        .otherwise(F.lit("Low similarity — likely independent"))
        .alias("prediction"),
    )
    return out


def tailwind_aggregate(files: DataFrame, mwc: DataFrame | None = None) -> DataFrame:
    """A3 (file_matcher.py:642-678): mean / median / %>=0.9 /
    class-count-weighted / soft aggregate over the C17 rows. Exact
    median via percentile(0.5) (same mid-pair interpolation as
    np.median); defaults follow the reference when no rows exist."""
    tw = tailwind_pairs(files, mwc)
    rnd = py_round_udf(6)
    agg = tw.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("hybrid_similarity").alias("mean_h"),
        F.avg("set_jaccard").alias("mean_s"),
        F.avg("frequency_weighted_jaccard").alias("mean_f"),
        F.expr("percentile(hybrid_similarity, 0.5)").alias("median_h"),
        F.avg((F.col("hybrid_similarity") >= 0.9).cast("double")).alias("pct90"),
        F.sum(F.col("hybrid_similarity") * F.col("total_classes")).alias("wsum"),
        F.sum("total_classes").alias("wtot"),
        F.sum(F.when(~F.col("single_small_change"), F.col("hybrid_similarity"))).alias("soft_sum"),
        F.sum((~F.col("single_small_change")).cast("long")).alias("soft_n"),
    )
    has = F.col("n") > 0
    mean_h = F.when(has, F.col("mean_h")).otherwise(F.lit(0.0))
    return agg.select(
        rnd(mean_h).alias("class_similarity"),
        rnd(F.when(has, F.col("mean_s")).otherwise(F.lit(1.0))).alias("set_jaccard"),
        rnd(F.when(has, F.col("mean_f")).otherwise(F.lit(1.0))).alias("frequency_weighted_jaccard"),
        rnd(F.when(has, F.col("median_h")).otherwise(F.lit(1.0))).alias("median_similarity"),
        rnd(F.when(has, F.col("pct90")).otherwise(F.lit(1.0))).alias("percent_files_above_90"),
        rnd(
            F.when(F.col("wtot") > 0, F.col("wsum") / F.col("wtot")).otherwise(F.lit(1.0))
        ).alias("weighted_average"),
        rnd(
            F.when(F.col("soft_n") > 0, F.col("soft_sum") / F.col("soft_n")).otherwise(mean_h)
        ).alias("soft_average"),
        F.col("n").alias("files_compared"),
    )


def tailwind_change_impact(files: DataFrame, mwc: DataFrame | None = None) -> DataFrame:
    """C17 change-impact rows (T1 sort = count_diff desc, class asc)."""
    tw = tailwind_pairs(files, mwc)
    return (
        tw.select("original", "modified", F.explode("change_impact").alias("ci"))
        .select(
            "original",
            "modified",
            F.col("ci.class").alias("class"),
            F.col("ci.original_count").alias("original_count"),
            F.col("ci.user_count").alias("user_count"),
            F.col("ci.count_diff").alias("count_diff"),
        )
        .orderBy(F.col("count_diff").desc(), "class", "original")
    )


def summary_rollups(files: DataFrame, mwc: DataFrame | None = None) -> DataFrame:
    """A4 (file_matcher.py:680-758): element/selector/function count sums
    per filetype. total = sum(total_functions) for js, m+d+mi+ex else."""
    m = matched_with_contents(files) if mwc is None else mwc
    per = m.groupBy("filetype").agg(
        F.sum("cmp.matching").alias("matching"),
        F.sum("cmp.different").alias("different"),
        F.sum("cmp.missing").alias("missing"),
        F.sum("cmp.extra").alias("extra"),
        F.sum("cmp.total_functions").alias("_fn_total"),
    )
    types = files.sparkSession.createDataFrame([(t,) for t in FILETYPES], "filetype string")
    per = types.join(per, "filetype", "left").fillna(
        0, ["matching", "different", "missing", "extra", "_fn_total"]
    )
    total = F.when(F.col("filetype") == "js", F.col("_fn_total")).otherwise(
        F.col("matching") + F.col("different") + F.col("missing") + F.col("extra")
    )
    return per.select(
        "filetype",
        total.cast("long").alias("total_elements"),
        F.col("matching").cast("long").alias("matching"),
        F.col("different").cast("long").alias("different"),
        F.col("missing").cast("long").alias("missing"),
        F.col("extra").cast("long").alias("extra"),
    )


def js_metric_averages(files: DataFrame, mwc: DataFrame | None = None) -> DataFrame:
    """A5 (web/app.py:102-136): per-metric means across matched js pairs."""
    rnd = py_round_udf(6)
    m = js_pair_metrics(files, mwc)
    agg = m.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.avg(c).alias(c)
            for c in (
                "function_similarity", "import_similarity", "class_similarity",
                "control_flow_similarity", "call_graph_similarity",
            )
        ],
    )
    z = lambda c: rnd(F.coalesce(F.col(c), F.lit(0.0))).alias(c)  # noqa: E731
    return agg.select(
        z("function_similarity"), z("import_similarity"), z("class_similarity"),
        z("control_flow_similarity"), z("call_graph_similarity"),
        F.col("n").alias("pairs"),
    )


def single_pair_overall_expr(h, j, s) -> F.Column:
    """A7 (forensic_analyzer.py:32-51) as a pure SQL expression: weights
    0.3/0.3/0.4 over NONZERO scores, renormalized."""
    wh = F.when(h > 0, F.lit(0.3)).otherwise(F.lit(0.0))
    wj = F.when(j > 0, F.lit(0.3)).otherwise(F.lit(0.0))
    ws = F.when(s > 0, F.lit(0.4)).otherwise(F.lit(0.0))
    tw = wh + wj + ws
    num = h * wh + j * wj + s * ws
    return F.when(tw > 0, num / tw).otherwise(F.lit(0.0))


def app_overall_expr(h, j, c) -> F.Column:
    """E2's /analyze overall (web/app.py:248-259) as a pure SQL expression:
    plain mean of the NONZERO scores over html/jsx/css (no weights)."""
    n = (
        F.when(h > 0, F.lit(1)).otherwise(F.lit(0))
        + F.when(j > 0, F.lit(1)).otherwise(F.lit(0))
        + F.when(c > 0, F.lit(1)).otherwise(F.lit(0))
    )
    num = (
        F.when(h > 0, h).otherwise(F.lit(0.0))
        + F.when(j > 0, j).otherwise(F.lit(0.0))
        + F.when(c > 0, c).otherwise(F.lit(0.0))
    )
    return F.when(n > 0, num / n).otherwise(F.lit(0.0))


def jsx_combined_expr(structure, callgraph, body) -> F.Column:
    """A8 (forensic_analyzer.py:116): 0.6/0.2/0.2."""
    return structure * F.lit(0.6) + callgraph * F.lit(0.2) + body * F.lit(0.2)


_REPORT_SCHEMA = (
    "pair_id long, overall_similarity double, total_files long, "
    "prediction string, html_score double, css_score double, "
    "jsx_score double, js_score double, tailwind_class_similarity double, "
    "files_matched long, files_unmatched long"
)


def cascade_reports_per_pair(files: DataFrame, pair_col: str = "pair_id") -> DataFrame:
    """MANY project pairs at once — the cascade's 100x scale shape.

    One reference "analysis" covers a single (original, modified) project
    pair whose inventory is small; web-scale means MILLIONS of pairs, not
    one huge pair. Grouping by ``pair_col`` and running the whole E1
    lifecycle per group in one grouped-map pass makes each pair an
    independent unit of work: no cross-pair shuffle at all, linear in the
    number of pairs, AQE-balanced across executors. The per-pair logic is
    the pure replay (oracle/cascade_oracle.py) — identical semantics to
    the stagewise dataflow (match_cascade), which remains the
    one-huge-pair path and the oracle target.

    Input columns: (pair_id, side, path, filetype, content).

    Round-7 shape: ``repartition(pair_col) + sortWithinPartitions +
    mapInPandas`` instead of ``groupBy().applyInPandas`` — semantically
    identical (hash partitioning co-locates each pair; the sort makes
    its rows contiguous; a carried tail handles groups spanning Arrow
    batch boundaries), but the replay runs over WHOLE batches of pairs:
    the old path paid per-group Arrow framing plus a one-row pandas
    DataFrame construction per pair (~8% of the leg at 34-file pairs,
    and worse the smaller the pairs).
    """
    from ..oracle.cascade_oracle import replay_cascade

    def _report(pid: int, pdf: pd.DataFrame) -> dict:
        rows = sorted(
            (r.side, r.path, r.filetype, r.content)
            for r in pdf.itertuples(index=False)
        )
        rep = replay_cascade(rows)
        per = rep["per_type"]
        return {
            "pair_id": pid,
            "overall_similarity": rep["overall_similarity"],
            "total_files": rep["total_files"],
            "prediction": rep["overall_prediction"],
            "html_score": per["html"]["aggregate_score"],
            "css_score": per["css"]["aggregate_score"],
            "jsx_score": per["jsx"]["aggregate_score"],
            "js_score": per["js"]["aggregate_score"],
            "tailwind_class_similarity": rep["tailwind_aggregate"]["class_similarity"],
            "files_matched": sum(v["files_matched"] for v in per.values()),
            "files_unmatched": sum(v["files_unmatched"] for v in per.values()),
        }

    def many_pairs(batches):
        tail: pd.DataFrame | None = None
        for pdf in batches:
            if tail is not None:
                pdf = pd.concat([tail, pdf], ignore_index=True)
                tail = None
            if len(pdf) == 0:
                continue
            pids = pdf[pair_col].to_numpy()
            # hold back the trailing group: it may continue in the next batch
            last = pids[-1]
            cut = int((pids != last).nonzero()[0][-1]) + 1 if (pids != last).any() else 0
            if cut < len(pdf):
                tail = pdf.iloc[cut:]
                pdf = pdf.iloc[:cut]
            if len(pdf) == 0:
                continue
            out = [
                _report(int(pid), g) for pid, g in pdf.groupby(pair_col, sort=False)
            ]
            yield pd.DataFrame(out)
        if tail is not None and len(tail):
            yield pd.DataFrame(
                [_report(int(pid), g) for pid, g in tail.groupby(pair_col, sort=False)]
            )

    n_parts = files.sparkSession.sparkContext.defaultParallelism
    return (
        files.repartition(n_parts, pair_col)
        .sortWithinPartitions(pair_col)
        .mapInPandas(many_pairs, schema=_REPORT_SCHEMA)
    )
