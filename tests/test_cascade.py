"""E1 cascade + aggregation layer: distributed dataflow == pure replay,
plus pins for the reference quirks Q9-Q14 the cascade must preserve."""

import pytest
from pyspark.sql import functions as F

from web_template_forensics_spark.fixtures.project_pairs import project_pair_rows
from web_template_forensics_spark.operators import cascade as C
from web_template_forensics_spark.oracle.cascade_oracle import (
    jsx_combined,
    replay_cascade,
    single_pair_overall,
)

SCHEMA = "side string, path string, filetype string, content string"


@pytest.fixture(scope="module")
def replay():
    return replay_cascade(project_pair_rows())


@pytest.fixture(scope="module")
def files(spark):
    return spark.createDataFrame(project_pair_rows(), SCHEMA)


@pytest.fixture(scope="module")
def mwc(files):
    # materialize the cascade once for the whole module (12 grouped-map
    # stages); every aggregate test reuses it
    return C.matched_with_contents(files).localCheckpoint()


def test_match_cascade_equals_replay(spark, mwc, replay):
    got = sorted(
        (r.filetype, r.original, r.modified, r.match_type, r.score)
        for r in mwc.select("filetype", "original", "modified", "match_type", "score").collect()
    )
    assert got == sorted(replay["matched_rows"])
    # every stage fires at least once in the fixture
    assert {t for *_, t, _ in got} == {"exact", "fuzzy", "fuzzy+structure", "contextual", "content"}


def test_pair_scores_equal_replay(spark, files, mwc, replay):
    got = sorted(
        (r.filetype, r.original, r.modified, r.similarity, r.matching, r.different, r.missing, r.extra)
        for r in C.pair_scores(files, mwc).collect()
    )
    assert got == sorted(replay["pair_rows"])


def test_quirk_q12_jsx_similarity_constant(spark, files, mwc):
    jsx = C.pair_scores(files, mwc).filter(F.col("filetype") == "jsx").collect()
    assert jsx and all(r.similarity == 1.0 and r.matching == 1 for r in jsx)


def test_quirks_q9_q11_structure_only_css(spark):
    """Identical html/jsx/js content under dissimilar names must NOT
    structure-match (Q9-Q11); identical css content MUST (rule guard)."""
    html = "<html><body><div><p>same content here</p><p>more</p></div></body></html>"
    js = "function alpha(a) { return a + 1; }\nfunction beta(b) { return b; }\n"
    css = ".a { color: red; margin: 1px; } .b { color: blue; }"
    rows = [
        ("original", "x/qqq.html", "html", html),
        ("modified", "y/zzz.html", "html", html),
        ("original", "x/qqq.js", "js", js),
        ("modified", "y/zzz.js", "js", js),
        ("original", "x/qqq.jsx", "jsx", "export default () => <div/>;"),
        ("modified", "y/zzz.jsx", "jsx", "export default () => <div/>;"),
        ("original", "x/qqq.css", "css", css),
        ("modified", "y/zzz.css", "css", css),
    ]
    got = {
        (r.filetype, r.match_type)
        for r in C.match_cascade(spark.createDataFrame(rows, SCHEMA)).collect()
    }
    assert ("css", "fuzzy+structure") in got
    assert not any(ft != "css" and mt == "fuzzy+structure" for ft, mt in got)
    # and the replay agrees end-to-end
    rep = {(r[0], r[3]) for r in replay_cascade(rows)["matched_rows"]}
    assert got == rep


def test_quirk_q13_nextenv_filtered_from_unmatched(spark, files, mwc, replay):
    agg = {r.filetype: r for r in C.filetype_aggregates(files, mwc).collect()}
    # Q13 sequencing (file_matcher.py:557-576): files_unmatched is stored
    # BEFORE the next-env.d.ts filter, so BOTH js unmatched files count —
    # modified next-env.d.ts AND original scripts/build.js. The filter's
    # only observable effect is A2's denominator (the reference rebinds
    # matched_pairs locally but mutates unmatched_files in place).
    assert agg["js"].files_unmatched == replay["per_type"]["js"]["files_unmatched"] == 2
    # A2 denominator effect: the filtered variant drops next-env.d.ts
    unm_a2 = {
        r.filetype: r.files_unmatched
        for r in C._unmatched_counts(
            files, mwc, q13_filter=True
        ).collect()
    }
    assert unm_a2["js"] == 1


def test_filetype_aggregates_equal_replay(spark, files, mwc, replay):
    got = {
        r.filetype: (r.files_matched, r.files_unmatched, r.aggregate_score, r.prediction)
        for r in C.filetype_aggregates(files, mwc).collect()
    }
    for ft, v in replay["per_type"].items():
        assert got[ft] == (
            v["files_matched"], v["files_unmatched"], v["aggregate_score"], v["prediction"]
        )


def test_overall_and_rollups_equal_replay(spark, files, mwc, replay):
    row = C.overall_similarity(files, mwc=mwc).first()
    assert row.overall_similarity == round(replay["overall_similarity"], 6)
    assert row.total_files == replay["total_files"]
    assert row.prediction == replay["overall_prediction"]

    rl = {r.filetype: r for r in C.summary_rollups(files, mwc).collect()}
    for ft, v in replay["rollups"].items():
        assert (rl[ft].total_elements, rl[ft].matching, rl[ft].different,
                rl[ft].missing, rl[ft].extra) == (
            v["total"], v["matching"], v["different"], v["missing"], v["extra"])

    ja = C.js_metric_averages(files, mwc).first()
    for k, v in replay["js_avgs"].items():
        assert getattr(ja, k) == round(v, 6)


def test_tailwind_aggregate_equals_replay(spark, files, mwc, replay):
    a = C.tailwind_aggregate(files, mwc).first()
    exp = replay["tailwind_aggregate"]
    for k in ("class_similarity", "set_jaccard", "frequency_weighted_jaccard",
              "median_similarity", "percent_files_above_90", "weighted_average",
              "soft_average"):
        assert getattr(a, k) == round(exp[k], 6), k
    assert a.files_compared == exp["files_compared"]

    impact = sorted(
        (r.original, r.modified, r["class"], r.original_count, r.user_count, r.count_diff)
        for r in C.tailwind_change_impact(files, mwc).collect()
    )
    assert impact == sorted(replay["impact_rows"])


def test_a7_a8_formulas(spark):
    """A7 renormalization + A8 combine against the forensic formulas."""
    cases = [
        (0.8, 0.6, 0.4), (0.0, 0.6, 0.4), (0.8, 0.0, 0.4),
        (0.8, 0.6, 0.0), (0.0, 0.0, 0.4), (0.0, 0.0, 0.0),
    ]
    df = spark.createDataFrame(cases, "h double, j double, s double")
    got = df.select(
        "h", "j", "s",
        C.single_pair_overall_expr(F.col("h"), F.col("j"), F.col("s")).alias("o"),
        C.jsx_combined_expr(F.col("h"), F.col("j"), F.col("s")).alias("c"),
    ).collect()
    for r in got:
        assert r.o == pytest.approx(single_pair_overall(r.h, r.j, r.s), abs=1e-12)
        assert r.c == pytest.approx(jsx_combined(r.h, r.j, r.s), abs=1e-12)


def test_cascade_oracle_sql_roundtrip():
    """Pinned VALUES oracles parse and agree with the replay via duckdb."""
    import duckdb

    from web_template_forensics_spark.plans.cascade_queries import cascade_oracle_sql

    con = duckdb.connect()
    sqls = cascade_oracle_sql()
    assert len(sqls) == 15  # 14 cascade/comparator + forensic_pairs (E2)
    df = con.execute(sqls["match_cascade"]).df()
    assert len(df) == len(replay_cascade(project_pair_rows())["matched_rows"])
    assert con.execute(sqls["cascade_overall_similarity"]).df().shape == (1, 3)


def test_cascade_reports_per_pair_many_pairs(spark):
    """The many-pairs scale path: grouped-map per pair_id == per-pair
    replay, across three differently-seeded project pairs."""
    from web_template_forensics_spark.operators.cascade import cascade_reports_per_pair

    rows = []
    for pid, seed in enumerate((42, 43, 44)):
        rows += [(pid, *r) for r in project_pair_rows(seed=seed)]
    df = spark.createDataFrame(rows, "pair_id long, " + SCHEMA)
    got = {r.pair_id: r for r in cascade_reports_per_pair(df).collect()}
    assert len(got) == 3
    for pid, seed in enumerate((42, 43, 44)):
        rep = replay_cascade(project_pair_rows(seed=seed))
        r = got[pid]
        assert r.overall_similarity == rep["overall_similarity"]
        assert r.total_files == rep["total_files"]
        assert r.prediction == rep["overall_prediction"]
        assert r.html_score == rep["per_type"]["html"]["aggregate_score"]
        assert r.js_score == rep["per_type"]["js"]["aggregate_score"]
        assert r.tailwind_class_similarity == rep["tailwind_aggregate"]["class_similarity"]


def test_build_pair_files_df_distributed_matches_driver(spark):
    """The bench's distributed pair-corpus generator (sources/pairs.py):
    executor-side mapInPandas generation of pair ``pid`` must be
    byte-identical to the driver-side fixture at seed0+pid, and the
    grouped cascade over it must equal the per-pair replay."""
    from web_template_forensics_spark.operators.cascade import cascade_reports_per_pair
    from web_template_forensics_spark.sources.pairs import build_pair_files_df

    n_pairs = 12
    df = build_pair_files_df(spark, n_pairs, seed0=77, partitions=5)
    pdf = df.toPandas().sort_values(["pair_id", "side", "path"]).reset_index(drop=True)
    assert sorted(pdf.pair_id.unique()) == list(range(n_pairs))
    for pid in (0, 5, 11):
        exp = sorted(project_pair_rows(seed=77 + pid))
        got = [
            (r.side, r.path, r.filetype, r.content)
            for r in pdf[pdf.pair_id == pid].itertuples(index=False)
        ]
        assert sorted(got) == exp
    rep = {r.pair_id: r for r in cascade_reports_per_pair(df).collect()}
    for pid in (0, 11):
        exp = replay_cascade(project_pair_rows(seed=77 + pid))
        assert rep[pid].overall_similarity == exp["overall_similarity"]
        assert rep[pid].prediction == exp["overall_prediction"]
