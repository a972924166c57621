"""Text-pipeline operators: Gopher quality rules, repetition stats,
cross-doc span dedup, PII accounting — Column face vs the pure-Python
twin, plus envelope assertions that every rule branch actually fires.

The DuckDB faces are pinned by the correctness gate
(tests/test_oracle_full.py — doc_quality_rules, doc_repetition_stats,
window_span_dedup, pii_stats); these tests pin the SPEC itself on
crafted strings the synthetic corpus cannot produce.
"""

from __future__ import annotations

import pytest

from web_template_forensics_spark.functions.text_quality import (
    GOPHER_STOPWORDS,
    gopher_rules_py,
    pii_py,
)
from web_template_forensics_spark.plans.text_fixture import (
    PII_FIXTURE_ROWS,
    QUALITY_FIXTURE_ROWS,
    SPAN_FIXTURE_ROWS,
    fixture_df,
)

CRAFTED = [
    "",
    None,
    "   \t \n  ",
    "one",
    "the and of to is # sym... bol",
    "- bullet one\n- bullet two\nplain\n* star",
    "tail...\nkeep\nalso...",
    "mixed 123 abc42 99 zz",
    "\x0b vertical \x0b tab \x0b edges",
    "word " * 60 + "the of and",
    QUALITY_FIXTURE_ROWS[0][1],
]


@pytest.fixture(scope="module")
def quality_rows(spark):
    from web_template_forensics_spark.operators.text_pipeline import gopher_quality

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CRAFTED)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r.asDict() for r in gopher_quality(df).collect()}
    return rows


def test_gopher_column_face_matches_python_twin(quality_rows):
    for i, text in enumerate(CRAFTED):
        expect = gopher_rules_py(text)
        got = {k: v for k, v in quality_rows[i].items() if k != "doc_id"}
        assert got == expect, f"doc {i} ({text!r}): {got} != {expect}"


def test_gopher_envelope_every_rule_fires(spark):
    """Each fixture row was built to trip exactly the rule it names —
    assert the trip via the Python twin (== the Column face per the
    parity test above), so the fixture stays honest as specs evolve."""
    by_id = {i: gopher_rules_py(t) for i, t in QUALITY_FIXTURE_ROWS}
    assert by_id[1000000]["gopher_keep"] == 1  # the pass-all row
    assert by_id[1000000]["n_words"] >= 50
    assert by_id[1000000]["stopword_kinds"] >= 2
    assert by_id[1000001]["n_words"] < 50
    assert by_id[1000002]["bullet_line_frac"] == 0.8  # 4 of 5 lines
    assert by_id[1000003]["ellipsis_line_frac"] == 0.5
    assert by_id[1000004]["symbol_ratio"] >= 0.1
    assert by_id[1000005]["alpha_word_frac"] == 0.0
    assert by_id[1000006]["mean_word_len"] > 10.0
    assert by_id[1000007]["mean_word_len"] < 3.0
    assert by_id[1000008] == {
        "n_words": 0,
        "mean_word_len": 0.0,
        "alpha_word_frac": 0.0,
        "stopword_kinds": 0,
        "symbol_ratio": 0.0,
        "bullet_line_frac": 0.0,
        "ellipsis_line_frac": 0.0,
        "gopher_keep": 0,
    }
    assert by_id[1000009]["bullet_line_frac"] == 0.5  # '* ' form counts
    # exactly one keep among the fixture rows
    assert sum(v["gopher_keep"] for v in by_id.values()) == 1


def test_stopword_set_is_gopher_table_a1():
    assert GOPHER_STOPWORDS == ("the", "be", "to", "of", "and", "that", "have", "with")


def test_pii_column_face_matches_python_twin(spark):
    from web_template_forensics_spark.operators.text_pipeline import pii_stats

    texts = [t for _, t in PII_FIXTURE_ROWS] + CRAFTED[:5]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r.asDict() for r in pii_stats(df).collect()}
    for i, text in enumerate(texts):
        expect = pii_py(text)
        got = {k: v for k, v in rows[i].items() if k != "doc_id"}
        assert got == expect, f"doc {i} ({text!r})"


def test_pii_envelope():
    by_id = {i: pii_py(t) for i, t in PII_FIXTURE_ROWS}
    assert by_id[1000100]["email_count"] == 2
    assert by_id[1000101]["ipv4_count"] == 2
    assert by_id[1000102]["phone_count"] == 2
    assert (
        by_id[1000103]["email_count"],
        by_id[1000103]["ipv4_count"],
        by_id[1000103]["phone_count"],
    ) == (1, 1, 2)
    # replacement-order row: the dotted host is consumed by the EMAIL
    # match; only the standalone 8.8.8.8 remains an IP in the REDACTED
    # text (counts run on the raw text, where both IPv4 shapes appear)
    import re

    from web_template_forensics_spark.functions.text_quality import PII_REPLACEMENTS

    red = PII_FIXTURE_ROWS[4][1]
    for pat, token in PII_REPLACEMENTS:
        red = re.sub(pat, token, red)
    assert red == "<EMAIL> plus a bare <IP>"
    assert by_id[1000105]["email_count"] == 0
    assert by_id[1000106]["email_count"] == 0


def test_repetition_stats_exact_values(spark):
    from web_template_forensics_spark.operators.text_pipeline import repetition_stats

    rows = [
        (0, "a b a b a b"),  # top2gram 'a b' x3 (overlap counts), clen=11
        (1, "x y z"),  # no 5-grams -> dup5 = 0.0
        (2, "w w w w w w w w w w"),  # every 5-gram identical
        (3, ""),  # nothing at all
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}
    # doc 0: 2-grams at 5 positions: 'a b','b a','a b','b a','a b' ->
    # top 'a b' cnt 3, len 3, clen 11 -> 9/11
    assert got[0]["top2gram_frac"] == round(9 / 11, 6)
    # dup mass: all 5 positions duplicated -> 1.0
    assert got[0]["dup5gram_frac"] == 0.0  # only 2 5-gram positions, distinct
    assert got[1]["dup5gram_frac"] == 0.0 and got[1]["dup10gram_frac"] == 0.0
    assert got[2]["dup5gram_frac"] == 1.0
    # 'w w' x9, len 3, clen 19 -> 27/19 > 1 under overlap -> capped
    assert got[2]["top2gram_frac"] == 1.0
    assert got[3] == {
        "doc_id": 3,
        "top2gram_frac": 0.0,
        "top3gram_frac": 0.0,
        "dup5gram_frac": 0.0,
        "dup10gram_frac": 0.0,
    }


def test_window_span_dedup_fixture_geometry(spark):
    """The crafted span fixture: A(1000200) and B(1000201) share the
    16-word run R at stride-aligned offsets -> 3 shared window hashes;
    D(1000203) is an exact copy of A -> all of A's windows duplicated;
    C unrelated; E too short to shingle."""
    from web_template_forensics_spark.operators.text_pipeline import window_span_dedup

    out = {
        r["doc_id"]: r.asDict()
        for r in window_span_dedup(fixture_df(spark, SPAN_FIXTURE_ROWS)).collect()
    }
    a, b, c, d, e = (out[1000200 + i] for i in range(5))
    # A: 24 words -> windows at 1,5,9,13,17 = 5; all 5 dup'd (D copies A;
    # windows 1,5,9 additionally shared with B)
    assert (a["n_windows"], a["dup_windows"], a["dup_frac"]) == (5, 5, 1.0)
    assert (d["n_windows"], d["dup_windows"], d["dup_frac"]) == (5, 5, 1.0)
    # B: 22 words -> windows at 1,5,9,13 = 4; positions 5,9,13 carry
    # R-words 1-8/5-12/9-16 == A's windows at 1/5/9
    assert (b["n_windows"], b["dup_windows"], b["dup_frac"]) == (4, 3, 0.75)
    assert (c["dup_windows"], c["dup_frac"]) == (0, 0.0)
    assert (e["n_windows"], e["dup_windows"], e["dup_frac"]) == (0, 0, 0.0)


def test_decontamination_fixture_hits(spark):
    from web_template_forensics_spark.plans.queries import q_benchmark_decontamination

    rows = {
        r["doc_id"]: r
        for r in q_benchmark_decontamination(spark, "/root/testdata/sf0.001").collect()
    }
    # A, B, D each contain the eval doc's three 8-grams exactly once, at
    # different window offsets (stride-1 any-alignment rule)
    for did in (1000200, 1000201, 1000203):
        assert rows[did]["n_hits"] == 3 and rows[did]["contaminated"] == 1
    assert rows[1000202]["contaminated"] == 0  # unrelated words
    assert rows[1000204]["n_windows"] == 0     # too short to shingle
    # the word-soup corpus must be clean
    real = [r for d, r in rows.items() if d < 1000000]
    assert real and all(r["contaminated"] == 0 for r in real)


def test_redaction_surgery(spark):
    import hashlib

    from web_template_forensics_spark.plans.queries import q_decontaminate_redacted
    from web_template_forensics_spark.plans.text_fixture import (
        EVAL_FIXTURE_ROWS,
        SPAN_FIXTURE_ROWS,
    )

    rows = {
        r["doc_id"]: r
        for r in q_decontaminate_redacted(spark, "/root/testdata/sf0.001").collect()
    }

    # Python twin over the fixture: remove words covered by any 8-gram
    # shared with the eval set, at every alignment
    eval_grams = set()
    for _, text in EVAL_FIXTURE_ROWS:
        w = text.split()
        for i in range(len(w) - 7):
            eval_grams.add(" ".join(w[i : i + 8]))
    for did, text in SPAN_FIXTURE_ROWS:
        w = text.split()
        covered = set()
        for i in range(len(w) - 7):
            if " ".join(w[i : i + 8]) in eval_grams:
                covered.update(range(i, i + 8))
        clean = " ".join(x for j, x in enumerate(w) if j not in covered)
        r = rows[did]
        assert r["n_words"] == len(w)
        assert r["n_removed"] == len(covered)
        assert r["clean_md5"] == hashlib.md5(clean.encode()).hexdigest()
    # contaminated docs lose exactly the shared 10-word run
    assert rows[1000200]["n_removed"] == 10
    assert rows[1000203]["n_removed"] == 10
    assert rows[1000202]["n_removed"] == 0


def test_unigram_logprob_semantics(spark):
    import math

    from web_template_forensics_spark.operators.text_pipeline import unigram_logprob

    docs = [(1, "a a b"), (2, "a c"), (3, "")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    # corpus: a=3, b=1, c=1, total=5
    lp = {t: round(math.log(c / 5), 9) for t, c in (("a", 3), ("b", 1), ("c", 1))}
    assert rows[1]["n_tokens"] == 3
    assert rows[1]["mean_logprob"] == round((2 * lp["a"] + lp["b"]) / 3, 6)
    assert rows[2]["mean_logprob"] == round((lp["a"] + lp["c"]) / 2, 6)
    assert rows[3]["n_tokens"] == 0 and rows[3]["mean_logprob"] == 0.0
    # the common-token doc scores higher than the rare-token doc
    assert rows[1]["mean_logprob"] > rows[2]["mean_logprob"]


def test_self_dedup_surgery(spark):
    import hashlib

    from web_template_forensics_spark.plans.queries import q_self_dedup_redacted
    from web_template_forensics_spark.plans.text_fixture import SPAN_FIXTURE_ROWS

    rows = {
        r["doc_id"]: r
        for r in q_self_dedup_redacted(spark, "/root/testdata/sf0.001").collect()
    }
    texts = dict(SPAN_FIXTURE_ROWS)
    # A (1000200) is the canonical keeper: its text survives untouched
    a = rows[1000200]
    assert a["n_removed"] == 0
    assert a["clean_md5"] == hashlib.md5(texts[1000200].encode()).hexdigest()
    # D (1000203) is an exact copy of A: every window duplicated, FULL
    # removal — clean text is empty (pins the DuckDB array_to_string([])
    # NULL-vs-'' trap in the oracle face)
    d = rows[1000203]
    assert d["n_removed"] == d["n_words"] == 24
    assert d["clean_md5"] == hashlib.md5(b"").hexdigest()
    # B (1000201) shares the 16-word run at stride-aligned offset 5:
    # its windows at 5/9/13 are duplicated -> words 5..20 removed
    b = rows[1000201]
    assert b["n_removed"] == 16
    bw = texts[1000201].split()
    clean_b = " ".join(w for i, w in enumerate(bw) if not (4 <= i <= 19))
    assert b["clean_md5"] == hashlib.md5(clean_b.encode()).hexdigest()
    # C unrelated: untouched
    assert rows[1000202]["n_removed"] == 0
