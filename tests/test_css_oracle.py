"""CSS oracle tests: ports of the reference's tests/css_style_checker_test.py
plus engine-specific additions (vars, keyframes, supports, nesting)."""

from web_template_forensics_spark.oracle.css_oracle import (
    compare_css,
    normalize_css_value,
    normalize_value,
    parse_css,
    resolve_vars,
)


def test_selector_and_property_extraction():  # ref :7-14
    rules, *_ = parse_css(".foo { color: #fff; margin: 0; } .bar { padding: 1rem; }")
    assert rules[".foo"]["color"][0] == "#fff"
    assert rules[".bar"]["padding"][0] == "1rem"


def test_color_normalization_identical():  # ref :16-21
    assert compare_css(".foo { color: #fff; }", ".foo { color: #ffffff; }")["css_similarity"] == 1.0


def test_missing_and_extra_selector():  # ref :23-44
    r = compare_css(".foo { color: #fff; } .bar { margin: 0; }", ".foo { color: #fff; }")
    assert r["css_similarity"] < 1.0 and r["missing_selectors"] == 1
    r2 = compare_css(".foo { color: #fff; }", ".foo { color: #fff; } .bar { margin: 0; }")
    assert r2["css_similarity"] < 1.0 and r2["extra_selectors"] == 1


def test_partial_property_match():  # ref :46-51
    r = compare_css(".foo { color: #fff; margin: 0; }", ".foo { color: #fff; padding: 1rem; }")
    assert 0 < r["css_similarity"] < 1.0
    # sim = 1/3 -> partial credit 0.33/1 -> rounded 0.33
    assert r["css_similarity"] == 0.33


def test_media_queries_identical():  # ref :60-67
    css = "@media (min-width: 600px) { .foo { color: red; } }"
    r = compare_css(css, css)
    assert r["css_similarity"] == 1.0
    assert r["media_queries"]["(min-width: 600px)"]["similarity"] == 1.0


def test_comments_whitespace_order_duplicates():  # ref :69-101
    assert compare_css(".foo { color: #fff; } /* c */", ".foo { color: #fff; }")["css_similarity"] == 1.0
    assert compare_css(".foo{color:#fff;}", ".foo { color: #fff; }")["css_similarity"] == 1.0
    assert compare_css(".a {x:1;} .b {y:2;}", ".b {y:2;} .a {x:1;}")["css_similarity"] == 1.0
    assert compare_css(".foo {}", ".foo {}")["css_similarity"] == 1.0
    assert (
        compare_css(".foo { color: #fff; } .foo { margin: 0; }", ".foo { color: #fff; margin: 0; }")["css_similarity"]
        == 1.0
    )


def test_at_import_ignored_and_invalid_tolerated():  # ref :103-122
    assert compare_css("@import url('a.css'); .foo { color: #fff; }", ".foo { color: #fff; }")["css_similarity"] == 1.0
    assert compare_css(".foo { color: }", ".foo { color: #fff; }")["css_similarity"] <= 1.0
    assert compare_css("", ".foo { }")["css_similarity"] <= 1.0


def test_root_vars_resolution_with_fallback_and_cycle():
    rv = {"--a": "#fff", "--b": "var(--a)", "--x": "var(--x)"}
    assert resolve_vars("var(--a)", rv) == "#fff"
    assert resolve_vars("var(--b)", rv) == "#fff"
    assert resolve_vars("var(--missing, red)", rv) == "red"
    assert resolve_vars("var(--x)", rv) == "var(--x)"  # cycle guard
    r = compare_css(
        ":root { --c: #fff; } .foo { color: var(--c); }",
        ".foo { color: #ffffff; }",
    )
    # shared selector .foo matches after var resolution; :root is missing
    assert r["matching_selectors"] == 1 and r["missing_selectors"] == 1


def test_keyframes_and_supports():
    css1 = "@keyframes spin { from { transform: rotate(0deg); } to { transform: rotate(360deg); } }"
    css2 = "@keyframes spin { from { transform: rotate(0deg); } to { transform: rotate(180deg); } }"
    r = compare_css(css1, css2)
    assert r["keyframes"]["matching_keyframes"] == 1
    assert r["keyframes"]["different_keyframes"] == 1
    s = compare_css(
        "@supports (display: grid) { .g { display: grid; } }",
        "@supports (display: grid) { .g { display: grid; } }",
    )
    assert s["supports"]["matching_supports"] == 1


def test_nested_media_in_supports():
    css = "@supports (display:grid) { @media (min-width:600px) { .x { color: red; } } }"
    rules, media, kf, sup, rv = parse_css(css)
    assert "(min-width:600px)" in media
    assert ".x" in media["(min-width:600px)"]


def test_px_normalization_quirk():
    # normalize_css_value drops the px unit: '10px' -> '10.0' (quirk)
    assert normalize_css_value("10px") == "10.0"
    assert normalize_css_value("10.0px") == "10.0"
    assert compare_css(".a { width: 10px; }", ".a { width: 10.0px; }")["css_similarity"] == 1.0
    # normalize_value (keyframes side) keeps units: 10px == 10.0px
    assert normalize_value("10px") == normalize_value("10.0px") == "10px"


def test_important_flag():
    rules, *_ = parse_css(".a { color: red !important; }")
    assert rules[".a"]["color"] == ("red", True)

