"""P2 parity: our from-scratch tree-sitter normalization must be
node-for-node identical to the reference parser on the same sources,
including its quirks (raw-name callees resolved pre-normalization,
byte-offset text slices on str)."""

import json
import os
import sys
import tempfile

import pytest

from web_template_forensics_spark.oracle.jsx_treesitter import (
    HAS_TREE_SITTER,
    parse_jsx,
    parse_jsx_or_fallback,
)

pytestmark = pytest.mark.skipif(
    not HAS_TREE_SITTER, reason="tree-sitter binary stack unavailable"
)

# the reference's own jsx test fixtures (tests/jsx_analyzer_test.py) plus
# corners: nested funcs, member calls, fragments, unicode, malformed jsx
SNIPPETS = [
    '<div className="container"><h1>Hello</h1></div>',
    'export default function App() { return <div className="x">hi</div>; }',
    "const f = (a) => { g(a); return a + 1; };\nfunction g(x) { return x * 2; }",
    'class C { render() { return <span style={{backgroundColor: "red"}}>{this.props.v}</span>; } }',
    'import React from "react";\nconst App = () => (<><p>frag</p><p>two</p></>);\nexport default App;',
    "function outer() { function inner() { helper(); } inner(); obj.method(1, true); }",
    'let x = 42; let s = "str"; let t = `tmpl ${x}`; const b = false;',
    "const broken = <div <span>oops</div>;",
    'function uni() { return "héllo wörld ünïcode"; }',
    "",
    "function selfcall() { selfcall(); }",
]


@pytest.fixture(scope="module")
def reference_parser():
    from conftest import reference_execution_enabled

    if not reference_execution_enabled():
        pytest.skip(
            "live-reference execution is opt-in (untrusted checkout): "
            "set SPARK_GRAFT_REF_PARITY=1"
        )
    sys.path.insert(0, "/root/reference")
    try:
        import importlib

        yield importlib.import_module("core.jsx_treesitter_parser")
    finally:
        sys.path.remove("/root/reference")


@pytest.mark.parametrize("idx", range(len(SNIPPETS)))
def test_ast_and_callgraph_node_for_node(reference_parser, idx):
    code = SNIPPETS[idx]
    with tempfile.NamedTemporaryFile("w", suffix=".jsx", delete=False) as f:
        f.write(code)
        path = f.name
    try:
        exp = reference_parser.parse_jsx_with_treesitter(path)
    finally:
        os.unlink(path)
    got = parse_jsx(code)
    assert got["ast"] == exp["ast"], json.dumps(got["ast"])[:400]
    # the reference emits set-iteration-ordered lists; compare as sets
    assert {k: set(v) for k, v in got["call_graph"].items()} == {
        k: set(v) for k, v in exp["call_graph"].items()
    }


def test_callee_raw_name_quirk():
    """A function first referenced at its own call site keeps its RAW
    name in the edge (id_map lookup happens before normalization)."""
    got = parse_jsx("function a() { zzz(); }\nfunction zzz() {}")
    assert got["call_graph"]["a"] == ["zzz"]  # raw, not idN
    # but a callee whose identifier was normalized earlier IS mapped
    got2 = parse_jsx("let b = 1; function a() { b(); }")
    assert got2["call_graph"]["a"] == ["id0"]


def test_fallback_contract():
    out = parse_jsx_or_fallback("function f() { return 1; }")
    assert set(out) == {"ast", "call_graph"}

