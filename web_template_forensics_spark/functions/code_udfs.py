"""Code-analysis UDFs: the tree-sitter JSX parse (P2) and the E2
single-pair analysis as Arrow batches over the from-scratch oracles."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_PARSE_JSX_SCHEMA = T.StructType(
    [
        T.StructField("ast_json", T.StringType()),
        T.StructField(
            "edges",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("caller", T.StringType()),
                        T.StructField("callee", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("n_functions", T.IntegerType()),
    ]
)


@F.pandas_udf(_PARSE_JSX_SCHEMA)
def parse_jsx_udf(code: pd.Series) -> pd.DataFrame:
    """P2: tree-sitter JSX/TSX -> normalized-AST JSON + call-graph edge
    rows, Arrow-batched (falls back to the regex parser without the
    binary stack — oracle/jsx_treesitter.py)."""
    import json as _json

    from ..oracle.forensic_oracle import _extract_functions
    from ..oracle.jsx_treesitter import parse_jsx_or_fallback

    rows = []
    for c in code:
        p = parse_jsx_or_fallback(c or "")
        edges = [
            {"caller": a, "callee": b}
            for a, bs in sorted(p["call_graph"].items())
            for b in bs
        ]
        rows.append(
            (
                _json.dumps(p["ast"], sort_keys=True, separators=(",", ":")),
                edges,
                len(_extract_functions(p["ast"])),
            )
        )
    return pd.DataFrame(rows, columns=["ast_json", "edges", "n_functions"])


_ANALYZE_SCHEMA = T.StructType(
    [
        T.StructField("html_similarity", T.DoubleType()),
        T.StructField("jsx_structure_similarity", T.DoubleType()),
        T.StructField("jsx_callgraph_similarity", T.DoubleType()),
        T.StructField("jsx_body_similarity", T.DoubleType()),
        T.StructField("jsx_similarity", T.DoubleType()),
        T.StructField("js_similarity", T.DoubleType()),
        T.StructField("overall_similarity", T.DoubleType()),
    ]
)


@F.pandas_udf(_ANALYZE_SCHEMA)
def analyze_templates_udf(
    html1: pd.Series, html2: pd.Series,
    jsx1: pd.Series, jsx2: pd.Series,
    js1: pd.Series, js2: pd.Series,
) -> pd.DataFrame:
    """E2 single-pair analysis (forensic_analyzer.py:60-143) incl. the
    A7 renormalized overall and A8 jsx combine; None columns = side
    absent (scored 0.0 and dropped from the A7 weights)."""
    from ..oracle.forensic_oracle import analyze_pair

    rows = []
    for h1, h2, x1, x2, s1, s2 in zip(html1, html2, jsx1, jsx2, js1, js2):
        r = analyze_pair(h1, h2, x1, x2, s1, s2)
        rows.append(tuple(r[f.name] for f in _ANALYZE_SCHEMA.fields))
    return pd.DataFrame(rows, columns=[f.name for f in _ANALYZE_SCHEMA.fields])
