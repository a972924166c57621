"""Pairwise-comparator UDFs (the reference's C-operators as Arrow batches).

Each wraps a pure function from ``..oracle.similarity`` so scores are
bit-identical to the reference formulas (SURVEY.md §2.4). These run per
candidate PAIR — the engine always prunes candidates with cheap signatures
or LSH buckets first so the quadratic reference loops become bounded
equi-join fan-outs (SURVEY.md §4.2 "candidate pruning").
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..oracle.similarity import seq_ratio


@F.pandas_udf(T.DoubleType())
def seq_ratio_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """difflib ratio (reference core/structure_comparator.py:327-329)."""
    return pd.Series(
        [seq_ratio("" if x is None else x, "" if y is None else y) for x, y in zip(a, b)]
    )


def _structure_size(filetype: str, content: str) -> int:
    """Total structural-node count per filetype — the blocking size for
    the capable-J3 band prefilter. Counts the SAME trees the comparator
    walks (so the ratio argument in structure_match_scores holds)."""
    content = content or ""
    if filetype == "css":
        return content.count("{")
    if filetype == "html":
        from ..oracle.html_oracle import parse_html_tree

        root = parse_html_tree(content)
    elif filetype == "jsx":
        from ..oracle.jsx_treesitter import parse_jsx_or_fallback

        root = parse_jsx_or_fallback(content).get("ast")
    else:
        from ..oracle.js_oracle import parse_js

        root = parse_js(content).get("ast")
    n, stack = 0, [root] if root else []
    while stack:
        node = stack.pop()
        n += 1
        stack.extend(node.get("children", []) or [])
    return n


@F.pandas_udf(T.IntegerType())
def structure_size_udf(filetype: pd.Series, content: pd.Series) -> pd.Series:
    return pd.Series(
        [_structure_size(ft, c) for ft, c in zip(filetype, content)], dtype="int32"
    )


@F.pandas_udf(T.DoubleType())
def guarded_structure_score_udf(filetype: pd.Series, c1: pd.Series, c2: pd.Series) -> pd.Series:
    """Capable J3 pair score (node-count guard + structure comparator) —
    the quirk-free engine extension; see cascade_oracle.guarded_structure_score."""
    from ..oracle.cascade_oracle import guarded_structure_score

    return pd.Series(
        [guarded_structure_score(ft, a or "", b or "") for ft, a, b in zip(filetype, c1, c2)]
    )
