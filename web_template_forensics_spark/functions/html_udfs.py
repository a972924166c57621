"""Arrow-batched pandas UDFs over the HTML oracle.

Every UDF here is the distributed face of a pure function in
``..oracle.html_oracle`` — the pytest suite pins byte-identical equality
between the two on the golden pages corpus. The parse itself is complex
scalar work (the reference's P1 operator, core/html_parser.py:41-138), so
a pandas UDF is the right Spark shape: one Python<->JVM crossing per Arrow
batch, parse loop in C-accelerated stdlib html.parser.
"""

from __future__ import annotations

import re
from collections import Counter

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..oracle.html_oracle import extract_text


def _decode(html: object) -> str:
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray, memoryview)):
        return bytes(html).decode("utf-8", errors="replace")
    return str(html)


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """html:binary -> oracle extracted text (the byte-identical invariant)."""
    return html.map(lambda b: extract_text(_decode(b)))


# Tailwind/utility class extraction (reference core/tailwind_analyzer.py:18-55).
# DOUBLE-quoted values only: the reference character class is ["\"] (the
# double quote twice), so className='single-quoted' yields NO classes —
# a previous [\"'] here silently extended the reference semantics.
_JSX_CLASS_RE = re.compile(r'(?:class|className)\s*=\s*"([^"]+)"')


def class_counts_from_tree(html_str: str) -> dict[str, int]:
    """HTML path: walk the FULL document tree collecting class tokens —
    the reference's soup.find_all(True) covers html/head too
    (core/tailwind_analyzer.py:18-31), so classes outside <body> count;
    the body-rooted parse_html_tree is the STRUCTURE oracle's shape, not
    this one's."""
    from ..oracle.html_oracle import _to_reference_node, parse_raw

    builder = parse_raw(html_str)
    tree = _to_reference_node(builder.document, False)
    counts: Counter[str] = Counter()
    stack = [tree] if tree else []
    while stack:
        node = stack.pop()
        if node["type"] == "element":
            for cls in node["attrs"].get("class", []) or []:
                counts[cls] += 1
            stack.extend(node["children"])
    return dict(counts)


def class_counts_from_markup(markup: str) -> dict[str, int]:
    """JSX/regex path (core/tailwind_analyzer.py:33-46)."""
    counts: Counter[str] = Counter()
    for m in _JSX_CLASS_RE.finditer(markup):
        for cls in m.group(1).split():
            counts[cls] += 1
    return dict(counts)


@F.pandas_udf(T.MapType(T.StringType(), T.IntegerType()))
def html_class_counts_udf(html: pd.Series) -> pd.Series:
    return html.map(lambda b: class_counts_from_tree(_decode(b)))


# Geo metadata: <meta name="geo.position" content="LAT;LON"> (+ ICBM).
_GEO_POS_RE = re.compile(
    r"<meta\s+name=[\"'](?:geo\.position|ICBM)[\"']\s+content=[\"']\s*"
    r"(-?\d+(?:\.\d+)?)\s*[;,]\s*(-?\d+(?:\.\d+)?)\s*[\"']",
    re.IGNORECASE,
)


def head_slice(s: pd.Series) -> pd.Series:
    """Markup slice for <head>-scoped extraction: everything before the
    first '</head>' (whole document when no close tag exists); the
    geocoder in plans/pipeline.py reads geo <meta> tags from it."""
    return s.str.split("</head>", n=1).str[0]
