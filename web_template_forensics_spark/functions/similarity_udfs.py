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
