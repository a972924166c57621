"""Full-surface oracle gate (r5 verdict ask #3).

The driver's per-round correctness gate caps at 50 rows, so green queries
rotate out as the surface grows; this module is the self-serve
replacement: EVERY ``queries()`` entry runs on Spark and, where an
``oracle_sql()`` twin exists, compares row count, column names, and
exact cell values against DuckDB over the same parquet — one pytest per
query, so a regression names the query that broke.

Opt-in (same env-gate pattern as the live-reference parity tests): the
full drive costs ~10 min of Spark wall, so it is not part of the default
suite. Documented invocation (README / per-round evidence):

    SPARK_GRAFT_ORACLE_FULL=1 python -m pytest tests/test_oracle_full.py -q

sf dir defaults to /root/testdata/sf0.01 (the driver gate's scale);
override with SPARK_GRAFT_ORACLE_SF_DIR.
"""

from __future__ import annotations

import os
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_ORACLE_FULL") != "1",
    reason="full-surface oracle gate is opt-in: SPARK_GRAFT_ORACLE_FULL=1",
)


def _query_names() -> list[str]:
    import __spark_entry__ as entrymod

    return sorted(entrymod.queries())


@pytest.fixture(scope="module")
def gate():
    import __spark_entry__ as entrymod
    from tools.compare_oracle import duck_con

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    return {
        "sf_dir": sf_dir,
        "queries": entrymod.queries(),
        "oracles": entrymod.oracle_sql(),
        "con": duck_con(sf_dir),
    }


@pytest.mark.parametrize("name", _query_names())
def test_query_matches_oracle(name: str, spark, gate) -> None:
    from tools.compare_oracle import compare

    sdf = gate["queries"][name](spark, gate["sf_dir"]).toPandas()
    sql = gate["oracles"].get(name)
    if sql is None:
        # non-SQL-expressible op: the driver records a weaker rows-only
        # check; mirror that here (runs, yields rows, stable columns)
        assert len(sdf.columns) > 0
        assert len(sdf) >= 0
        return
    ddf = gate["con"].sql(sql).df()
    problems = compare(sdf, ddf)
    assert not problems, f"{name}: " + "; ".join(problems)
