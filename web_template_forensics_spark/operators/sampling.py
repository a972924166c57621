"""Deterministic hash-based sampling — the rebalancing step of a
training-data pipeline (per-language/source quotas, corpus downscaling)
that must be REPRODUCIBLE: the same row set on every run, every
executor count, every engine, with no RNG state anywhere.

Mechanism: u = first 8 bytes of md5(key || ':' || salt) read big-endian
as an unsigned 64-bit integer; keep iff u < floor(fraction * 2^64).
The threshold is computed ONCE in Python as an exact integer and
injected as a literal into both faces, so there is no float division
or rounding anywhere near the keep decision — the comparison is
integer-vs-integer in Spark (decimal(20,0)) and DuckDB (UBIGINT) alike
(md5 rather than xxhash64 because DuckDB recomputes it bit-identically:
``('0x' || substr(md5(k), 1, 16))::UBIGINT`` — the same recipe
functions/text_udfs.py uses for token hashing).

100 TB shape: a pure scalar predicate on the scan — no shuffle, no
driver state, pushes down next to the parquet reader; per-stratum
fractions resolve through a literal CASE/map, never a join.

Reference parity: no sampling surface exists in the reference
(SURVEY.md §2 — LLM-pipeline graft component).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_U64 = 1 << 64
# one home for the values both faces read: the Spark operator and its
# DuckDB twin must hash the same key with the same salt
_STRATUM = "lang"
_KEY = "doc_id"
_SALT = "sample_v1"
_WSALT = "wsample_v1"


def _threshold(fraction: float) -> int:
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction {fraction} outside [0, 1]")
    return min(int(fraction * _U64), _U64 - 1)


def _hash_u64_col(key: Column, salt: str) -> Column:
    """First-8-md5-bytes unsigned value as decimal(20,0)."""
    hx = F.substring(F.md5(F.concat(key.cast("string"), F.lit(":" + salt))), 1, 16)
    return F.conv(hx, 16, 10).cast("decimal(20,0)")


def _hash_u64_sql(key_expr: str, salt: str) -> str:
    return (
        f"('0x' || substr(md5(cast({key_expr} as varchar) || ':{salt}'), 1, 16))::UBIGINT"
    )


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    salt: str = _SALT,
) -> DataFrame:
    """Keep each row iff hash(key, salt) clears its stratum's exact
    integer threshold. Strata absent from ``fractions`` are DROPPED
    (fraction 0) — quotas are an allowlist. Returns the input columns
    unchanged; chain ``.select`` for projection."""
    expr: Column = F.lit(None).cast("decimal(20,0)")
    thr = F.lit(0).cast("decimal(20,0)")
    mapping = [
        (stratum, F.lit(str(_threshold(frac))).cast("decimal(20,0)"))
        for stratum, frac in sorted(fractions.items())
    ]
    for stratum, t in mapping:
        thr = F.when(F.col(_STRATUM) == stratum, t).otherwise(thr)
    return df.filter(_hash_u64_col(F.col(_KEY), salt) < thr)


def stratified_sample_sql(
    table: str,
    fractions: dict[str, float],
    select: str = "*",
) -> str:
    cases = " ".join(
        f"WHEN '{stratum}' THEN {_threshold(frac)}::UBIGINT"
        for stratum, frac in sorted(fractions.items())
    )
    return (
        f"SELECT {select} FROM {table} WHERE {_hash_u64_sql(_KEY, _SALT)}"
        f" < (CASE {_STRATUM} {cases} ELSE 0::UBIGINT END)"
    )


def weighted_sample_per_stratum(
    df: DataFrame,
    n: int,
    weight_col: str,
    salt: str = _WSALT,
) -> DataFrame:
    """EXACT-size weighted sampling without replacement, per stratum —
    the Efraimidis-Spirakis A-Res scheme made deterministic: each row
    draws u in (0, 1] from the same md5 hash ``stratified_sample``
    uses, and the top ``n`` rows per stratum by the key ln(u) / w win
    (equivalent ordering to the classic u^(1/w) — larger weight pulls
    the negative key toward zero). Hash-threshold sampling cannot
    produce fixed-size samples; this is the complementary primitive
    (quota sampling per language, weighted by document length or
    quality score).

    Determinism: u is exact (integer hash / 2^64), the key is
    quantized at 1e-9 (ln is the only transcendental) and ties break
    on the id, so both engines pick identical winners. Rows with
    weight <= 0 never win (key -infinity stand-in: excluded up front).

    100 TB shape: one scan + a per-stratum top-n window (Spark runs
    rank-limited windows with partial top-n pushdown; strata are the
    partition keys, so no global sort)."""
    from pyspark.sql import Window

    u = (_hash_u64_col(F.col(_KEY), salt) + F.lit(1)).cast("double") / F.lit(
        float(_U64)
    )
    key = F.round(F.log(u) / F.col(weight_col).cast("double"), 9)
    w = Window.partitionBy(_STRATUM).orderBy(F.col("_skey").desc(), F.col(_KEY).asc())
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("_skey", key)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_skey", "_rn")
    )


def weighted_sample_per_stratum_sql(
    table: str,
    n: int,
    weight_col: str,
    select: str = "*",
) -> str:
    u = f"(cast({_hash_u64_sql(_KEY, _WSALT)} as double) + 1) / {float(_U64)!r}"
    key = f"round(ln({u}) / cast({weight_col} as double), 9)"
    return f"""
SELECT {select} FROM (
  SELECT *, row_number() OVER (
    PARTITION BY {_STRATUM}
    ORDER BY {key} DESC, {_KEY} ASC) AS _rn
  FROM {table} WHERE {weight_col} > 0)
WHERE _rn <= {n}
"""
