"""Text-analysis operators for the training-data pipeline surface.

Language-ID, quality scoring, token counting, fingerprinting, MinHash /
SimHash signatures. Two tiers:

  * **Exactly-specified, SQL-expressible rules** (lang-ID, quality score,
    token count): implemented as pure Spark SQL Column builders (JVM-side,
    whole-stage-codegen) AND as generated ANSI-SQL strings so the DuckDB
    oracle recomputes identical values. No UDF in the hot path at all.
  * **Signature UDFs** (MinHash, SimHash, rolling-hash fingerprint): numpy
    inside Arrow batches; validated against pure-Python reference
    implementations in pytest (not SQL-expressible — the driver records
    the weaker rows-only check for queries built on them).
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Exactly-specified rules (shared spec for Spark + DuckDB)
# --------------------------------------------------------------------------

# tiny per-language stopword markers; counts decide lang (ties -> 'und',
# then alphabetical lang order as secondary tiebreak)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "nicht", "das"),
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "que", "los", "una"),
    "fr": ("le", "la", "les", "et", "une"),
    "pt": ("o", "de", "que", "em", "uma"),
}


def _count_token_occurrences_col(text: Column, token: str) -> Column:
    """Occurrences of ' token ' in ' '||text||' ' via length/replace —
    identical integer semantics in Spark and DuckDB."""
    padded = F.concat(F.lit(" "), F.coalesce(text, F.lit("")), F.lit(" "))
    pat = f" {token} "
    return (
        (F.length(padded) - F.length(F.regexp_replace(padded, F.lit(pat), F.lit(""))))
        / F.lit(len(pat))
    ).cast("long")


def _count_token_occurrences_sql(text_expr: str, token: str) -> str:
    pat = f" {token} "
    padded = f"(' ' || coalesce(({text_expr}), '') || ' ')"
    return f"cast((length({padded}) - length(replace({padded}, '{pat}', ''))) / {len(pat)} as bigint)"


def lang_score_col(text: Column, lang: str) -> Column:
    s = None
    for tok in LANG_MARKERS[lang]:
        c = _count_token_occurrences_col(text, tok)
        s = c if s is None else s + c
    return s


def lang_id_col(text: Column) -> Column:
    """Winner lang by marker count; 'und' when all zero; alphabetical tiebreak."""
    langs = sorted(LANG_MARKERS)
    scores = {lg: lang_score_col(text, lg) for lg in langs}
    best = None
    for lg in langs:
        best = scores[lg] if best is None else F.greatest(best, scores[lg])
    result = F.lit("und")
    for lg in reversed(langs):  # earlier alphabetical wins ties -> apply last
        result = F.when((scores[lg] == best) & (best > 0), F.lit(lg)).otherwise(result)
    return result


def lang_id_sql(text_expr: str) -> str:
    langs = sorted(LANG_MARKERS)
    score_exprs = {
        lg: "(" + " + ".join(_count_token_occurrences_sql(text_expr, t) for t in LANG_MARKERS[lg]) + ")"
        for lg in langs
    }
    best = "greatest(" + ", ".join(score_exprs[lg] for lg in langs) + ")"
    case = "CASE "
    for lg in langs:
        case += f"WHEN {score_exprs[lg]} = {best} AND {best} > 0 THEN '{lg}' "
    case += "ELSE 'und' END"
    return case


def token_count_col(text: Column) -> Column:
    """Whitespace token count: length-diff trick (no regex edge cases).

    tokens = chars - spaces_after_collapse... we instead count transitions:
    size(split) differs between engines on empty strings, so use:
    number of non-space runs = count of positions where a non-space follows
    a space in ' '||text. Computed as length(regexp-collapse) arithmetic.
    """
    # coalesce: the pandas-UDF faces fillna('') and return 0 for null
    # text; the Column/SQL faces must agree, not propagate NULL
    padded = F.concat(F.lit(" "), F.coalesce(text, F.lit("")))
    # collapse runs of whitespace to single ' ', then count remaining spaces
    collapsed = F.regexp_replace(padded, F.lit(ASCII_WS_REGEX), F.lit(" "))
    trimmed = F.rtrim(collapsed)
    return (
        F.length(trimmed) - F.length(F.regexp_replace(trimmed, F.lit(" "), F.lit("")))
    ).cast("long")


def token_count_sql(text_expr: str) -> str:
    padded = f"(' ' || coalesce(({text_expr}), ''))"
    collapsed = f"regexp_replace({padded}, '{ASCII_WS_REGEX}', ' ', 'g')"
    trimmed = f"rtrim({collapsed})"
    return f"cast(length({trimmed}) - length(replace({trimmed}, ' ', '')) as bigint)"


# BPE-ish pre-tokenizer count (GPT-2-style, simplified to a
# lookaround-free ASCII spec so all three faces — Java regex in Spark,
# RE2 in DuckDB, Python re — count identically; RE2 has no lookahead, so
# the GPT-2 trailing-space trick is out of spec by design). One token
# per: contraction suffix ('s 't 're 've 'm 'll 'd), letter run, digit
# run, punctuation run (apostrophe split out so stray quotes stand
# alone). Whitespace separates and is never counted. Escapes are left
# to each engine's regex parser (the pattern is a raw string), which
# keeps the SQL literal printable.
# \x0B, not \v: inside a Java-regex character class \v means the
# vertical-whitespace CLASS (\n \x0B \f \r U+0085 U+2028 U+2029), which
# would silently desync the Spark face from Python/RE2 on NEL and the
# Unicode line separators. \x0B is the single char in all three engines.
BPE_TOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^ \t\n\r\x0B\fA-Za-z0-9']+|'"
)


def bpe_token_count_col(text: Column) -> Column:
    """BPE-ish token count, pure codegen (regexp_count, zero Python)."""
    return F.regexp_count(
        F.coalesce(text, F.lit("")), F.lit(BPE_TOKEN_PATTERN)
    ).cast("long")


def bpe_token_count_sql(text_expr: str) -> str:
    pat = BPE_TOKEN_PATTERN.replace("'", "''")
    return (
        f"cast(len(regexp_extract_all(coalesce(({text_expr}), ''), "
        f"'{pat}')) as bigint)"
    )


def quality_score_col(text: Column) -> Column:
    """Deterministic quality heuristic (documented spec; same in SQL):
    0.3*min(1, tokens/64) + 0.4*alpha_ratio + 0.3*min(1, chars/512), round 6."""
    text = F.coalesce(text, F.lit(""))
    n_chars = F.length(text).cast("double")
    n_alpha = F.length(F.regexp_replace(F.lower(text), F.lit("[^a-z]"), F.lit(""))).cast("double")
    tokens = token_count_col(text).cast("double")
    score = (
        F.lit(0.3) * F.least(F.lit(1.0), tokens / F.lit(64.0))
        + F.lit(0.4) * (n_alpha / F.greatest(n_chars, F.lit(1.0)))
        + F.lit(0.3) * F.least(F.lit(1.0), n_chars / F.lit(512.0))
    )
    return F.round(score, 6)


def quality_score_sql(text_expr: str) -> str:
    text_expr = f"coalesce(({text_expr}), '')"
    n_chars = f"cast(length({text_expr}) as double)"
    n_alpha = f"cast(length(regexp_replace(lower({text_expr}), '[^a-z]', '', 'g')) as double)"
    tokens = f"cast({token_count_sql(text_expr)} as double)"
    return (
        f"round(0.3 * least(1.0, {tokens} / 64.0)"
        f" + 0.4 * ({n_alpha} / greatest({n_chars}, 1.0))"
        f" + 0.3 * least(1.0, {n_chars} / 512.0), 6)"
    )


# --------------------------------------------------------------------------
# Signature UDFs (numpy in Arrow batches)
# --------------------------------------------------------------------------

_MERSENNE61 = (1 << 61) - 1
N_MINHASH = 64
_rng = np.random.RandomState(20250816)
_MH_A = _rng.randint(1, _MERSENNE61, size=N_MINHASH).astype(np.uint64)
_MH_B = _rng.randint(0, _MERSENNE61, size=N_MINHASH).astype(np.uint64)


def word_shingles(text: str, k: int = 3) -> list[str]:
    toks = ASCII_TOKEN_RE.findall(text)
    if len(toks) < k:
        return [" ".join(toks)] if toks else []
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


def shingle_hashes(text: str, k: int = 3) -> np.ndarray:
    """uint64 hashes of the word k-gram shingles, numpy-vectorized:
    per-token md5[:8] (cached per distinct token; md5 — not blake2b — so
    the DuckDB oracle recomputes the whole chain verbatim, the same
    round-3 move simhash made) combined with odd multipliers + a
    SplitMix64 finalizer. Deterministic across runs."""
    toks = ASCII_TOKEN_RE.findall(text)
    if not toks:
        return np.empty(0, dtype=np.uint64)
    th = np.fromiter((_md5_hash64(t) for t in toks), dtype=np.uint64, count=len(toks))
    with np.errstate(over="ignore"):
        if len(toks) < k:
            acc = np.uint64(0xCBF29CE484222325)
            for v in th:
                acc = acc * np.uint64(0x100000001B3) ^ v
            combined = np.array([acc], dtype=np.uint64)
        else:
            combined = (
                th[: len(th) - k + 1] * np.uint64(0x9E3779B97F4A7C15)
                + th[1 : len(th) - k + 2] * np.uint64(0xC2B2AE3D27D4EB4F)
                + th[2 : len(th) - k + 3] * np.uint64(0x165667B19E3779F9)
            )
        # SplitMix64 finalizer
        z = combined + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return np.unique(z ^ (z >> np.uint64(31)))


def minhash_signature(text: str, k: int = 3) -> np.ndarray:
    """MinHash over word k-gram shingle hashes:
    sig[i] = min((a_i*h + b_i) mod M61) — (n_shingles, N_MINHASH) numpy."""
    hv = shingle_hashes(text, k)
    if hv.size == 0:
        return np.full(N_MINHASH, np.uint64(_MERSENNE61), dtype=np.uint64)
    with np.errstate(over="ignore"):
        hv = hv % np.uint64(_MERSENNE61)
        prod = (hv[:, None] * _MH_A[None, :] + _MH_B[None, :]) % np.uint64(_MERSENNE61)
    return prod.min(axis=0)


# --------------------------------------------------------------------------
# Batch-vectorized twins of the signature functions (round-7 optimization,
# guide §4.2: the UDFs above were per-doc Python loops — per-token md5-cache
# dict lookups via np.fromiter dominated the minhash_pairs map stage).
# These compute BITWISE-identical values (pytest-pinned against the scalar
# faces): md5 runs once per batch-distinct token (pd.factorize), the window
# combine / SplitMix64 finalize / permutation mod-mul keep the exact uint64
# wrap semantics, and `_mod_m61` is the Mersenne shift-add identity for
# `% (2**61-1)` on the ALREADY-WRAPPED 64-bit value (y = q*2^61 + r with
# 2^61 ≡ 1, q <= 7, so one conditional subtract suffices) — replacing the
# uint64 division with shifts.
# --------------------------------------------------------------------------

_SH_C1 = np.uint64(0x9E3779B97F4A7C15)
_SH_C2 = np.uint64(0xC2B2AE3D27D4EB4F)
_SH_C3 = np.uint64(0x165667B19E3779F9)
_M61_U = np.uint64(_MERSENNE61)


def _splitmix_fin(z: np.ndarray) -> np.ndarray:
    """Vectorized SplitMix64 finalizer (same uint64 wrap ops as the scalar
    shingle_hashes body)."""
    z = z + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _mod_m61(x: np.ndarray) -> np.ndarray:
    """x % (2**61 - 1) for uint64 x without division: x = q*2^61 + r and
    2^61 ≡ 1 (mod M61) so x ≡ q + r; q <= 7 means one conditional
    subtract is exact for every uint64 input (including r == M61)."""
    r = (x >> np.uint64(61)) + (x & _M61_U)
    return r - _M61_U * (r >= _M61_U)


def _token_code_arrays(texts: list) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-batch tokenization: (codes, uh, offs) where ``codes`` are
    factorize codes of the concatenated token stream, ``uh[code]`` is the
    token's md5[:8] hash (md5 runs once per batch-DISTINCT token, reusing
    the per-worker `_md5_token_cache` across batches), and ``offs`` are
    per-doc offsets into ``codes``."""
    tok_lists = [ASCII_TOKEN_RE.findall(t) for t in texts]
    offs = np.zeros(len(tok_lists) + 1, dtype=np.int64)
    np.cumsum(
        np.fromiter((len(ts) for ts in tok_lists), dtype=np.int64, count=len(tok_lists)),
        out=offs[1:],
    )
    total = int(offs[-1])
    if total == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.uint64), offs
    flat = np.empty(total, dtype=object)
    pos = 0
    for ts in tok_lists:
        flat[pos : pos + len(ts)] = ts
        pos += len(ts)
    codes, uniques = pd.factorize(flat)
    uh = np.fromiter(
        (_md5_hash64(u) for u in uniques), dtype=np.uint64, count=len(uniques)
    )
    return codes, uh, offs


def _token_hash_arrays(texts: list) -> tuple[np.ndarray, np.ndarray]:
    """Concatenated md5[:8] token hashes for a batch of texts + per-doc
    offsets (positional stream — duplicates preserved)."""
    codes, uh, offs = _token_code_arrays(texts)
    if codes.size == 0:
        return np.empty(0, dtype=np.uint64), offs
    return uh[codes], offs


def _shingle_hash_batch(texts: list, k: int = 3) -> list[np.ndarray]:
    """Batch twin of ``shingle_hashes`` — one list entry per text, each a
    sorted-distinct uint64 array, bitwise equal to the scalar face."""
    th_all, offs = _token_hash_arrays(texts)
    out: list[np.ndarray] = []
    with np.errstate(over="ignore"):
        for i in range(len(offs) - 1):
            th = th_all[offs[i] : offs[i + 1]]
            n = th.size
            if n == 0:
                out.append(np.empty(0, dtype=np.uint64))
                continue
            if n < k:
                acc = np.uint64(0xCBF29CE484222325)
                for v in th:
                    acc = acc * np.uint64(0x100000001B3) ^ v
                combined = np.array([acc], dtype=np.uint64)
            else:
                combined = (
                    th[: n - k + 1] * _SH_C1
                    + th[1 : n - k + 2] * _SH_C2
                    + th[2 : n - k + 3] * _SH_C3
                )
            out.append(np.unique(_splitmix_fin(combined)))
    return out


def _minhash_from_shingles(hv: np.ndarray) -> np.ndarray:
    """Batchable core of ``minhash_signature`` over precomputed shingle
    hashes; `_mod_m61` replaces both uint64 divisions (identical values)."""
    if hv.size == 0:
        return np.full(N_MINHASH, _M61_U, dtype=np.uint64)
    with np.errstate(over="ignore"):
        hv = _mod_m61(hv)
        prod = _mod_m61(hv[:, None] * _MH_A[None, :] + _MH_B[None, :])
    return prod.min(axis=0)


# THE whitespace spec, shared by every face of every text operator:
# Python re.ASCII \s == Java regex \s == this explicit class, but RE2
# (DuckDB) \s EXCLUDES \x0B — so SQL faces must spell the class out,
# and the Python/Column faces use the same explicit form for clarity.
ASCII_WS_REGEX = r"[ \t\n\x0B\f\r]+"
# complement tokenizer (ASCII: \S == [^ \t\n\x0B\f\r], and unlike
# str.split() it never treats Unicode whitespace as a separator)
ASCII_TOKEN_RE = re.compile(r"\S+", re.ASCII)
_SIMHASH_TOKEN_RE = ASCII_TOKEN_RE
_BIT_SHIFTS = np.arange(64, dtype=np.uint64)
_md5_token_cache: dict[str, int] = {}


def _md5_hash64(s: str) -> int:
    """First 8 md5 bytes, big-endian. md5 (not blake2b) so a SQL oracle
    can recompute the hash verbatim: DuckDB
    ``('0x' || substr(md5(s), 1, 16))::UBIGINT`` yields this value."""
    h = _md5_token_cache.get(s)
    if h is None:
        h = int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")
        # bounded: per-WORKER dict; 2^18 entries (~40 MB) captures the
        # zipf head of any real token distribution, vs ~5 GB aggregate
        # RSS across 32 workers at a 1M cap
        if len(_md5_token_cache) < 262_144:
            _md5_token_cache[s] = h
    return h


def simhash64(text: str) -> int:
    """SimHash over whitespace tokens: sign of per-bit weighted sums.

    Tokenization is RE2-``\\S`` parity (re.ASCII) and the token hash is
    md5[:8], so the entire signature — and therefore the whole
    simhash_pairs query — is recomputable in DuckDB (see
    plans/queries.py _Q_SIMHASH_SQL)."""
    toks = set(_SIMHASH_TOKEN_RE.findall(text))
    if not toks:
        return 0
    # vectorized across tokens: one (n_tokens, 64) bit matrix instead of
    # a per-token loop — this UDF is the map-stage hot path of
    # simhash_pairs, the rest of which is pure JVM
    th = np.fromiter((_md5_hash64(t) for t in toks), dtype=np.uint64, count=len(toks))
    bits = (th[:, None] >> _BIT_SHIFTS[None, :]) & np.uint64(1)
    acc = (2 * bits.astype(np.int64) - 1).sum(axis=0)
    out = int(((acc > 0).astype(np.uint64) << _BIT_SHIFTS).sum(dtype=np.uint64))
    return out - (1 << 64) if out >= (1 << 63) else out  # signed int64


def doc_fingerprint(text: str) -> int:
    """Rolling polynomial hash (base 257 mod 2^61-1) of the normalized text
    (lowercased, whitespace-collapsed) -> signed int64."""
    norm = " ".join(ASCII_TOKEN_RE.findall(text.lower()))
    h = 0
    for ch in norm.encode("utf-8"):
        h = (h * 257 + ch) % _MERSENNE61
    return h


@F.pandas_udf(
    T.StructType(
        [
            T.StructField("sig", T.ArrayType(T.LongType())),
            T.StructField("sh", T.ArrayType(T.LongType())),
        ]
    )
)
def minhash_and_shingles_udf(text: pd.Series) -> pd.DataFrame:
    """Signature AND distinct word-3-gram shingle hashes (sorted int64)
    in ONE tokenize+md5 pass, so minhash_lsh_pairs scans and shingles the
    text once. Values are bitwise those of ``minhash_signature`` and
    ``shingle_hashes``. Jaccard over the ``sh`` arrays == Jaccard over the
    shingle-string sets (collision probability ~ n^2/2^64), computable
    JVM-side via array_intersect — the verification path never
    re-shingles text in Python per pair."""
    shs = _shingle_hash_batch([(t or "") for t in text])
    return pd.DataFrame(
        {
            "sig": [_minhash_from_shingles(hv).astype(np.int64).tolist() for hv in shs],
            "sh": [hv.astype(np.int64).tolist() for hv in shs],
        }
    )


@F.pandas_udf(T.LongType())
def simhash64_udf(text: pd.Series) -> pd.Series:
    # batch face: md5 once per batch-distinct token; per doc the ±1 bit
    # sums run over the hashes of np.unique(factorize codes) — distinct by
    # token STRING exactly like the scalar simhash64's set() (which is
    # order-insensitive here: the sums commute), so values are identical
    # even under an md5[:8] collision between distinct tokens
    codes, uh, offs = _token_code_arrays([(t or "") for t in text])
    out = np.zeros(len(offs) - 1, dtype=np.int64)
    for i in range(len(offs) - 1):
        th = uh[np.unique(codes[offs[i] : offs[i + 1]])]
        if th.size == 0:
            continue
        bits = (th[:, None] >> _BIT_SHIFTS[None, :]) & np.uint64(1)
        acc = (2 * bits.astype(np.int64) - 1).sum(axis=0)
        v = int(((acc > 0).astype(np.uint64) << _BIT_SHIFTS).sum(dtype=np.uint64))
        out[i] = v - (1 << 64) if v >= (1 << 63) else v
    return pd.Series(out)


@F.pandas_udf(T.LongType())
def doc_fingerprint_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: doc_fingerprint(t or ""))


@F.pandas_udf(T.LongType())
def token_count_udf(text: pd.Series) -> pd.Series:
    # re.ASCII: the Column/DuckDB faces use Java/RE2 \s (ASCII-only); the
    # Python face must not treat U+00A0/U+2028 etc. as token separators.
    return text.fillna("").str.count(r"\S+", flags=re.ASCII).astype("int64")


@F.pandas_udf(T.LongType())
def bpe_token_count_udf(text: pd.Series) -> pd.Series:
    # Python face of BPE_TOKEN_PATTERN (parity pytest-pinned vs the
    # Column and SQL faces).
    return text.fillna("").str.count(BPE_TOKEN_PATTERN).astype("int64")


@F.pandas_udf(T.DoubleType())
def quality_score_udf(text: pd.Series) -> pd.Series:
    s = text.fillna("")
    n_chars = s.str.len().astype("float64")
    n_alpha = s.str.lower().str.count(r"[a-z]").astype("float64")
    tokens = s.str.count(r"\S+", flags=re.ASCII).astype("float64")
    score = (
        0.3 * np.minimum(1.0, tokens / 64.0)
        + 0.4 * (n_alpha / np.maximum(n_chars, 1.0))
        + 0.3 * np.minimum(1.0, n_chars / 512.0)
    )
    # Spark F.round = BigDecimal(double).setScale(6, HALF_UP) on the
    # exact binary value; np.round is half-even and can differ on ties.
    # Vectorized HALF_UP: floor(x*1e6 + 0.5-style compare)/1e6 — exact
    # for every value whose scaled fraction sits > 1e-9 from the .5
    # boundary (the float multiply error is <= ~2.2e-10 here, and no
    # double is EXACTLY at a 1e-6 tie: odd/2e6 has a 5^6 factor in the
    # denominator, unrepresentable in binary). The rare at-risk values
    # fall back to exact Decimal quantization, so parity with the JVM
    # holds unconditionally without serializing the whole batch through
    # Python.
    from decimal import ROUND_HALF_UP, Decimal

    y = score.to_numpy(dtype="float64") * 1e6
    fl = np.floor(y)
    frac = y - fl
    out = np.where(frac >= 0.5, fl + 1.0, fl) / 1e6
    risk = np.abs(frac - 0.5) < 1e-9
    if risk.any():
        q = Decimal("0.000001")
        vals = score.to_numpy(dtype="float64")
        out[risk] = [
            float(Decimal(float(v)).quantize(q, ROUND_HALF_UP)) for v in vals[risk]
        ]
    return pd.Series(out, index=score.index)
