"""Training-data text-pipeline operators: quality rules, repetition
statistics, cross-document span dedup, PII accounting.

All four operators are pure DataFrame compositions (zero Python UDFs;
every expression is whole-stage-codegen-able), each with a DuckDB
oracle face built from the same spec so the correctness gate replays
them verbatim.

Reference parity: no text-pipeline surface exists in the reference
(SURVEY.md §2 — LLM-pipeline graft components). Rule definitions come
from public work: Gopher quality/repetition filters (Rae et al. 2021,
Table A1) and exact-substring training-data dedup (Lee et al. 2021,
"Deduplicating Training Data Makes Language Models Better"), both
re-specified deterministically over this repo's ASCII whitespace class.

100 TB shapes:
- ``gopher_quality`` / ``pii_stats``: scalar projections — no shuffle;
  column pruning reads only (id, text).
- ``repetition_stats``: per-document n-gram groupBys. Every shuffle key
  starts with the document id, so partial aggregation combines map-side
  and the per-doc reducers never see cross-document data; the joins that
  reassemble the per-n statistics are id-equi-joins that AQE plans
  (at gate scale they broadcast). Gram strings shuffle, but only within
  a doc-keyed agg whose cardinality is bounded by the document length.
- ``window_span_dedup``: the Lee-et-al. shape — only (doc_id, 16-byte
  span hash) pairs ever shuffle; document text never leaves the map
  side. Duplicate-span detection is a hash groupBy (map-side
  combinable) followed by an ids-only equi-join back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text_quality import (
    collapsed_text_col,
    collapsed_text_sql,
    gopher_rule_cols,
    gopher_rule_sqls,
    pii_cols,
    pii_sqls,
    words_col,
    words_sql,
)

TOP_NGRAM_NS = (2, 3)
DUP_NGRAM_NS = (5, 10)
SPAN_WORDS = 8
SPAN_STRIDE = 4


def gopher_quality(df: DataFrame) -> DataFrame:
    """Per-document Gopher quality rule columns + keep flag."""
    cols = gopher_rule_cols(F.col("text"))
    return df.select("doc_id", *[c.alias(name) for name, c in cols.items()])


def gopher_quality_sql(table: str = "documents") -> str:
    sqls = gopher_rule_sqls("text")
    sel = ", ".join(f"{expr} AS {name}" for name, expr in sqls.items())
    return f"SELECT doc_id, {sel} FROM {table}"


def pii_stats(df: DataFrame) -> DataFrame:
    """Per-document PII counts + md5 of the redacted text."""
    cols = pii_cols(F.col("text"))
    return df.select("doc_id", *[c.alias(name) for name, c in cols.items()])


def pii_stats_sql(table: str = "documents") -> str:
    sqls = pii_sqls("text")
    sel = ", ".join(f"{expr} AS {name}" for name, expr in sqls.items())
    return f"SELECT doc_id, {sel} FROM {table}"


def _grams_col(words, n: int):
    """Overlapping word n-grams joined by ' '; empty array when the doc
    has fewer than n words. Spark's sequence(1, k) DESCENDS when k < 1
    (unlike DuckDB's generate_series, which returns []), so the short-doc
    case must be guarded explicitly."""
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _grams_sql(words: str, n: int) -> str:
    return (
        f"list_transform(generate_series(1, greatest(len({words}) - {n - 1}, 0)),"
        f" i -> array_to_string(({words})[i:i+{n - 1}], ' '))"
    )


def repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher repetition filters, exactly specified:

    - ``top{n}gram_frac`` (n in TOP_NGRAM_NS): occurrences of the
      modal word n-gram × its character length ÷ length of the
      whitespace-collapsed trimmed text, capped at 1.0 (overlapping
      occurrences can push count×len past the text length; ties →
      lexicographically smallest gram; 0.0 when the doc has no
      n-grams). Gopher's "fraction of characters contained within the
      most frequently occurring n-gram", with overlap resolved by the
      capped count×len spec.
    - ``dup{n}gram_frac`` (n in DUP_NGRAM_NS): fraction of n-gram
      positions whose gram occurs more than once in the document
      (0.0 when no positions). A position-mass restatement of Gopher's
      duplicate-n-gram filter that stays in [0, 1] under overlap.

    All fractions rounded to 6 dp in both faces.
    """
    words = words_col(F.col("text"))
    base = df.select(
        "doc_id",
        words.alias("words"),
        F.length(collapsed_text_col(F.col("text"))).cast("long").alias("clen"),
    )
    # ONE materialized tokenization (round 7): the four n-gram branches
    # below each re-scanned the corpus and re-split the text. A single
    # doc_id-keyed exchange is reused by every branch AND pre-satisfies
    # every downstream distribution — (doc_id, gram) counts, the per-doc
    # rollups and the doc_id equi-joins all cluster by doc_id — so the
    # whole operator becomes 1 scan + 1 exchange + in-partition work.
    # Explicit count so AQE can't coalesce-and-serialize the gram work.
    base = base.repartition(df.sparkSession.sparkContext.defaultParallelism, "doc_id")
    out = base.select("doc_id")
    for n in TOP_NGRAM_NS:
        counts = (
            base.select("doc_id", "clen", F.explode(_grams_col(F.col("words"), n)).alias("gram"))
            .groupBy("doc_id", "clen", "gram")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # modal gram via struct-MIN on (-cnt, gram): highest count wins,
        # ties break to the lexicographically smallest gram — the same
        # total order the oracle's row_number window uses, but as a
        # map-side-combinable hash aggregate instead of a full
        # doc-partitioned sort of every distinct gram row (the sort was
        # this operator's scaling leak: 0.73 efficiency 2->8 executors
        # at 1M docs vs 0.93 for the minhash stage)
        top = (
            counts.groupBy("doc_id")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("_negcnt"),
                        F.col("gram").alias("_gram"),
                        F.col("clen").alias("_clen"),
                    )
                ).alias("_m")
            )
            .select(
                "doc_id",
                F.round(
                    F.least(
                        F.lit(1.0),
                        (-F.col("_m._negcnt")).cast("double")
                        * F.length(F.col("_m._gram")).cast("double")
                        / F.greatest(F.col("_m._clen"), F.lit(1)).cast("double"),
                    ),
                    6,
                ).alias(f"top{n}gram_frac"),
            )
        )
        out = out.join(top, "doc_id", "left")
    for n in DUP_NGRAM_NS:
        counts = (
            base.select("doc_id", F.explode(_grams_col(F.col("words"), n)).alias("gram"))
            .groupBy("doc_id", "gram")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        dup = counts.groupBy("doc_id").agg(
            F.round(
                F.sum(F.when(F.col("cnt") >= 2, F.col("cnt")).otherwise(F.lit(0))).cast("double")
                / F.sum("cnt").cast("double"),
                6,
            ).alias(f"dup{n}gram_frac")
        )
        out = out.join(dup, "doc_id", "left")
    fill = {f"top{n}gram_frac": 0.0 for n in TOP_NGRAM_NS}
    fill.update({f"dup{n}gram_frac": 0.0 for n in DUP_NGRAM_NS})
    return out.fillna(fill)


def repetition_stats_sql() -> str:
    words = words_sql("text")
    clen = f"length({collapsed_text_sql('text')})"
    ctes = [f"base AS (SELECT doc_id AS doc_id, {words} AS words, cast({clen} as bigint) AS clen FROM documents)"]
    joins, sels = [], []
    for n in TOP_NGRAM_NS:
        ctes.append(
            f"g{n} AS (SELECT doc_id, clen, unnest({_grams_sql('words', n)}) AS gram FROM base)"
        )
        ctes.append(
            f"c{n} AS (SELECT doc_id, clen, gram, count(*) AS cnt FROM g{n} GROUP BY 1, 2, 3)"
        )
        ctes.append(
            f"t{n} AS (SELECT doc_id, round(least(1.0, cast(cnt as double) * cast(length(gram) as double)"
            f" / cast(greatest(clen, 1) as double)), 6) AS top{n}gram_frac FROM"
            f" (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn FROM c{n})"
            f" WHERE rn = 1)"
        )
        joins.append(f"LEFT JOIN t{n} USING (doc_id)")
        sels.append(f"coalesce(top{n}gram_frac, 0.0) AS top{n}gram_frac")
    for n in DUP_NGRAM_NS:
        ctes.append(f"h{n} AS (SELECT doc_id, unnest({_grams_sql('words', n)}) AS gram FROM base)")
        ctes.append(f"d{n} AS (SELECT doc_id, gram, count(*) AS cnt FROM h{n} GROUP BY 1, 2)")
        ctes.append(
            f"u{n} AS (SELECT doc_id, round(cast(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) as double)"
            f" / cast(sum(cnt) as double), 6) AS dup{n}gram_frac FROM d{n} GROUP BY doc_id)"
        )
        joins.append(f"LEFT JOIN u{n} USING (doc_id)")
        sels.append(f"coalesce(dup{n}gram_frac, 0.0) AS dup{n}gram_frac")
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT base.doc_id, " + ", ".join(sels)
        + "\nFROM base " + " ".join(joins)
    )


def window_span_dedup(df: DataFrame) -> DataFrame:
    """Cross-document duplicated-span accounting (Lee et al. 2021 shape).

    Each document is shingled into ``SPAN_WORDS``-word windows starting
    every ``SPAN_STRIDE`` words (positions 1, 1+SPAN_STRIDE, ... while the
    window fits). A window is a DUPLICATED SPAN iff its md5 appears in
    at least two DISTINCT documents. Output per document: window count,
    duplicated-window count, and their ratio (6 dp; 0.0 for docs too
    short to shingle).

    Scale: text never shuffles — each row emits (doc_id, md5-hex) pairs;
    duplicate detection is a count-distinct-docs groupBy on the hash and
    an equi-join back. md5 (not xxhash) so DuckDB recomputes the exact
    same keys.
    """
    words = words_col(F.col("text"))
    grams = F.when(
        F.size(words) >= SPAN_WORDS,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - F.lit(SPAN_WORDS - 1), F.lit(SPAN_STRIDE)),
            lambda i: F.concat_ws(" ", F.slice(words, i, SPAN_WORDS)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    spans = df.select("doc_id", F.explode(grams).alias("span")).select(
        "doc_id", F.md5("span").alias("h")
    )
    # ONE materialized span stage (round 7): three consumers below
    # (window counts, duplicate-hash detection, the join back) otherwise
    # each re-scan the text and re-explode the windows. Keyed on ``h`` so
    # the dup-hash aggregate and the equi-join reuse the exchange with no
    # further shuffle; explicit count so AQE can't coalesce-and-serialize.
    spans = spans.repartition(df.sparkSession.sparkContext.defaultParallelism, "h")
    per_doc = spans.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_windows"))
    dup_h = spans.groupBy("h").agg(F.count_distinct("doc_id").alias("nd")).filter(F.col("nd") >= 2)
    dup_per_doc = (
        spans.join(dup_h.select("h"), "h").groupBy("doc_id").agg(F.count(F.lit(1)).alias("dup_windows"))
    )
    out = (
        df.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(dup_per_doc, "doc_id", "left")
        .fillna({"n_windows": 0, "dup_windows": 0})
    )
    return out.select(
        "doc_id",
        F.col("n_windows").cast("long").alias("n_windows"),
        F.col("dup_windows").cast("long").alias("dup_windows"),
        F.when(
            F.col("n_windows") > 0,
            F.round(F.col("dup_windows").cast("double") / F.col("n_windows").cast("double"), 6),
        ).otherwise(F.lit(0.0)).alias("dup_frac"),
    )


def window_span_dedup_sql(table: str = "documents") -> str:
    words = words_sql("text")
    grams = (
        f"list_transform(generate_series(1, greatest(len(words) - {SPAN_WORDS - 1}, 0), {SPAN_STRIDE}),"
        f" i -> array_to_string(words[i:i+{SPAN_WORDS - 1}], ' '))"
    )
    return f"""
  WITH base AS (SELECT doc_id AS doc_id, {words} AS words FROM {table}),
  raw_spans AS (SELECT doc_id, unnest({grams}) AS span FROM base),
  spans AS (SELECT doc_id, md5(span) AS h FROM raw_spans),
  per_doc AS (SELECT doc_id, count(*) AS n_windows FROM spans GROUP BY doc_id),
  dup_h AS (SELECT h FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
  dup_per_doc AS (SELECT doc_id, count(*) AS dup_windows FROM spans JOIN dup_h USING (h) GROUP BY doc_id)
  SELECT base.doc_id,
         cast(coalesce(n_windows, 0) as bigint) AS n_windows,
         cast(coalesce(dup_windows, 0) as bigint) AS dup_windows,
         CASE WHEN coalesce(n_windows, 0) > 0
              THEN round(cast(coalesce(dup_windows, 0) as double) / cast(n_windows as double), 6)
              ELSE 0.0 END AS dup_frac
  FROM base LEFT JOIN per_doc USING (doc_id) LEFT JOIN dup_per_doc USING (doc_id)
"""


DECONTAM_NGRAM = 8


def decontaminate(train: DataFrame, eval_set: DataFrame) -> DataFrame:
    """Benchmark decontamination (the Lee/Brown-et-al. eval-overlap
    rule): a training document is CONTAMINATED iff any of its word
    ``DECONTAM_NGRAM``-grams (stride 1 — every alignment) appears in the benchmark
    set's n-grams. Output per train doc: window count, hit count,
    contaminated 0/1.

    100 TB shape: the eval side is a benchmark suite — thousands of
    docs, not billions — so its distinct gram hashes BROADCAST; the
    train side computes md5 grams map-side and the probe is a broadcast
    LEFT SEMI-style join with no shuffle of train text (only the
    per-doc count groupBy shuffles (doc_id, counts)). md5, not
    xxhash64, so DuckDB recomputes identical keys."""
    t_words = words_col(F.col("text"))
    t_grams = _grams_col(t_words, DECONTAM_NGRAM)
    spans = train.select(
        "doc_id", F.explode_outer(t_grams).alias("gram")
    ).select("doc_id", F.md5("gram").alias("h"))
    e_words = words_col(F.col("text"))
    eval_h = (
        eval_set.select(F.explode(_grams_col(e_words, DECONTAM_NGRAM)).alias("gram"))
        .select(F.md5("gram").alias("h"))
        .distinct()
    )
    # ONE pass (round 7): the old shape ran a broadcast semi-join +
    # groupBy for hits AND a separate groupBy for window counts — two
    # full scan+explode executions of the train side. A broadcast LEFT
    # join with a marker column computes both in one aggregation:
    # count(h) counts the non-null grams (explode_outer's empty-doc row
    # has h NULL and can never match), count(_hit) counts matches.
    marked = eval_h.withColumn("_hit", F.lit(1))
    per_doc = (
        spans.join(F.broadcast(marked), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.col("h")).alias("n_windows"),
            F.count(F.col("_hit")).alias("n_hits"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_windows").cast("long").alias("n_windows"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.when(F.col("n_hits") > 0, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("contaminated"),
    )


def decontaminate_sql(
    train_table: str = "documents",
    eval_table: str = "eval_docs",
) -> str:
    words = words_sql("text")
    grams = _grams_sql("words", DECONTAM_NGRAM)
    return f"""
WITH tbase AS (SELECT doc_id AS doc_id, {words} AS words FROM {train_table}),
tspans AS (
  SELECT doc_id, md5(g.gram) AS h
  FROM tbase, LATERAL unnest({grams}) AS g(gram)),
ebase AS (SELECT {words} AS words FROM {eval_table}),
eh AS (SELECT DISTINCT md5(g.gram) AS h FROM ebase, LATERAL unnest({grams}) AS g(gram)),
per_doc AS (SELECT doc_id, count(*) AS n_windows FROM tspans GROUP BY doc_id),
hits AS (
  SELECT doc_id, count(*) AS n_hits
  FROM tspans WHERE h IN (SELECT h FROM eh) GROUP BY doc_id)
SELECT t.doc_id,
       cast(coalesce(p.n_windows, 0) as bigint) AS n_windows,
       cast(coalesce(hits.n_hits, 0) as bigint) AS n_hits,
       cast(CASE WHEN coalesce(hits.n_hits, 0) > 0 THEN 1 ELSE 0 END as bigint) AS contaminated
FROM (SELECT DISTINCT doc_id FROM tbase) t
LEFT JOIN per_doc p USING (doc_id)
LEFT JOIN hits USING (doc_id)
"""


def decontaminate_redact(train: DataFrame, eval_set: DataFrame) -> DataFrame:
    """Span-LEVEL decontamination (the surgical variant of
    ``decontaminate``): instead of flagging whole documents, remove
    every word covered by a contaminated ``DECONTAM_NGRAM``-gram window and emit the
    cleaned text's digest + removal accounting. Output per train doc:
    n_words, n_removed (covered word count), clean_md5 (md5 of the
    surviving words joined by single spaces — i.e. of the
    whitespace-COLLAPSED clean text; the join normalizes whitespace by
    construction, identically in both faces).

    Same 100 TB shape as ``decontaminate`` — eval hashes broadcast,
    train text never shuffles; the only additions are a per-doc covered-
    index aggregation (doc-keyed, bounded by doc length) and the final
    id-equi-join back."""
    words = words_col(F.col("text"))
    base = train.select("doc_id", words.alias("words"))
    grams = F.when(
        F.size(F.col("words")) >= DECONTAM_NGRAM,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("words")) - F.lit(DECONTAM_NGRAM - 1)),
            lambda i: F.concat_ws(" ", F.slice(F.col("words"), i, DECONTAM_NGRAM)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    spans = base.select("doc_id", F.posexplode(grams).alias("pos0", "gram"))
    e_words = words_col(F.col("text"))
    eval_h = (
        eval_set.select(F.explode(_grams_col(e_words, DECONTAM_NGRAM)).alias("gram"))
        .select(F.md5("gram").alias("h"))
        .distinct()
    )
    hits = spans.withColumn("h", F.md5("gram")).join(
        F.broadcast(eval_h), "h", "left_semi"
    )
    cov = (
        hits.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos0") + 1, F.col("pos0") + DECONTAM_NGRAM)).alias("wi"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("wi")).alias("covered"))
    )
    out = base.join(cov, "doc_id", "left").withColumn(
        "covered", F.coalesce(F.col("covered"), F.array().cast("array<int>"))
    )
    clean_words = F.filter(
        F.col("words"), lambda w, i: ~F.array_contains(F.col("covered"), i + F.lit(1))
    )
    return out.select(
        "doc_id",
        F.size("words").cast("long").alias("n_words"),
        F.size("covered").cast("long").alias("n_removed"),
        F.md5(F.concat_ws(" ", clean_words)).alias("clean_md5"),
    )


def decontaminate_redact_sql(
    train_table: str = "documents",
    eval_table: str = "eval_docs",
) -> str:
    words = words_sql("text")
    grams = _grams_sql("words", DECONTAM_NGRAM)
    return f"""
WITH base AS (SELECT doc_id AS doc_id, {words} AS words FROM {train_table}),
spans AS (
  SELECT doc_id, s.i AS start1,
         md5(array_to_string(words[s.i:s.i+{DECONTAM_NGRAM - 1}], ' ')) AS h
  FROM base, LATERAL unnest(generate_series(1, greatest(len(words) - {DECONTAM_NGRAM - 1}, 0))) s(i)),
ebase AS (SELECT {words} AS words FROM {eval_table}),
eh AS (SELECT DISTINCT md5(g.gram) AS h FROM ebase, LATERAL unnest({grams}) AS g(gram)),
hits AS (SELECT doc_id, start1 FROM spans WHERE h IN (SELECT h FROM eh)),
cov AS (
  SELECT DISTINCT doc_id, start1 + o.off AS wi
  FROM hits, LATERAL unnest(generate_series(0, {DECONTAM_NGRAM - 1})) o(off)),
cova AS (SELECT doc_id, list(wi ORDER BY wi) AS covered FROM cov GROUP BY doc_id)
SELECT b.doc_id,
       cast(len(b.words) as bigint) AS n_words,
       cast(coalesce(len(c.covered), 0) as bigint) AS n_removed,
       -- coalesce: DuckDB array_to_string([], sep) is NULL, Spark concat_ws is ''
       md5(coalesce(array_to_string(
         list_filter(
           list_transform(generate_series(1, len(b.words)),
                          i -> CASE WHEN NOT list_contains(coalesce(c.covered, []), i)
                               THEN b.words[i] END),
           x -> x IS NOT NULL), ' '), '')) AS clean_md5
FROM base b LEFT JOIN cova c USING (doc_id)
"""


def unigram_logprob(df: DataFrame) -> DataFrame:
    """Corpus-trained unigram language-model score per document — the
    honest relational analog of the CCNet/KenLM perplexity filter
    (Wenzek et al. 2020): documents whose tokens are improbable under
    the corpus' own unigram distribution score low (boilerplate and
    in-distribution text scores high). Per doc: token count and the
    mean log-probability  mean_t ln(count(t) / total_tokens), quantized
    at 1e-9 per token before the mean (ln is the only transcendental)
    and rounded to 6 dp — empty docs emit 0.0.

    Self-trained on the INPUT corpus in the same plan (no model file):
    the unigram table is a (token) groupBy whose cardinality is the
    vocabulary; scoring is a broadcast-sized join at real vocab sizes.
    100 TB shape: two map-side-combinable aggs (token counts, per-doc
    sums) and one token-keyed equi-join; text never shuffles beyond its
    exploded tokens."""
    toks = df.select(
        "doc_id", F.explode(words_col(F.col("text"))).alias("token")
    )
    totals = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    # grand total via a window-free scalar: sum over the unigram table,
    # joined in as a literal-free crossJoin of ONE row (broadcast)
    grand = totals.agg(F.sum("cnt").alias("total"))
    scored = (
        # broadcast the vocabulary side (round 7, verdict ask): the token
        # equi-join otherwise shuffles the exploded token stream AND lands
        # hot tokens ("the" ~5% of rows) on one reducer until AQE splits;
        # a vocab table is broadcast-sized at any realistic corpus, and
        # broadcasting it removes both the shuffle and the skew surface.
        # AQE skew-join remains the documented fallback if a vocab ever
        # exceeds broadcast limits (drop the hint, not the operator).
        toks.join(F.broadcast(totals), "token")
        .crossJoin(F.broadcast(grand))
        .select(
            "doc_id",
            F.round(
                F.log(F.col("cnt").cast("double") / F.col("total").cast("double")), 9
            ).alias("lp"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"), F.avg("lp").alias("mean_lp")
    )
    return (
        df.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.round(F.coalesce(F.col("mean_lp"), F.lit(0.0)), 6).alias("mean_logprob"),
        )
    )


def unigram_logprob_sql(table: str = "documents") -> str:
    words = words_sql("text")
    return f"""
WITH toks AS (
  SELECT doc_id AS doc_id, t.token FROM {table}, LATERAL unnest({words}) AS t(token)),
totals AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
grand AS (SELECT sum(cnt) AS total FROM totals),
scored AS (
  SELECT doc_id,
         round(ln(cast(cnt as double) / cast((SELECT total FROM grand) as double)), 9) AS lp
  FROM toks JOIN totals USING (token)),
per_doc AS (
  SELECT doc_id, count(*) AS n_tokens, avg(lp) AS mean_lp FROM scored GROUP BY doc_id)
SELECT b.doc_id,
       cast(coalesce(p.n_tokens, 0) as bigint) AS n_tokens,
       round(coalesce(p.mean_lp, 0.0), 6) AS mean_logprob
FROM (SELECT doc_id AS doc_id FROM {table}) b LEFT JOIN per_doc p USING (doc_id)
"""


def self_dedup_redact(df: DataFrame) -> DataFrame:
    """Corpus SELF-dedup surgery — the removal step Lee et al. 2021
    apply after detection (window_span_dedup is the detection face):
    a span (``SPAN_WORDS``-word window at ``SPAN_STRIDE``) duplicated across
    >= 2 distinct documents is KEPT only in its canonical document (the
    MIN doc_id containing that span hash) and surgically removed from
    every other document's text. Output per doc: n_words, n_removed
    (covered word count), clean_md5 (md5 of surviving words joined by
    single spaces — whitespace-collapsed by construction, both faces).

    100 TB shape: only (doc_id, md5, start-position) triples shuffle;
    the keeper choice is a per-hash min (map-side combinable); the
    covered-index agg is doc-keyed and bounded by doc length. Text
    never leaves the map side until the final per-doc surgery."""
    words = words_col(F.col("text"))
    base = df.select("doc_id", words.alias("words"))
    grams = F.when(
        F.size(F.col("words")) >= SPAN_WORDS,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("words")) - F.lit(SPAN_WORDS - 1), F.lit(SPAN_STRIDE)),
            lambda i: F.concat_ws(" ", F.slice(F.col("words"), i, SPAN_WORDS)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # SPAN_STRIDE grams: array slot j (0-based) starts at word 1 + j*SPAN_STRIDE
    spans = base.select("doc_id", F.posexplode(grams).alias("j", "gram")).select(
        "doc_id",
        (F.lit(1) + F.col("j") * F.lit(SPAN_STRIDE)).alias("start1"),
        F.md5("gram").alias("h"),
    )
    # ONE materialized span stage (round 7): the keeper aggregate and the
    # victims join below otherwise each re-scan and re-explode the text.
    # Keyed on ``h`` so both reuse the exchange with no further shuffle;
    # only (doc_id, start1, md5) triples cross it, never text.
    spans = spans.repartition(df.sparkSession.sparkContext.defaultParallelism, "h")
    keepers = (
        spans.groupBy("h")
        .agg(
            F.min("doc_id").alias("keep_doc"),
            F.count_distinct("doc_id").alias("nd"),
        )
        .filter(F.col("nd") >= 2)
        .select("h", "keep_doc")
    )
    victims = spans.join(keepers, "h").filter(F.col("doc_id") != F.col("keep_doc"))
    cov = (
        victims.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("start1"), F.col("start1") + F.lit(SPAN_WORDS - 1))
            ).alias("wi"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("wi")).alias("covered"))
    )
    out = base.join(cov, "doc_id", "left").withColumn(
        "covered", F.coalesce(F.col("covered"), F.array().cast("array<int>"))
    )
    clean_words = F.filter(
        F.col("words"), lambda w, i: ~F.array_contains(F.col("covered"), i + F.lit(1))
    )
    return out.select(
        "doc_id",
        F.size("words").cast("long").alias("n_words"),
        F.size("covered").cast("long").alias("n_removed"),
        F.md5(F.concat_ws(" ", clean_words)).alias("clean_md5"),
    )


def self_dedup_redact_sql(table: str = "documents") -> str:
    words = words_sql("text")
    return f"""
WITH base AS (SELECT doc_id AS doc_id, {words} AS words FROM {table}),
spans AS (
  SELECT doc_id, s.i AS start1,
         md5(array_to_string(words[s.i:s.i+{SPAN_WORDS - 1}], ' ')) AS h
  FROM base, LATERAL unnest(generate_series(1, greatest(len(words) - {SPAN_WORDS - 1}, 0), {SPAN_STRIDE})) s(i)),
keepers AS (
  SELECT h, min(doc_id) AS keep_doc FROM spans
  GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
victims AS (
  SELECT spans.doc_id, spans.start1 FROM spans JOIN keepers USING (h)
  WHERE spans.doc_id <> keepers.keep_doc),
cov AS (
  SELECT DISTINCT doc_id, start1 + o.off AS wi
  FROM victims, LATERAL unnest(generate_series(0, {SPAN_WORDS - 1})) o(off)),
cova AS (SELECT doc_id, list(wi ORDER BY wi) AS covered FROM cov GROUP BY doc_id)
SELECT b.doc_id,
       cast(len(b.words) as bigint) AS n_words,
       cast(coalesce(len(c.covered), 0) as bigint) AS n_removed,
       -- coalesce: DuckDB array_to_string([], sep) is NULL, Spark concat_ws is ''
       md5(coalesce(array_to_string(
         list_filter(
           list_transform(generate_series(1, len(b.words)),
                          i -> CASE WHEN NOT list_contains(coalesce(c.covered, []), i)
                               THEN b.words[i] END),
           x -> x IS NOT NULL), ' '), '')) AS clean_md5
FROM base b LEFT JOIN cova c USING (doc_id)
"""
