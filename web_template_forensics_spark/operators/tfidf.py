"""TF-IDF sparse document similarity via an inverted-index join.

The third candidate-generation family next to signature banding
(minhash/simhash, operators/dedup.py) and vector LSH buckets
(operators/similarity_search.py): classic IR sparse cosine, where
candidates come from the INVERTED INDEX (docs sharing a token) with
document-frequency pruning bounding the join fan-out — tokens appearing
in more than ``DF_CAP_FRAC`` of the corpus are dropped from the vectors
entirely (stopword pruning by document frequency, the SpotSigs move),
so no token contributes more than (cap choose 2) candidate pairs.

Weights: w(d, t) = tf(d, t) * idf(t), idf = ln((N + 1) / (df + 1)) + 1
(the smoothed sklearn formulation — public knowledge), quantized at
1e-9 before any aggregation so the Spark and DuckDB faces sum
bit-identical values (the repo-wide determinization rule for
transcendentals: libm ln is the only non-algebraic step).

100 TB shape: tokens shuffle as (doc_id, token-row) pairs through
doc-keyed and token-keyed aggs (both map-side combinable); the pair
join carries (token, doc_id, weight) — never text; the df cap bounds
the per-token fan-out, and the final per-pair dot is a (id_a, id_b)
groupBy. One driver action (docs.count()) fixes N at plan-build time.

Reference parity: no similarity-search surface in the reference
(SURVEY.md §2 — LLM-pipeline graft component).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text_quality import words_col

# the df cap both faces apply: a token in more than this share of the
# corpus is dropped from every vector
DF_CAP_FRAC = 0.6


def tfidf_topk_pairs(
    docs: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Per-document top-``k`` most TF-IDF-cosine-similar neighbors ->
    (doc_id, neighbor_id, rank, cosine). Deterministic total order
    (quantized cosine desc, neighbor_id asc). Documents with no
    surviving tokens (everything pruned by the df cap) emit no rows."""
    n_docs = docs.count()  # one driver action: N is a scalar of the corpus
    cap = int(DF_CAP_FRAC * n_docs)
    toks = (
        docs.select("doc_id", F.explode(words_col(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df_t"))
        .filter(F.col("df_t") <= cap)
    )
    w = toks.join(dfreq, "token").select(
        "token",
        "doc_id",
        F.round(
            F.col("tf").cast("double")
            * (F.log((F.lit(float(n_docs + 1))) / (F.col("df_t") + F.lit(1)).cast("double")) + F.lit(1.0)),
            9,
        ).alias("w"),
    )
    norms = w.groupBy("doc_id").agg(
        F.round(F.sqrt(F.sum(F.col("w") * F.col("w"))), 9).alias("nrm")
    )
    # exchange-reuse aliasing: both join sides are the SAME weight plan
    wa, wb = w.alias("_wa"), w.alias("_wb")
    dots = (
        wa.join(
            wb,
            (F.col("_wa.token") == F.col("_wb.token"))
            & (F.col("_wa.doc_id") < F.col("_wb.doc_id")),
        )
        .groupBy(
            F.col("_wa.doc_id").alias("id_a"), F.col("_wb.doc_id").alias("id_b")
        )
        .agg(F.sum(F.col("_wa.w") * F.col("_wb.w")).alias("dot"))
    )
    na, nb = norms.alias("_na"), norms.alias("_nb")
    scored = (
        dots.join(na, F.col("id_a") == F.col("_na.doc_id"))
        .join(nb, F.col("id_b") == F.col("_nb.doc_id"))
        .select(
            "id_a",
            "id_b",
            F.round(F.col("dot") / (F.col("_na.nrm") * F.col("_nb.nrm")), 9).alias("cos_q"),
        )
    )
    # each unordered pair scored once; both directions rank
    sym = scored.select("id_a", "id_b", "cos_q").union(
        scored.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"), "cos_q"
        )
    )
    rw = Window.partitionBy("id_a").orderBy(F.col("cos_q").desc(), F.col("id_b").asc())
    return (
        sym.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= k)
        .select(
            F.col("id_a").alias("doc_id"),
            F.col("id_b").alias("neighbor_id"),
            F.col("rank").cast("int").alias("rank"),
            F.round("cos_q", 6).alias("cosine"),
        )
    )


def tfidf_topk_sql(
    n_docs_sql: str,
    k: int = 3,
) -> str:
    """DuckDB replica; ``n_docs_sql`` is a scalar subquery for N so the
    oracle recomputes the corpus size rather than pinning a constant."""
    from ..functions.text_quality import words_sql

    words = words_sql("text")
    return f"""
WITH nn AS (SELECT ({n_docs_sql}) AS n),
toks AS (
  SELECT doc_id AS doc_id, t.token, count(*) AS tf
  FROM documents, LATERAL unnest({words}) AS t(token)
  GROUP BY 1, 2),
dfreq AS (
  SELECT token, count(*) AS df_t FROM toks GROUP BY token
  HAVING count(*) <= (SELECT cast(floor({DF_CAP_FRAC} * n) as bigint) FROM nn)),
w AS (
  SELECT toks.token, toks.doc_id,
         round(cast(tf as double) * (ln(cast((SELECT n FROM nn) + 1 as double)
               / cast(df_t + 1 as double)) + 1.0), 9) AS w
  FROM toks JOIN dfreq USING (token)),
norms AS (SELECT doc_id, round(sqrt(sum(w * w)), 9) AS nrm FROM w GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w) AS dot
  FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
scored AS (
  SELECT id_a, id_b,
         round(dot / (na.nrm * nb.nrm), 9) AS cos_q
  FROM dots
  JOIN norms na ON dots.id_a = na.doc_id
  JOIN norms nb ON dots.id_b = nb.doc_id),
sym AS (
  SELECT id_a, id_b, cos_q FROM scored
  UNION ALL
  SELECT id_b, id_a, cos_q FROM scored),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY cos_q DESC, id_b ASC) AS rank
  FROM sym)
SELECT id_a AS doc_id, id_b AS neighbor_id, cast(rank as int) AS rank,
       round(cos_q, 6) AS cosine
FROM ranked WHERE rank <= {k}
"""
