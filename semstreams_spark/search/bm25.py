"""BM25 search, Spark-first.

Reference: hashed BM25 embedder (``pkg/embedding/bm25_embedder.go:46-293``,
k1=1.5 b=0.75), brute-force cosine semantic search
(``indexmanager/semantic.go:240-377``), hybrid candidate filtering
(``semantic.go:441-709``).

Design notes vs the reference:
- the reference updates corpus IDF **online** (order-dependent,
  ``bm25_embedder.go:207-231``); our IDF is a separate deterministic
  aggregation pass (SURVEY §7.2) — reproducible and parallel.
- instead of dense 384-dim hashed vectors we keep the classic sparse
  inverted-index form (term → postings); scoring is a broadcast join of
  query terms against postings + groupBy doc — the idiomatic Spark shape
  at 100 TB (no N·d dense math, shuffle bounded by posting sizes).
- IDF smoothing: ln((N - df + 0.5)/(df + 0.5) + 1)  [canonical BM25+1]
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.textops import query_terms, tokens

K1 = 1.5
B = 0.75
# documents each search returns
TOP_K = 10
# the language hybrid_search keeps
HYBRID_LANG = "en"


def bm25_search(docs: DataFrame, query: str) -> DataFrame:
    """Top-``TOP_K`` BM25 scores of (doc_id, text) documents for a query string.
    Deterministic: per-term scores are computed exactly; the per-doc sum
    is over ≤|query| terms (rounded to 6dp for cross-engine hash
    stability).

    r6 plan reshape (guide §2.3 — shuffle fewer bytes): the full
    (term, doc) postings aggregation over the whole vocabulary is only
    needed for the QUERY terms, so the token stream is filtered to them
    BEFORE that aggregation; document lengths / corpus stats still scan
    all tokens, but collapse map-side to one row per doc. The old form
    derived the token explode five times (dl, tf, df, stats, join) — the
    reshape derives it twice and every join side after it is tiny.
    Scores are value-identical (same tf/dl/df/N inputs; oracle-gated)."""
    qterms = query_terms(query)
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl")).localCheckpoint(eager=False)
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("term").isin(qterms))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    p = tf.join(dl, "doc_id")
    df_ = p.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    scored = (
        p.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
            ),
        )
        .withColumn(
            "score_t",
            F.col("idf")
            * (F.col("tf") * (K1 + 1))
            / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("score_t"), 6).alias("score"), F.count(F.lit(1)).alias("n_terms_hit"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(TOP_K)
    )


def hybrid_search(docs: DataFrame, query: str) -> DataFrame:
    """Hybrid search: a structured filter first (temporal/spatial/type in
    the reference; ``lang == HYBRID_LANG`` here), BM25 scoring of the
    survivors only (G10)."""
    return bm25_search(docs.filter(F.col("lang") == HYBRID_LANG), query)
