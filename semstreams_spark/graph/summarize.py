"""Community summarization (G5): TF keyword extraction + template summary.

Reference: ``pkg/graphclustering/summarizer.go:45-410`` (stopworded TF
keyword ranking ``extractTerms :383``, type-frequency template). The
async LLM enhancement worker (G6, ``enhancement_worker.go``) is an
external HTTP service and has no counterpart here.

Spark shape: one explode + two groupBy levels + window top-k; the
template summary is a format_string over aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.textops import tokens

STOPWORDS = (
    "the a an and or of to in is it that for on with as at by this be are was".split()
)
# keywords kept per community summary
K_TERMS = 5


def top_terms(docs: DataFrame, group_col: str | None = None, k: int = 10) -> DataFrame:
    """TF term ranking (T5) of the ``text`` column: stopworded token
    counts, top-k overall or per group; deterministic tie-break (count
    desc, term asc)."""
    t = docs.select(
        *([group_col] if group_col else []),
        F.explode(tokens(F.col("text"))).alias("term"),
    ).filter(~F.col("term").isin(STOPWORDS))
    keys = [group_col, "term"] if group_col else ["term"]
    counts = t.groupBy(*keys).agg(F.count(F.lit(1)).alias("tf"))
    if group_col:
        w = Window.partitionBy(group_col).orderBy(F.desc("tf"), F.asc("term"))
        return counts.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    return counts.orderBy(F.desc("tf"), F.asc("term")).limit(k)


def community_summaries(
    members: DataFrame,  # (entity, community)
    node_texts: DataFrame,  # (entity, text) — e.g. latest text property
) -> DataFrame:
    """Per-community statistical summary: size, top ``K_TERMS`` terms,
    template text.

    Mirrors the reference's "statistical summary < 1ms" path
    (``GRAPHRAG_LESSONS_LEARNED.md:241``): no external calls.
    """
    joined = members.join(node_texts, "entity", "left")
    terms = top_terms(joined.filter(F.col("text").isNotNull()), "community", K_TERMS)
    term_lists = terms.groupBy("community").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("rank", "term"))),
                lambda s: s["term"],
            ),
            ", ",
        ).alias("keywords")
    )
    sizes = members.groupBy("community").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        sizes.join(term_lists, "community", "left")
        .select(
            "community",
            "n_members",
            F.coalesce("keywords", F.lit("")).alias("keywords"),
            F.format_string(
                "Community %s: %d members; key terms: %s",
                F.col("community"),
                F.col("n_members"),
                F.coalesce("keywords", F.lit("none")),
            ).alias("summary"),
        )
    )
