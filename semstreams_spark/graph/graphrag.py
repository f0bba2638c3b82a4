"""GraphRAG Local / Global search (G11/G12).

Reference:
- LocalSearch (``querymanager/graphrag_search.go:43-106``): entity's
  community → load members → text-match filter.
- GlobalSearch (``graphrag_search.go:115-200``): score every community
  summary (summary-match weight 2.0, keyword-match weight 1.5,
  ``:23-28``), take top-N communities (default 5), load members, dedup,
  rerank by per-entity text match.

Spark shape: joins over the membership/summary tables produced by
``graph.lpa`` + ``graph.summarize`` — no KV point-gets; community
scoring is one pass over the (small) summary table, member load is a
semi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SUMMARY_WEIGHT = 2.0  # graphrag_search.go:23-28
KEYWORD_WEIGHT = 1.5
MAX_ENTITIES = 10_000  # reference entity cap


def _terms(query: str) -> list[str]:
    return sorted({t for t in query.lower().split() if t})


def _match_count(col, terms: list[str]):
    """Number of query terms contained in the (lowercased) text column."""
    score = F.lit(0)
    for t in terms:
        score = score + F.when(F.lower(col).contains(t), F.lit(1)).otherwise(F.lit(0))
    return score


def local_search(
    members: DataFrame,  # (entity, community)
    node_texts: DataFrame,  # (entity, text)
    entity: str,
    query: str,
) -> DataFrame:
    """Members of `entity`'s community whose text matches the query,
    scored by matched-term count (desc, entity asc)."""
    terms = _terms(query)
    community = members.filter(F.col("entity") == entity).select("community")
    cohort = members.join(F.broadcast(community), "community", "left_semi")
    scored = (
        cohort.join(node_texts, "entity", "left")
        .withColumn("score", _match_count(F.col("text"), terms))
        .filter(F.col("score") > 0)
    )
    return scored.select("entity", "community", "score").orderBy(
        F.desc("score"), F.asc("entity")
    )


def global_search(
    members: DataFrame,  # (entity, community)
    summaries: DataFrame,  # (community, summary, keywords)
    node_texts: DataFrame,  # (entity, text)
    query: str,
    top_communities: int = 5,
) -> DataFrame:
    """Score summaries → top-N communities → members → dedup → rerank.

    Returns (entity, community, community_score, entity_score) ordered by
    (entity_score desc, community_score desc, entity asc), capped at
    MAX_ENTITIES."""
    terms = _terms(query)
    comm_scored = (
        summaries.withColumn(
            "community_score",
            F.lit(SUMMARY_WEIGHT) * _match_count(F.col("summary"), terms)
            + F.lit(KEYWORD_WEIGHT) * _match_count(F.col("keywords"), terms),
        )
        .filter(F.col("community_score") > 0)
        .orderBy(F.desc("community_score"), F.asc("community"))
        .limit(top_communities)
    )
    cohort = members.join(
        F.broadcast(comm_scored.select("community", "community_score")), "community"
    ).dropDuplicates(["entity"])
    reranked = cohort.join(node_texts, "entity", "left").withColumn(
        "entity_score", _match_count(F.col("text"), terms)
    )
    return (
        reranked.select("entity", "community", "community_score", "entity_score")
        .orderBy(F.desc("entity_score"), F.desc("community_score"), F.asc("entity"))
        .limit(MAX_ENTITIES)
    )
