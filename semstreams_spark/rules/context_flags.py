"""Context flags (R8): bounded path query from an entity + rule
evaluation over the connected neighborhood → boolean flags.

Reference: ``processor/context/processor.go:409-533`` — walk a bounded
path from the subject entity, evaluate edge/property/status rules over
the nodes on the path, publish a flags map with a context-ready event.

Spark shape: graph.traversal bounded BFS over the undirected (src, dst)
edges supplies the neighborhood;
rules.engine evaluates over the neighborhood's entity states; the flag
for a rule is "any entity in the neighborhood matches".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph.traversal import bounded_traversal
from .engine import Rule, evaluate_rules


def context_flags_df(
    edges: DataFrame,
    entity_states: DataFrame,
    start_entity: str,
    rules: list[Rule],
    max_depth: int = 2,
) -> DataFrame:
    """Evaluate rules over the ≤max_depth neighborhood of start_entity,
    following (src, dst) edges in both directions:
    one (rule_id, flag) row per enabled rule — flag true iff ANY entity
    in the bounded neighborhood matches. The reference replies the same
    flags as a map over NATS; ``{r.rule_id: r.flag for r in collect()}``
    is that point-reply shape."""
    spark = edges.sparkSession
    hood = bounded_traversal(edges, start_entity, max_depth=max_depth).select(
        F.col("entity").alias("subject")
    )
    local_states = entity_states.join(F.broadcast(hood), "subject", "left_semi")
    fired = (
        evaluate_rules(local_states, rules)
        .select("rule_id")
        .distinct()
        .withColumn("flag", F.lit(True))
    )
    all_rules = spark.createDataFrame(
        [(r.id,) for r in rules if r.enabled], "rule_id string"
    )
    return all_rules.join(fired, "rule_id", "left").select(
        "rule_id", F.coalesce(F.col("flag"), F.lit(False)).alias("flag")
    )
