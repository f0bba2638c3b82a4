"""Entity delete / tombstone mutations.

Reference: entity delete and edge removal in the graph processor
(``processor/graph/mutations.go:169`` DeleteEntity, ``:354`` edge
cleanup), and the rule processor reacting to DELETED state changes
(``processor/rule/entity_watcher.go:60-109``).

Model: a **deletes table** ``(entity_id, ts)`` of tombstone events,
merged with entity state by event-time LWW. Two Column rules state the
contract, and every operator below applies it only through them:

- ``tombstoned``: a node last updated at or before its last tombstone
  is deleted (delete wins ties — deterministic contract, SURVEY §4.2.4);
- ``survives``: a state row or edge lives only if it was seen strictly
  after its entity's last tombstone, so a later update RECREATES the
  entity (status back to active, version keeps counting — the reference
  bumps Version on every mutation).

All pure Catalyst: the tombstone dimension is tiny relative to state, so
every join below broadcasts; at 10^12 rows the state side never
shuffles for these operators. ``entity_status`` joins one broadcast to
both ends of an edge, so the second join reuses the first's exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..extract.triples import mention_ids, turn_subject


def tombstoned(updated_at: Column, deleted_at: Column) -> Column:
    """Status rule: state last updated at ``updated_at`` is deleted when
    its last tombstone is at or after it (delete wins ties)."""
    return deleted_at.isNotNull() & (deleted_at >= updated_at)


def survives(seen_at: Column, deleted_at: Column) -> Column:
    """Edge and state-row rule: a row seen at ``seen_at`` survives when its
    entity has no tombstone or it is strictly newer than the last one."""
    return deleted_at.isNull() | (seen_at > deleted_at)


def latest_deletes(deletes: DataFrame) -> DataFrame:
    """(entity_id, deleted_at, n_deletes): last tombstone per entity."""
    return deletes.groupBy("entity_id").agg(
        F.max("ts").alias("deleted_at"), F.count(F.lit(1)).alias("n_deletes")
    )


def apply_deletes(states: DataFrame, deletes: DataFrame, subject_col: str = "subject") -> DataFrame:
    """Flat state table minus tombstoned rows: a property row survives iff
    it is strictly newer than its subject's last tombstone (recreate
    semantics — ``mutations.go:169`` removes state, later upserts
    re-add it)."""
    d = latest_deletes(deletes).select("entity_id", "deleted_at")
    out = states.join(
        F.broadcast(d), states[subject_col] == d["entity_id"], "left"
    )
    return out.filter(survives(F.col("ts"), F.col("deleted_at"))).drop(
        "entity_id", "deleted_at"
    )


def nodes_with_status(nodes: DataFrame, deletes: DataFrame) -> DataFrame:
    """Node table with tombstone status: ``deleted`` when the last
    tombstone is >= the node's last update (delete wins ties), ``active``
    otherwise (including recreated entities); version bumps by the number
    of tombstones (reference CAS version bump per mutation,
    ``datamanager/manager.go:693-743``). Adds ``deleted_at`` (null when
    never tombstoned)."""
    d = latest_deletes(deletes)
    out = nodes.join(F.broadcast(d), nodes["id"] == d["entity_id"], "left")
    return out.select(
        "id",
        "type",
        _status(F.col("updated_at"), F.col("deleted_at")),
        _bumped(F.col("version"), F.col("n_deletes")),
        "updated_at",
        "deleted_at",
    )


def _status(updated_at: Column, deleted_at: Column) -> Column:
    return F.when(tombstoned(updated_at, deleted_at), F.lit("deleted")).otherwise(
        F.lit("active")
    ).alias("status")


def _bumped(version: Column, n_deletes: Column) -> Column:
    return (version + F.coalesce(n_deletes, F.lit(0))).alias("version")


def edges_after_deletes(edges: DataFrame, deletes: DataFrame) -> DataFrame:
    """Edge cleanup (``mutations.go:354``): drop edges whose src OR dst
    entity is tombstoned at-or-after the edge's last observation; an edge
    observed after the tombstone (recreated entity) survives."""
    d = latest_deletes(deletes).select("entity_id", "deleted_at")
    out = edges
    for side in ("src", "dst"):
        dd = d.select(
            F.col("entity_id").alias(f"_{side}_id"), F.col("deleted_at").alias(f"_{side}_del")
        )
        out = out.join(F.broadcast(dd), out[side] == dd[f"_{side}_id"], "left").filter(
            survives(F.col("updated_at"), F.col(f"_{side}_del"))
        ).drop(f"_{side}_id", f"_{side}_del")
    return out


def entity_status(transcripts: DataFrame, deletes: DataFrame) -> DataFrame:
    """``nodes_with_status`` of every mentioned entity plus its live
    mention in-edge count, from one transcript scan and one
    ``groupBy(id)`` over the mention edges.

    A mention edge runs from a turn subject to each distinct entity id the
    turn mentions, seen at the turn's ts (the ``mentions_turn`` rows of
    ``edges_table_source_clustered``). A node's version counts its
    distinct (ts, turn_idx) observations plus its tombstones,
    ``updated_at`` is its latest observation, and ``n_live_edges`` counts
    the edges that survive the tombstones of both their ends
    (``edges_after_deletes``). Returns (id, status, version, updated_at,
    deleted_at, n_live_edges)."""
    mentions = transcripts.select(
        turn_subject().alias("src"),
        F.explode(F.array_distinct(mention_ids())).alias("dst"),
        "ts",
        F.col("turn_idx").cast("int").alias("seq"),
    )
    # each entity's tombstone times in one column: both edge ends need all
    # of it, so the dst join reuses the src join's broadcast
    tombs = F.broadcast(deletes.groupBy("entity_id").agg(F.collect_list("ts").alias("tombs")))
    j = mentions.join(tombs.alias("s"), F.col("src") == F.col("s.entity_id"), "left").join(
        tombs.alias("d"), F.col("dst") == F.col("d.entity_id"), "left"
    )
    src_del, dst_del = F.array_max("s.tombs"), F.array_max("d.tombs")
    live = survives(F.col("ts"), src_del) & survives(F.col("ts"), dst_del)
    # hashed on dst, one exchange serves both the distinct (dst, ts, seq)
    # step of count_distinct and the per-dst aggregate
    g = j.repartition("dst").groupBy(F.col("dst").alias("id")).agg(
        F.count_distinct("ts", "seq").alias("version"),
        F.max("ts").alias("updated_at"),
        F.max(dst_del).alias("deleted_at"),
        F.max(F.array_size("d.tombs")).alias("n_deletes"),
        F.count(F.when(live, 1)).alias("n_live_edges"),
    )
    return g.select(
        "id",
        _status(F.col("updated_at"), F.col("deleted_at")),
        _bumped(F.col("version"), F.col("n_deletes")),
        "updated_at",
        "deleted_at",
        "n_live_edges",
    )


def deletion_events(deletes: DataFrame, rule_id: str = "entity_deleted") -> DataFrame:
    """DELETED-trigger rule path (``entity_watcher.go:60-109``): one rule
    event per tombstone, same (rule_id, entity_id, ts) shape as
    rules.evaluate_rules output so it unions into the event stream."""
    return deletes.select(
        F.lit(rule_id).alias("rule_id"), F.col("entity_id"), F.col("ts")
    )
