"""Entity delete / tombstone mutations.

Reference: entity delete and edge removal in the graph processor
(``processor/graph/mutations.go:169`` DeleteEntity, ``:354`` edge
cleanup).

Model: a **deletes table** ``(entity_id, ts)`` of tombstone events,
merged with entity state by event-time LWW. Two rules state the contract,
each once as an SQL-text template over SQL expressions of the row in
scope, and ``entity_status`` applies the contract only through them:

- ``TOMBSTONED``: a node last updated at or before its last tombstone
  is deleted (delete wins ties — deterministic contract, SURVEY §4.2.4);
- ``SURVIVES``: an edge lives only if it was seen strictly after the
  last tombstone of each of its ends, so a later update RECREATES the
  entity (status back to active, version keeps counting — the reference
  bumps Version on every mutation).

All pure Catalyst: the tombstone dimension is tiny relative to state, so
the joins broadcast; at 10^12 rows the node and edge sides never shuffle
for them. ``entity_status`` joins one broadcast to both ends of an edge,
so the second join reuses the first's exchange. Its
expressions are SQL texts the JVM parses in one py4j call each, where
the Column API pays a round trip per ``F.*`` node; the plans are the same.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..extract.triples import MENTION_IDS, TURN_SUBJECT

# status rule: a node last updated at ``updated_at`` is deleted when its
# last tombstone is at or after it (delete wins ties)
TOMBSTONED = "({deleted_at} is not null and {deleted_at} >= {updated_at})"
# edge rule: an edge seen at ``seen_at`` survives an end that has no
# tombstone or whose last one is strictly older
SURVIVES = "({deleted_at} is null or {seen_at} > {deleted_at})"

_STATUS = (
    f"case when {TOMBSTONED.format(updated_at='updated_at', deleted_at='deleted_at')} "
    "then 'deleted' else 'active' end as status"
)
_BUMPED = "version + coalesce(n_deletes, 0) as version"


def entity_status(transcripts: DataFrame, deletes: DataFrame) -> DataFrame:
    """Tombstone status of every mentioned entity plus its live mention
    in-edge count, from one transcript scan and one ``groupBy(id)`` over
    the mention edges: ``deleted`` when the last tombstone is >= the
    node's last update (delete wins ties), ``active`` otherwise (including
    recreated entities); version bumps by the number of tombstones
    (reference CAS version bump per mutation,
    ``datamanager/manager.go:693-743``).

    A mention edge runs from a turn subject to each distinct entity id the
    turn mentions, seen at the turn's ts (the ``mentions_turn`` rows of
    ``edges_table_source_clustered``). A node's version counts its
    distinct (ts, turn_idx) observations plus its tombstones,
    ``updated_at`` is its latest observation, and ``n_live_edges`` counts
    the edges that survive the tombstones of both their ends (edge
    cleanup, ``mutations.go:354``). Returns (id, status, version, updated_at,
    deleted_at, n_live_edges)."""
    mentions = transcripts.selectExpr(
        f"{TURN_SUBJECT} as src",
        f"explode(array_distinct({MENTION_IDS})) as dst",
        "ts",
        "cast(turn_idx as int) as seq",
    )
    # each entity's tombstone times in one column: both edge ends need all
    # of it, so the dst join reuses the src join's broadcast
    tombs = F.broadcast(deletes.groupBy("entity_id").agg(F.expr("collect_list(ts) as tombs")))
    j = mentions.join(tombs.alias("s"), F.expr("src = s.entity_id"), "left").join(
        tombs.alias("d"), F.expr("dst = d.entity_id"), "left"
    )
    src_del, dst_del = "array_max(s.tombs)", "array_max(d.tombs)"
    live = " and ".join(SURVIVES.format(seen_at="ts", deleted_at=d) for d in (src_del, dst_del))
    # hashed on dst, one exchange serves both the distinct (dst, ts, seq)
    # step of count_distinct and the per-dst aggregate
    g = j.repartition("dst").groupBy(F.expr("dst as id")).agg(
        F.expr("count(distinct ts, seq) as version"),
        F.expr("max(ts) as updated_at"),
        F.expr(f"max({dst_del}) as deleted_at"),
        F.expr("max(array_size(d.tombs)) as n_deletes"),
        F.expr(f"count(case when {live} then 1 end) as n_live_edges"),
    )
    return g.selectExpr(
        "id", _STATUS, _BUMPED, "updated_at", "deleted_at", "n_live_edges"
    )
