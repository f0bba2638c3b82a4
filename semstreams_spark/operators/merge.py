"""Entity-graph materialization: LWW merge, node table, edge upsert.

Batch (and foreachBatch) forms of the reference's stateful entity merge:

- **LWW merge** — ``MergeTriples`` keeps the newer triple per
  (Subject, Predicate) and carries non-conflicting older ones forward
  (``graph/helpers.go:101-134``). Spark form: hash aggregation
  ``max_by(value, struct(ts, seq, object))`` per (subject, predicate)
  — map-side combinable. The reference breaks ties by arrival order (it stamps
  ``time.Now()``, ``messagemanager/processor.go:237``); our engine
  defines the deterministic contract ``(ts, seq=turn_idx, object)`` so
  output is bit-reproducible for any input file order (SURVEY §4.2.4).

- **Node table** — one row per entity (``graph/types.go:88-104``):
  id, type (5th dot-part of the 6-part id,
  ``messagemanager/processor.go:517-526``), status, version (count of
  merged updates, reference increments per update), updated_at. The
  per-subject aggregate form is ``tests/merge_reference.nodes_table``.

- **Edge upsert** — relationship triples (object is a valid 6-part
  entity id, ``message/triple.go:118-147``) become edges keyed
  ``(src, dst, edge_type)`` where the newest wins
  (``types/graph/types.go:125-134``); edge_type derives from the
  predicate by swapping the last two dot-parts
  (``messagemanager/processor.go:501-515``), e.g.
  ``conv.turn.mentions`` → ``mentions_turn``.

All pure Catalyst: window functions + aggregations, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..extract.triples import (
    IN_EDGE,
    MENTIONS_EDGE,
    SOURCE,
    conversation_id,
    mention_ids,
    mention_triple,
    no_triples,
    node_type,
    property_triples,
    turn_subject,
)

# Deterministic LWW ordering contract: (ts, seq=turn_idx, object),
# greatest wins — shared by entity_states and the DuckDB oracles.


def predicate_to_edge_type(pred: Column) -> Column:
    """'a.b.c' -> 'c_b' (last two parts swapped, '_'-joined); 1-part ids pass through."""
    parts = F.split(pred, r"\.")
    return F.when(
        F.size(parts) >= 2,
        F.concat_ws("_", F.element_at(parts, -1), F.element_at(parts, -2)),
    ).otherwise(pred)


def entity_states(triples: DataFrame) -> DataFrame:
    """Latest (object, object_type, ts) per (subject, predicate) — the flat
    entity-state table (one row per live property/relationship).

    Implemented as a hash aggregation (``max_by`` over the LWW ordering
    struct) rather than a row_number window: partial aggregation runs
    map-side so the shuffle carries one candidate row per key per input
    partition instead of every triple, and no per-partition sort is
    needed — the difference between O(n log n) + full shuffle and O(n) +
    combiner shuffle at 10^12 rows. Tie-break identical to the window
    form: lexicographic struct (ts, seq, object)."""
    winner = F.max_by(
        F.struct("object", "object_type", "source", "ts", "confidence", "context"),
        F.struct("ts", "seq", "object"),
    )
    return (
        triples.groupBy("subject", "predicate")
        .agg(winner.alias("w"))
        .select("subject", "predicate", "w.object", "w.object_type", "w.source", "w.ts", "w.confidence", "w.context")
    )


def entity_states_source_clustered(transcripts: DataFrame) -> DataFrame:
    """``entity_states(extract_triples(transcripts))`` computed WITHOUT the
    aggregation exchange — the §8-style "use what the optimizer cannot know"
    form for inputs where ``(conv_id, turn_idx)`` is unique (the transcript
    table contract, FIXTURES §1; asserted by
    ``tests/test_merge.py::test_transcript_key_uniqueness``).

    Under that invariant every LWW group ``(subject, predicate)`` originates
    from exactly ONE transcript row (subject embeds the row key), so the
    ``max_by(…, struct(ts, seq, object))`` winner is computable inside the
    scan task, with no shuffle:

    - the singleton predicates are their own winners: the row's
      ``property_triples()``;
    - all mention triples of a turn share ``(ts, seq)``, so the winner is
      ``mention_triple`` of the greatest id — ``array_max`` over
      ``mention_ids()`` (same binary string ordering as the aggregate).

    Ids and triples come from the builders in ``extract.triples``.

    Output schema and rows are identical to the aggregated form (parity
    test ``tests/test_merge.py::test_entity_states_source_clustered_parity``,
    DuckDB gate ``entity_states``). The general :func:`entity_states` stays
    the operator for arbitrary triple streams, where groups span rows.

    Plan shape: Scan → Generate → Project (was: Scan → Generate → Sort →
    SortAggregate → Exchange → Sort → SortAggregate) — the whole sort +
    shuffle of the 5-7× triple fan-out (with text payloads) is gone.
    """
    ids = mention_ids()
    winner = F.when(F.size(ids) > 0, F.array(mention_triple(F.array_max(ids)))).otherwise(no_triples())
    return (
        transcripts.select(
            turn_subject().alias("subject"),
            F.explode(F.concat(property_triples(), winner)).alias("t"),
            "ts",
            F.col("conv_id").alias("context"),
        )
        .select(
            "subject",
            F.col("t.predicate").alias("predicate"),
            F.col("t.object").alias("object"),
            F.col("t.object_type").alias("object_type"),
            F.lit(SOURCE).alias("source"),
            "ts",
            F.lit(1.0).alias("confidence"),
            "context",
        )
    )


def nodes_table_source_clustered(transcripts: DataFrame) -> DataFrame:
    """The node table of ``extract_triples(transcripts)`` without the exchange,
    under the same unique-``(conv_id, turn_idx)`` contract as
    :func:`entity_states_source_clustered`: each node id embeds the row key,
    so per-node aggregates collapse per input row — ``version`` (distinct
    ``(ts, seq)`` events) is exactly 1 and ``updated_at`` is the row's own
    ``ts``. Parity-tested + gated (``graph_nodes``)."""
    return transcripts.select(
        turn_subject().alias("id"),
        node_type(turn_subject()).alias("type"),
        F.lit("active").alias("status"),
        F.lit(1).cast("long").alias("version"),
        F.col("ts").alias("updated_at"),
    )


def graph_snapshot(
    nodes: DataFrame, start: Column, end: Column, entity_types: list[str], max_entities: int
) -> tuple[DataFrame, bool]:
    """Bounded graph snapshot (GraphSnapshot, ``querymanager/query.go:276-346``):
    the nodes of ``entity_types`` updated in [start, end), deduplicated by
    id, the first ``max_entities`` by id, and whether more matched
    (``query.go:320-327``)."""
    out = (
        nodes.filter(F.col("type").isin(entity_types))
        .filter(F.col("updated_at") >= start)
        .filter(F.col("updated_at") < end)
        .dropDuplicates(["id"])
    )
    # limit(max+1) probe: the scan early-stops after max+1 rows instead of
    # a full count over the node set
    truncated = out.limit(max_entities + 1).count() > max_entities
    return out.orderBy("id").limit(max_entities), truncated


def edges_table_source_clustered(transcripts: DataFrame) -> DataFrame:
    """``edges_table(extract_triples(transcripts))`` without the exchange,
    under the unique-``(conv_id, turn_idx)`` contract: the edge key
    ``(src, dst, edge_type)`` has ``src`` = the turn subject, so every edge
    group lives inside one input row — the in-edge is a singleton and each
    distinct mention id aggregates its occurrence count within the row's
    own mention array. Parity-tested + gated (``graph_edges``)."""
    ids = mention_ids()
    e3 = lambda dst, et, n: F.struct(  # noqa: E731
        dst.alias("dst"), F.lit(et).alias("edge_type"), n.alias("n_obs")
    )
    empty = F.array().cast("array<struct<dst:string,edge_type:string,n_obs:bigint>>")
    in_edge = e3(conversation_id(), IN_EDGE, F.lit(1).cast("long"))
    md = F.array_distinct(ids)
    mention_edges = F.when(
        F.size(md) > 0,
        F.transform(
            md,
            lambda m: e3(m, MENTIONS_EDGE, F.size(F.filter(ids, lambda x: x == m)).cast("long")),
        ),
    ).otherwise(empty)
    return (
        transcripts.select(
            turn_subject().alias("src"),
            F.explode(F.concat(F.array(in_edge), mention_edges)).alias("e"),
            "ts",
        )
        .select(
            "src",
            F.col("e.dst").alias("dst"),
            F.col("e.edge_type").alias("edge_type"),
            F.lit(1.0).alias("weight"),
            F.col("ts").alias("created_at"),
            F.col("ts").alias("updated_at"),
            F.col("e.n_obs").alias("n_obs"),
        )
    )


def edges_table(triples: DataFrame) -> DataFrame:
    """Edge upsert from relationship triples.

    Key (src, dst, edge_type); newest observation wins for weight/properties
    (``types/graph/types.go:125-134``), created_at keeps the earliest
    observation, n_obs counts observations (drives co-occurrence weights).
    """
    rel = triples.filter(F.col("object_type") == "entity_ref")
    return (
        rel.select(
            F.col("subject").alias("src"),
            F.col("object").alias("dst"),
            predicate_to_edge_type(F.col("predicate")).alias("edge_type"),
            "confidence",
            "ts",
        )
        .groupBy("src", "dst", "edge_type")
        .agg(
            F.max_by("confidence", F.struct("ts")).alias("weight"),
            F.min("ts").alias("created_at"),
            F.max("ts").alias("updated_at"),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )
