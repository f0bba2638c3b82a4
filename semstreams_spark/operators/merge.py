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
    CONVERSATION_ID,
    IN_EDGE,
    MENTION_IDS,
    MENTION_TRIPLE,
    MENTIONS_EDGE,
    NO_TRIPLES,
    NODE_TYPE,
    PROPERTY_TRIPLES,
    SOURCE,
    TURN_SUBJECT,
)

# Deterministic LWW ordering contract: (ts, seq=turn_idx, object),
# greatest wins — shared by entity_states and the DuckDB oracles.


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
      ``PROPERTY_TRIPLES``;
    - all mention triples of a turn share ``(ts, seq)``, so the winner is
      the ``MENTION_TRIPLE`` of the greatest id — ``array_max`` over
      ``MENTION_IDS`` (same binary string ordering as the aggregate).

    Ids and triples are the SQL texts of ``extract.triples``.

    Output schema and rows are identical to the aggregated form (parity
    test ``tests/test_merge.py::test_entity_states_source_clustered_parity``,
    DuckDB gate ``entity_states``). The general :func:`entity_states` stays
    the operator for arbitrary triple streams, where groups span rows.

    Plan shape: Scan → Generate → Project (was: Scan → Generate → Sort →
    SortAggregate → Exchange → Sort → SortAggregate) — the whole sort +
    shuffle of the 5-7× triple fan-out (with text payloads) is gone.
    """
    winner = (
        f"case when size({MENTION_IDS}) > 0 "
        f"then array({MENTION_TRIPLE.format(f'array_max({MENTION_IDS})')}) else {NO_TRIPLES} end"
    )
    return transcripts.selectExpr(
        f"{TURN_SUBJECT} as subject",
        f"explode(concat({PROPERTY_TRIPLES}, {winner})) as t",
        "ts",
        "conv_id as context",
    ).selectExpr(
        "subject",
        "t.predicate as predicate",
        "t.object as object",
        "t.object_type as object_type",
        f"'{SOURCE}' as source",
        "ts",
        "1.0D as confidence",
        "context",
    )


def nodes_table_source_clustered(transcripts: DataFrame) -> DataFrame:
    """The node table of ``extract_triples(transcripts)`` without the exchange,
    under the same unique-``(conv_id, turn_idx)`` contract as
    :func:`entity_states_source_clustered`: each node id embeds the row key,
    so per-node aggregates collapse per input row — ``version`` (distinct
    ``(ts, seq)`` events) is exactly 1 and ``updated_at`` is the row's own
    ``ts``. Parity-tested + gated (``graph_nodes``)."""
    return transcripts.selectExpr(
        f"{TURN_SUBJECT} as id",
        f"{NODE_TYPE.format(TURN_SUBJECT)} as type",
        "'active' as status",
        "cast(1 as bigint) as version",
        "ts as updated_at",
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
    """The edge table of ``extract_triples(transcripts)`` without the exchange
    (its per-key aggregate twin is ``tests/merge_reference.edges_table``),
    under the unique-``(conv_id, turn_idx)`` contract: the edge key
    ``(src, dst, edge_type)`` has ``src`` = the turn subject, so every edge
    group lives inside one input row — the in-edge is a singleton and each
    distinct mention id aggregates its occurrence count within the row's
    own mention array. Parity-tested + gated (``graph_edges``)."""
    e3 = lambda dst, et, n: f"struct({dst} as dst, '{et}' as edge_type, {n} as n_obs)"  # noqa: E731
    md = f"array_distinct({MENTION_IDS})"
    n_obs = f"cast(size(filter({MENTION_IDS}, x -> x = m)) as bigint)"
    mention_edges = (
        f"case when size({md}) > 0 then transform({md}, m -> {e3('m', MENTIONS_EDGE, n_obs)}) "
        "else cast(array() as array<struct<dst:string,edge_type:string,n_obs:bigint>>) end"
    )
    in_edge = e3(CONVERSATION_ID, IN_EDGE, "cast(1 as bigint)")
    return transcripts.selectExpr(
        f"{TURN_SUBJECT} as src",
        f"explode(concat(array({in_edge}), {mention_edges})) as e",
        "ts",
    ).selectExpr(
        "src",
        "e.dst as dst",
        "e.edge_type as edge_type",
        "1.0D as weight",
        "ts as created_at",
        "ts as updated_at",
        "e.n_obs as n_obs",
    )
