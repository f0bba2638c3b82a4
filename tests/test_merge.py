"""LWW merge semantics — mirrors the reference's MergeTriples contract
(graph/helpers.go:101-134): newer wins per (subject, predicate),
non-conflicting old triples kept; edge upsert keyed (src,dst,edge_type)
(types/graph/types.go:125-134). Late rows must NOT overwrite newer state."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from merge_reference import nodes_table
from semstreams_spark.operators import edges_table, entity_states

TS = dt.datetime(2025, 1, 1)


def _triples(spark, rows):
    cols = ["subject", "predicate", "object", "object_type", "source", "ts", "confidence", "context", "seq"]
    return spark.createDataFrame(rows, schema=cols)


def base(subj, pred, obj, ts_offset_s, seq, otype="string"):
    return (subj, pred, obj, otype, "x", TS + dt.timedelta(seconds=ts_offset_s), 1.0, "c", seq)


def test_newer_wins(spark):
    t = _triples(
        spark,
        [
            base("a.b.c.d.e.1", "p.q.r", "old", 0, 0),
            base("a.b.c.d.e.1", "p.q.r", "new", 10, 1),
            base("a.b.c.d.e.1", "other.pred", "kept", 0, 0),
        ],
    )
    st = {(r["predicate"]): r["object"] for r in entity_states(t).collect()}
    assert st["p.q.r"] == "new"
    assert st["other.pred"] == "kept"


def test_late_row_does_not_overwrite(spark):
    """A row arriving later (higher seq in a later batch) but with an older
    event time must lose: LWW is event-time ordered, not arrival ordered."""
    t = _triples(
        spark,
        [
            base("a.b.c.d.e.1", "p.q.r", "current", 100, 5),
            base("a.b.c.d.e.1", "p.q.r", "late-straggler", 50, 9),
        ],
    )
    st = entity_states(t).collect()
    assert len(st) == 1 and st[0]["object"] == "current"


def test_tie_break_deterministic(spark):
    """Equal (ts, seq): object desc decides — bit-reproducible output."""
    t = _triples(
        spark,
        [
            base("a.b.c.d.e.1", "p.q.r", "alpha", 0, 0),
            base("a.b.c.d.e.1", "p.q.r", "beta", 0, 0),
        ],
    )
    st = entity_states(t).collect()
    assert len(st) == 1 and st[0]["object"] == "beta"


def test_node_version_counts_update_events(spark):
    t = _triples(
        spark,
        [
            base("a.b.c.d.e.1", "p1", "v1", 0, 0),
            base("a.b.c.d.e.1", "p2", "v2", 0, 0),  # same event (ts, seq)
            base("a.b.c.d.e.1", "p1", "v3", 10, 1),  # second event
        ],
    )
    n = nodes_table(t).collect()
    assert len(n) == 1
    assert n[0]["version"] == 2
    assert n[0]["type"] == "e"
    assert n[0]["updated_at"] == TS + dt.timedelta(seconds=10)


def test_edge_upsert(spark):
    t = _triples(
        spark,
        [
            base("a.b.c.d.e.1", "x.turn.mentions", "f.g.h.i.j.9", 0, 0, "entity_ref"),
            base("a.b.c.d.e.1", "x.turn.mentions", "f.g.h.i.j.9", 20, 1, "entity_ref"),
            base("a.b.c.d.e.1", "x.turn.in", "f.g.h.i.j.9", 5, 0, "entity_ref"),
        ],
    )
    e = {r["edge_type"]: r for r in edges_table(t).collect()}
    assert set(e) == {"mentions_turn", "in_turn"}
    m = e["mentions_turn"]
    assert m["n_obs"] == 2
    assert m["created_at"] == TS
    assert m["updated_at"] == TS + dt.timedelta(seconds=20)


def test_property_triples_excluded_from_edges(spark):
    t = _triples(spark, [base("a.b.c.d.e.1", "p.q.r", "just a string", 0, 0)])
    assert edges_table(t).count() == 0


# ---------------------------------------------------------- tombstones


def _deletes(spark, rows):
    return spark.createDataFrame(rows, "entity_id string, ts timestamp")


def test_create_delete_recreate_sequence(spark):
    """mutations.go:169 semantics: delete kills older state (delete wins
    ties), a newer update recreates the entity, version counts mutations."""
    from mutations_reference import nodes_with_status

    ent = "a.b.c.d.e.1"
    gone = "a.b.c.d.e.2"
    t = _triples(
        spark,
        [
            base(ent, "p.name", "v1", 0, 0),      # create
            base(ent, "p.name", "v2", 20, 1),     # recreate AFTER the delete at +10
            base(ent, "p.size", "9", 5, 0),       # killed by the delete
            base(gone, "p.name", "x", 0, 0),      # deleted, never recreated
        ],
    )
    d = _deletes(
        spark,
        [(ent, TS + dt.timedelta(seconds=10)), (gone, TS + dt.timedelta(seconds=10))],
    )
    nodes = nodes_with_status(nodes_table(t), d)
    by_id = {r["id"]: r for r in nodes.collect()}
    assert by_id[ent]["status"] == "active"       # recreated
    assert by_id[gone]["status"] == "deleted"
    assert by_id[gone]["deleted_at"] == TS + dt.timedelta(seconds=10)
    # version = updates + tombstones (reference bumps Version per mutation)
    assert by_id[ent]["version"] == 3 + 1
    assert by_id[gone]["version"] == 1 + 1


def test_delete_wins_ties_and_edge_cleanup(spark):
    from mutations_reference import edges_after_deletes, nodes_with_status

    ent = "a.b.c.d.e.1"
    t = _triples(spark, [base(ent, "p.name", "v1", 10, 0)])
    # tombstone at the SAME ts as the node's last update -> delete wins
    d = _deletes(spark, [(ent, TS + dt.timedelta(seconds=10))])
    assert [r["status"] for r in nodes_with_status(nodes_table(t), d).collect()] == ["deleted"]

    edges = _triples(
        spark,
        [
            base("s.b.c.d.e.1", "x.turn.mentions", ent, 5, 0, "entity_ref"),   # dst dead
            base("s.b.c.d.e.1", "x.turn.mentions", "f.g.h.i.j.9", 5, 0, "entity_ref"),
            base(ent, "x.turn.mentions", "f.g.h.i.j.9", 30, 0, "entity_ref"),  # src recreated after
        ],
    )
    live = edges_after_deletes(edges_table(edges), d).collect()
    assert {(r["src"], r["dst"]) for r in live} == {
        ("s.b.c.d.e.1", "f.g.h.i.j.9"),
        (ent, "f.g.h.i.j.9"),  # observed after the tombstone -> survives
    }


# ---------------------------------------------------------------------------
# r6 source-clustered forms: parity with the aggregated operators on the
# real generator output (the invariant they rely on — (conv_id, turn_idx)
# unique — plus row-for-row equality of all three derived tables).


def test_transcript_key_uniqueness(transcripts_small):
    """The source-clustered operators require that no LWW group spans
    transcript rows, i.e. (conv_id, turn_idx) is a key (FIXTURES §1)."""
    t = transcripts_small
    assert (
        t.groupBy("conv_id", "turn_idx").count().filter(F.col("count") > 1).count() == 0
    )


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_entity_states_source_clustered_parity(transcripts_small):
    from semstreams_spark.extract import extract_triples
    from semstreams_spark.operators.merge import entity_states_source_clustered

    fast = entity_states_source_clustered(transcripts_small)
    slow = entity_states(extract_triples(transcripts_small))
    assert fast.columns == slow.columns
    assert [f.dataType for f in fast.schema.fields] == [f.dataType for f in slow.schema.fields]
    assert _sorted_rows(fast) == _sorted_rows(slow)


def test_nodes_table_source_clustered_parity(transcripts_small):
    from semstreams_spark.extract import extract_triples
    from semstreams_spark.operators.merge import nodes_table_source_clustered

    fast = nodes_table_source_clustered(transcripts_small)
    slow = nodes_table(extract_triples(transcripts_small))
    assert fast.columns == slow.columns
    assert _sorted_rows(fast) == _sorted_rows(slow)


def test_edges_table_source_clustered_parity(transcripts_small):
    from semstreams_spark.extract import extract_triples
    from semstreams_spark.operators.merge import edges_table_source_clustered

    fast = edges_table_source_clustered(transcripts_small)
    slow = edges_table(extract_triples(transcripts_small))
    assert fast.columns == slow.columns
    assert _sorted_rows(fast) == _sorted_rows(slow)
