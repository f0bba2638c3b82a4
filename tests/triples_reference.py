"""The turn → triple builders stated with the Column API, one ``F.*``
call at a time: the reference the SQL-text builders of
``semstreams_spark.extract.triples`` are checked against
(tests/test_extract.py). Same names, same contract."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from semstreams_spark.extract.triples import MENTION_RE, MENTIONS, SOURCE

_TRIPLES_TYPE = "array<struct<predicate:string,object:string,object_type:string>>"


def turn_subject() -> Column:
    return F.concat(
        F.lit("test.local.conv."),
        F.col("conv_id"),
        F.lit(".turn."),
        F.col("turn_idx").cast("string"),
    )


def conversation_id() -> Column:
    return F.concat(F.lit("test.local.graph.kb.conversation."), F.col("conv_id"))


def entity_id(name: Column) -> Column:
    return F.concat(F.lit("test.local.graph.kb.entity."), name)


def mention_names() -> Column:
    return F.regexp_extract_all(F.col("text"), F.lit(MENTION_RE), F.lit(1))


def mention_ids() -> Column:
    return F.transform(mention_names(), entity_id)


def _t3(pred: Column, obj: Column, otype: Column) -> Column:
    return F.struct(pred.alias("predicate"), obj.alias("object"), otype.alias("object_type"))


def no_triples() -> Column:
    return F.array().cast(_TRIPLES_TYPE)


def property_triples() -> Column:
    lit = F.lit
    base = F.array(
        _t3(lit("rdf:type"), lit("conv.turn"), lit("string")),
        _t3(lit("conv.turn.role"), F.col("role"), lit("string")),
        _t3(lit("conv.turn.text"), F.col("text"), lit("string")),
        _t3(lit("conv.turn.in"), conversation_id(), lit("entity_ref")),
    )
    tool_arr = F.when(
        F.col("tool").isNotNull(),
        F.array(_t3(lit("conv.turn.tool"), F.col("tool"), lit("string"))),
    ).otherwise(no_triples())
    return F.concat(base, tool_arr)


def mention_triple(entity: Column) -> Column:
    return F.struct(
        F.lit(MENTIONS).alias("predicate"), entity.alias("object"), F.lit("entity_ref").alias("object_type")
    )


def node_type(node_id: Column) -> Column:
    return F.coalesce(F.try_element_at(F.split(node_id, r"\."), F.lit(5)), F.lit("entity"))


def mention_triples() -> Column:
    return F.transform(mention_names(), lambda m: mention_triple(entity_id(m)))


def graph_deltas(acc):
    """The streaming fan-out of accepted-turn rows into delta rows."""
    session_end = F.col("kind") == "session_end"
    summary = F.array(
        F.struct(
            F.lit("conv.session.n_turns").alias("predicate"),
            F.col("text").alias("object"),
            F.lit("string").alias("object_type"),
        )
    )
    triples = F.when(session_end, summary).otherwise(F.concat(property_triples(), mention_triples()))
    return acc.select(
        F.when(session_end, "session_end").otherwise("triple").alias("kind"),
        "conv_id",
        "turn_idx",
        F.when(session_end, conversation_id()).otherwise(turn_subject()).alias("subject"),
        F.explode(triples).alias("t"),
        "ts",
        "prev_turn_idx",
        "prev_ts",
        "req_turn_idx",
        "version",
    ).select(
        "kind",
        "conv_id",
        "turn_idx",
        "subject",
        F.col("t.predicate").alias("predicate"),
        F.col("t.object").alias("object"),
        F.col("t.object_type").alias("object_type"),
        "ts",
        "prev_turn_idx",
        "prev_ts",
        "req_turn_idx",
        "version",
    )


def extract_triples(transcripts):
    """Batch extraction: one scan, one explode."""
    return transcripts.select(
        turn_subject().alias("subject"),
        F.explode(F.concat(property_triples(), mention_triples())).alias("t"),
        F.col("ts"),
        F.col("conv_id").alias("context"),
        F.col("turn_idx").cast("int").alias("seq"),
    ).select(
        "subject",
        F.col("t.predicate").alias("predicate"),
        F.col("t.object").alias("object"),
        F.col("t.object_type").alias("object_type"),
        F.lit(SOURCE).alias("source"),
        "ts",
        F.lit(1.0).alias("confidence"),
        "context",
        "seq",
    )
