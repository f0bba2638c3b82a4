"""Transcript-turn → semantic-triple extraction: the one module that knows
the turn → graph contract.

Re-expresses the reference's ``EntityPayload.Triples()`` contract
(``message/entity_payload.go:109-163``): each incoming record emits an
``rdf:type`` triple, then one triple per property, plus relationship
triples whose object is a 6-part entity ID
(``message/triple.go:118-147``). Here the "record" is a transcript turn
``(conv_id, turn_idx, role, text, tool, ts)``.

Emission rules (the engine's documented extraction contract):

  subject  = test.local.conv.<conv_id>.turn.<turn_idx>      (6 dot-parts)
  1. (subject, 'rdf:type',        'conv.turn',  'string')
  2. (subject, 'conv.turn.role',  role,         'string')
  3. (subject, 'conv.turn.text',  text,         'string')
  4. (subject, 'conv.turn.tool',  tool,         'string')     [tool != null]
  5. (subject, 'conv.turn.in',    test.local.graph.kb.conversation.<conv_id>,
                                              'entity_ref')
  6. (subject, 'conv.turn.mentions',
               test.local.graph.kb.entity.<name>, 'entity_ref')
     for each ``@entity:<name>`` token in text

All triples carry: source='transcript_extractor', ts=turn ts,
confidence=1.0 (``entity_payload.go:119-122``), context=conv_id
(correlation id, ``message/triple.go:67-71``), and an internal ``seq``
(= turn_idx) used as the deterministic LWW tie-break.

:func:`extract_triples` is the one implementation: Catalyst built-ins,
one scan, one explode, whole-stage codegen. Every other operator that
derives ids, triples or edges from transcript rows (the streaming
fan-out, the source-clustered entity/node/edge operators, the
mention-derived queries) is built from the Column builders below, which
read the transcript columns of the row in scope:

- :func:`turn_subject` — the turn subject;
- :func:`conversation_id` — the ``conv.turn.in`` object;
- :func:`entity_id` (Column) / :func:`entity_id_of` (str) — the entity id
  of a mention name;
- :func:`mention_names` / :func:`mention_ids` — the ``@entity:`` names in
  ``text``, in order, repeats kept / their entity ids;
- :func:`property_triples` — triples 1-5 as
  ``array<struct<predicate, object, object_type>>``; :func:`no_triples`
  is the empty array of that type;
- :func:`mention_triple` / :func:`mention_triples` — triple 6 for one
  entity id / for every mention of the row;
- :func:`node_type` — a node id's type, its 5th dot-part, else ``entity``
  (``messagemanager/processor.go:517-526``).

``IN_EDGE`` and ``MENTIONS_EDGE`` are the edge types of the two
relationship predicates (``operators.merge.predicate_to_edge_type``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MENTION_RE = "@entity:([a-z0-9_]+)"
MENTIONS = "conv.turn.mentions"
IN_EDGE = "in_turn"
MENTIONS_EDGE = "mentions_turn"
SOURCE = "transcript_extractor"

_ENTITY_ID_PREFIX = "test.local.graph.kb.entity."
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
    return F.concat(F.lit(_ENTITY_ID_PREFIX), name)


def entity_id_of(name: str) -> str:
    return _ENTITY_ID_PREFIX + name


def mention_names() -> Column:
    return F.regexp_extract_all(F.col("text"), F.lit(MENTION_RE), F.lit(1))


def mention_ids() -> Column:
    return F.transform(mention_names(), entity_id)


def node_type(node_id: Column) -> Column:
    # try_element_at + coalesce: an id with fewer than 5 dot-parts falls
    # back to 'entity' like the reference instead of raising
    # INVALID_ARRAY_INDEX under ANSI mode
    return F.coalesce(F.try_element_at(F.split(node_id, r"\."), F.lit(5)), F.lit("entity"))


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
    return _t3(F.lit(MENTIONS), entity, F.lit("entity_ref"))


def mention_triples() -> Column:
    # entity_id inside the one lambda, not a transform over mention_ids():
    # a nested transform would be a different plan
    return F.transform(mention_names(), lambda m: mention_triple(entity_id(m)))


def extract_triples(transcripts: DataFrame) -> DataFrame:
    """Built-in-expression extraction: one scan, one explode, no Python.

    The per-row triple list is assembled as an array<struct> and exploded —
    Catalyst keeps the whole stage in codegen and the parquet scan reads
    only the six input columns once.
    """
    return (
        transcripts.select(
            turn_subject().alias("subject"),
            F.explode(F.concat(property_triples(), mention_triples())).alias("t"),
            F.col("ts"),
            F.col("conv_id").alias("context"),
            F.col("turn_idx").cast("int").alias("seq"),
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
            "seq",
        )
    )
