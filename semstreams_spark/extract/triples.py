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
mention-derived queries) is built from the builders below, which read
the transcript columns of the row in scope. A builder without arguments
is one SQL text (the upper-case constant of the same name, which the
streaming fan-out splices into its one projection) that the JVM parses
in one py4j call; the Column API pays a round trip per ``F.*`` node,
about 800 for ``extract_triples``. The plans are the same but for
lambda-variable names; ``tests/triples_reference.py`` keeps the Column
API statement as the parity reference. The builders that take a Column
(``entity_id``, ``mention_triple``, ``node_type``) stay on the Column API;
``NODE_TYPE`` is ``node_type`` as an SQL template over an id expression.
The builders:

- :func:`turn_subject` — the turn subject;
- :func:`conversation_id` — the ``conv.turn.in`` object;
- :func:`entity_id` (Column) / :func:`entity_id_of` (str) — the entity id
  of a mention name;
- :func:`mention_names` / :func:`mention_ids` — the ``@entity:`` names in
  ``text``, in order, repeats kept / their entity ids;
- :func:`property_triples` — triples 1-5 as
  ``array<struct<predicate, object, object_type>>``; :func:`no_triples`
  is the empty array of that type;
- :func:`mention_triple` / ``MENTION_TRIPLES`` — triple 6 for one
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

# ``case when``, not ``if``: the plans keep the Column API's CaseWhen.
# ``struct(... as name)`` prints as the Column API's struct, where
# ``named_struct`` would not.
TURN_SUBJECT = "concat('test.local.conv.', conv_id, '.turn.', cast(turn_idx as string))"
CONVERSATION_ID = "concat('test.local.graph.kb.conversation.', conv_id)"
MENTION_NAMES = f"regexp_extract_all(text, '{MENTION_RE}', 1)"
NO_TRIPLES = f"cast(array() as {_TRIPLES_TYPE})"
NODE_TYPE = "coalesce(try_element_at(split({}, '\\\\.'), 5), 'entity')"


def _entity_id(name: str) -> str:
    return f"concat('{_ENTITY_ID_PREFIX}', {name})"


MENTION_IDS = f"transform({MENTION_NAMES}, n -> {_entity_id('n')})"


def _t3(pred: str, obj: str, otype: str) -> str:
    """One triple struct: predicate and object_type are literal values,
    obj is an SQL expression."""
    return f"struct('{pred}' as predicate, {obj} as object, '{otype}' as object_type)"


PROPERTY_TRIPLES = (
    "concat(array("
    + ", ".join(
        (
            _t3("rdf:type", "'conv.turn'", "string"),
            _t3("conv.turn.role", "role", "string"),
            _t3("conv.turn.text", "text", "string"),
            _t3("conv.turn.in", CONVERSATION_ID, "entity_ref"),
        )
    )
    + f"), case when tool is not null then array({_t3('conv.turn.tool', 'tool', 'string')}) "
    + f"else {NO_TRIPLES} end)"
)
MENTION_TRIPLES = f"transform({MENTION_NAMES}, m -> {_t3(MENTIONS, _entity_id('m'), 'entity_ref')})"


def turn_subject() -> Column:
    return F.expr(TURN_SUBJECT)


def conversation_id() -> Column:
    return F.expr(CONVERSATION_ID)


def entity_id(name: Column) -> Column:
    return F.concat(F.lit(_ENTITY_ID_PREFIX), name)


def entity_id_of(name: str) -> str:
    return _ENTITY_ID_PREFIX + name


def mention_names() -> Column:
    return F.expr(MENTION_NAMES)


def mention_ids() -> Column:
    return F.expr(MENTION_IDS)


def node_type(node_id: Column) -> Column:
    # try_element_at + coalesce: an id with fewer than 5 dot-parts falls
    # back to 'entity' like the reference instead of raising
    # INVALID_ARRAY_INDEX under ANSI mode
    return F.coalesce(F.try_element_at(F.split(node_id, r"\."), F.lit(5)), F.lit("entity"))


def no_triples() -> Column:
    return F.expr(NO_TRIPLES)


def property_triples() -> Column:
    return F.expr(PROPERTY_TRIPLES)


def mention_triple(entity: Column) -> Column:
    return F.struct(
        F.lit(MENTIONS).alias("predicate"), entity.alias("object"), F.lit("entity_ref").alias("object_type")
    )


def extract_triples(transcripts: DataFrame) -> DataFrame:
    """Built-in-expression extraction: one scan, one explode, no Python.

    The per-row triple list is assembled as an array<struct> and exploded —
    Catalyst keeps the whole stage in codegen and the parquet scan reads
    only the six input columns once.
    """
    return transcripts.selectExpr(
        f"{TURN_SUBJECT} as subject",
        f"explode(concat({PROPERTY_TRIPLES}, {MENTION_TRIPLES})) as t",
        "ts",
        "conv_id as context",
        "cast(turn_idx as int) as seq",
    ).selectExpr(
        "subject",
        "t.predicate as predicate",
        "t.object as object",
        "t.object_type as object_type",
        f"'{SOURCE}' as source",
        "ts",
        "1.0D as confidence",
        "context",
        "seq",
    )
