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

The contract is stated once, as SQL texts over the transcript columns of
the row in scope: the upper-case constants below. :func:`extract_triples`
is the one implementation (Catalyst built-ins, one scan, one explode,
whole-stage codegen), and every other operator that derives ids, triples
or edges from transcript rows (the streaming fan-out, the source-clustered
entity/node/edge operators, the mention-derived queries) splices the same
texts into its own ``selectExpr``. A text is one py4j call for the JVM to
parse, where the Column API pays a round trip per ``F.*`` node.
``tests/triples_reference.py`` keeps the Column-API statement as the
parity reference; the plans are the same but for lambda-variable names.

- ``TURN_SUBJECT`` — the turn subject;
- ``CONVERSATION_ID`` — the ``conv.turn.in`` object;
- ``ENTITY_ID`` — the entity id of a mention name, a template over a name
  expression; :func:`entity_id_of` is the same id of a Python string;
- ``MENTION_NAMES`` / ``MENTION_IDS`` — the ``@entity:`` names in
  ``text``, in order, repeats kept / their entity ids;
- ``PROPERTY_TRIPLES`` — triples 1-5 as
  ``array<struct<predicate, object, object_type>>``; ``NO_TRIPLES`` is the
  empty array of that type;
- ``MENTION_TRIPLE`` / ``MENTION_TRIPLES`` — triple 6, a template over one
  entity id expression / for every mention of the row;
- ``NODE_TYPE`` — a node id's type, its 5th dot-part, else ``entity``
  (``messagemanager/processor.go:517-526``), a template over an id
  expression.

A template is filled with ``str.format``, e.g. ``ENTITY_ID.format("e")``.

The mention derives, which the mention-keyed queries and the streaming
window share:

- :func:`mention_rows` — one row per mention occurrence;
- :func:`mention_edges` — one (entity, turn) edge per mention occurrence;
- :func:`mention_context_texts` — each entity's latest mention text.

``IN_EDGE`` and ``MENTIONS_EDGE`` are the edge types of the two
relationship predicates (``tests/merge_reference.predicate_to_edge_type``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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
# try_element_at + coalesce: an id with fewer than 5 dot-parts falls back
# to 'entity' like the reference instead of raising INVALID_ARRAY_INDEX
# under ANSI mode
NODE_TYPE = "coalesce(try_element_at(split({}, '\\\\.'), 5), 'entity')"
ENTITY_ID = f"concat('{_ENTITY_ID_PREFIX}', {{}})"
MENTION_IDS = f"transform({MENTION_NAMES}, n -> {ENTITY_ID.format('n')})"


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
MENTION_TRIPLE = _t3(MENTIONS, "{}", "entity_ref")
MENTION_TRIPLES = f"transform({MENTION_NAMES}, m -> {MENTION_TRIPLE.format(ENTITY_ID.format('m'))})"


def entity_id_of(name: str) -> str:
    return _ENTITY_ID_PREFIX + name


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


def mention_rows(transcripts: DataFrame) -> DataFrame:
    """One row per mention OCCURRENCE, derived directly from transcripts:
    (conv_id, mention name ``e``, text, ts, seq, turn_idx). Row-for-row
    identical to filtering extract_triples to its mention triples: the
    object is ``ENTITY_ID`` of ``e`` and the subject ``TURN_SUBJECT`` of the
    same row — without materializing the 5-7× triple fan-out and its text
    payloads (guide §2.3: shuffle/derive fewer bytes)."""
    return transcripts.selectExpr(
        "conv_id",
        f"explode({MENTION_NAMES}) as e",
        "text",
        "ts",
        "cast(turn_idx as int) as seq",
        "turn_idx",
    )


def mention_edges(transcripts: DataFrame) -> DataFrame:
    """(src = entity id, dst = turn subject, ts) per mention occurrence."""
    return mention_rows(transcripts).selectExpr(f"{ENTITY_ID.format('e')} as src", f"{TURN_SUBJECT} as dst", "ts")


def mention_context_texts(transcripts: DataFrame) -> DataFrame:
    """(entity, text): each entity's LATEST mention-context turn text, LWW
    on (ts, seq, text) — the real node text the graph search scores
    against (not a name surrogate); one max_by hash-agg, scale-safe.

    The mention triple and the text triple of one turn come from the SAME
    transcript row, so the men⋈txt join on subject is the identity:
    (entity, turn.text, ts, seq) per mention occurrence. The max_by
    partial-aggregates map-side to ~one row per entity per scan
    partition, so the exchange carries O(entities × partitions) rows
    instead of the mention stream (guide §2.3/§2.4)."""
    men = mention_rows(transcripts).select(F.col("e").alias("entity"), "text", "ts", "seq")
    return men.groupBy("entity").agg(
        F.max_by("text", F.struct("ts", "seq", "text")).alias("text")
    )
