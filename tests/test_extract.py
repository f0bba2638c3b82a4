"""Triple extraction: output must satisfy the entity-ID/predicate
contracts."""

from __future__ import annotations

from pyspark.sql import functions as F

from semstreams_spark.extract import extract_triples


def test_subjects_are_six_part_ids(transcripts_small):
    t = extract_triples(transcripts_small)
    bad = t.filter(F.size(F.split("subject", r"\.")) != 6).count()
    assert bad == 0


def test_relationship_objects_are_entity_ids(transcripts_small):
    t = extract_triples(transcripts_small)
    rel = t.filter(F.col("object_type") == "entity_ref")
    bad = rel.filter(F.size(F.split("object", r"\.")) != 6).count()
    assert bad == 0


def test_per_turn_triple_counts(transcripts_small):
    """Every turn emits rdf:type + role + text + in = 4 base triples,
    +1 if tool, +1 per mention."""
    t = extract_triples(transcripts_small)
    n_turns = transcripts_small.count()
    n_tool = transcripts_small.filter(F.col("tool").isNotNull()).count()
    n_mentions = transcripts_small.select(
        F.sum(F.size(F.regexp_extract_all("text", F.lit("@entity:([a-z0-9_]+)"), F.lit(1))))
    ).collect()[0][0]
    assert t.count() == 4 * n_turns + n_tool + n_mentions


def test_text_parity_under_stable_order(transcripts_small):
    """Input-hint invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering — the text triple must reproduce the
    input text exactly for every turn."""
    t = extract_triples(transcripts_small).filter(F.col("predicate") == "conv.turn.text")
    joined = (
        transcripts_small.alias("i")
        .join(
            t.alias("t"),
            (F.col("t.context") == F.col("i.conv_id")) & (F.col("t.seq") == F.col("i.turn_idx")),
            "left",
        )
        .select("i.conv_id", "i.turn_idx", "i.text", F.col("t.object").alias("extracted"))
    )
    assert joined.filter(F.col("extracted").isNull() | (F.col("extracted") != F.col("text"))).count() == 0


def test_datagen_bit_reproducible():
    """FIXTURES contract: regeneration from the seed reproduces the input
    byte-for-byte (deleting data/transcripts and re-running is safe)."""
    from semstreams_spark.datagen.transcripts import generate_transcripts

    t1, a1 = generate_transcripts(0.001)
    t2, a2 = generate_transcripts(0.001)
    assert t1.equals(t2) and a1.equals(a2)
    # and it actually varies with the seed (not a constant table)
    t3, _ = generate_transcripts(0.001, seed=43)
    assert not t1.equals(t3)


def _planted_turns(spark):
    """Tool null and non-null; 0, 1 and 2+ mentions with a repeat; a null
    text; a mention-like token that is not a mention."""
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1)
    rows = [
        ("c1", 0, "user", "no mention here", None, t0),
        ("c1", 1, "assistant", "see @entity:ent_a", None, t0),
        ("c1", 2, "tool", "ran @entity:ent_a and @entity:b_2 then @entity:ent_a", "calc", t0),
        ("c2", 7, "tool", "@entity:x", "search", t0),
        ("c2", 8, "user", None, None, t0),
        ("c2", 9, "user", "@Entity:nope @entity:", "", t0),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_sql_builders_match_column_api_reference(spark):
    """Every SQL text of ``extract.triples``, its ``ENTITY_ID``,
    ``MENTION_TRIPLE`` and ``NODE_TYPE`` templates and extract_triples
    give the rows and the schema of the Column-API reference
    (tests/triples_reference.py)."""
    import triples_reference as ref

    from semstreams_spark.extract import triples

    turns = _planted_turns(spark)
    # node ids: the turn subjects and ids with fewer than 5 dot-parts
    ids = turns.selectExpr("turn_idx", f"{triples.TURN_SUBJECT} as id").union(
        spark.createDataFrame([(-1, "a.b"), (-2, "x")], "turn_idx int, id string")
    )
    cases = {
        name: (turns, getattr(triples, name.upper()), getattr(ref, name)())
        for name in (
            "turn_subject", "conversation_id", "mention_names", "mention_ids",
            "property_triples", "no_triples", "mention_triples",
        )
    }
    cases["entity_id"] = (turns, triples.ENTITY_ID.format("text"), ref.entity_id(F.col("text")))
    cases["mention_triple"] = (turns, triples.MENTION_TRIPLE.format("text"), ref.mention_triple(F.col("text")))
    cases["node_type"] = (ids, triples.NODE_TYPE.format("id"), ref.node_type(F.col("id")))
    for name, (df, text, column) in cases.items():
        got = df.selectExpr("turn_idx", f"{text} as v")
        want = df.select("turn_idx", column.alias("v"))
        assert got.schema == want.schema, name
        assert _sorted_rows(got) == _sorted_rows(want), name
    got, want = extract_triples(turns), ref.extract_triples(turns)
    assert got.schema == want.schema
    assert _sorted_rows(got) == _sorted_rows(want)
    # 4 base triples per non-null-text turn, +2 tools (one empty string),
    # +1 +3 +1 mentions
    assert got.count() == 4 * 5 + 3 + 5


def test_streaming_fanout_matches_column_api_reference(spark):
    """The one-projection fan-out gives the reference's delta rows for
    turn and session_end rows."""
    import triples_reference as ref
    from pyspark.sql import functions as F

    from semstreams_spark.streaming.state_merge import triple_fanout

    turns = _planted_turns(spark)
    acc = turns.select(
        F.lit("turn").alias("kind"), "conv_id", "turn_idx", "role", "text", "tool", "ts",
        (F.col("turn_idx") - 1).alias("prev_turn_idx"), F.col("ts").alias("prev_ts"),
        F.lit(None).cast("int").alias("req_turn_idx"), F.col("turn_idx").cast("long").alias("version"),
    )
    ends = acc.filter(F.col("turn_idx").isin(2, 9)).select(
        F.lit("session_end").alias("kind"), "conv_id", "turn_idx", F.lit(None).cast("string").alias("role"),
        F.lit("3").alias("text"), *acc.columns[5:],
    )
    acc = acc.unionByName(ends)
    got, want = triple_fanout(acc), ref.graph_deltas(acc)
    assert got.schema == want.schema
    rows = _sorted_rows(got)
    assert rows == _sorted_rows(want)
    assert sum(r[0] == "session_end" for r in rows) == 2


def test_turn_graph_contract_is_stated_once_in_sql():
    """``extract/triples.py`` states the turn → graph contract once, as SQL
    texts: it does not import ``Column`` and each function it defines is
    annotated to return a ``str`` or a ``DataFrame``. The ``test.local.``
    id prefixes appear in no other package module but the DuckDB oracles,
    nor in the registry."""
    import ast
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    contract = os.path.join("semstreams_spark", "extract", "triples.py")
    with open(os.path.join(root, contract), encoding="utf-8") as f:
        tree = ast.parse(f.read())
    imported = {a.asname or a.name for n in ast.walk(tree) if isinstance(n, ast.ImportFrom) for a in n.names}
    assert "Column" not in imported
    returns = {
        n.name: n.returns and ast.unparse(n.returns)
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }
    assert not {k: v for k, v in returns.items() if v not in ("str", "DataFrame")}, returns
    allowed = {contract, os.path.join("semstreams_spark", "oracles.py")}
    paths = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(root, "semstreams_spark")) for f in fs]
    found = []
    for path in [*paths, os.path.join(root, "__spark_entry__.py")]:
        rel = os.path.relpath(path, root)
        if path.endswith(".py") and rel not in allowed:
            with open(path, encoding="utf-8") as f:
                if "test.local." in f.read():
                    found.append(rel)
    assert not found, f"turn → graph ids built outside extract/triples.py: {found}"
