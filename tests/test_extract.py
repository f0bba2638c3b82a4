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
