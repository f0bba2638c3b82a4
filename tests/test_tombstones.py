"""entity_status against today's composed form, kept here as the oracle:
``nodes_with_status`` over the mention nodes plus ``edges_after_deletes``
over ``edges_table_source_clustered``, on planted tombstone edge cases."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from semstreams_spark.extract.triples import (
    entity_id,
    entity_id_of,
    mention_names,
    node_type,
    turn_subject,
)
from mutations_reference import edges_after_deletes, nodes_with_status
from semstreams_spark.operators.merge import edges_table_source_clustered
from semstreams_spark.operators.mutations import entity_status

T0 = dt.datetime(2025, 1, 1)
COLS = ["id", "status", "version", "updated_at", "deleted_at", "n_live_edges"]


def t(minutes):
    return T0 + dt.timedelta(minutes=minutes)


def composed_oracle(transcripts, deletes):
    men = transcripts.select(
        F.explode(mention_names()).alias("e"), "ts", F.col("turn_idx").cast("int").alias("seq")
    ).select(entity_id(F.col("e")).alias("id"), "ts", "seq")
    nodes = (
        men.groupBy("id")
        .agg(F.count_distinct("ts", "seq").alias("version"), F.max("ts").alias("updated_at"))
        .withColumn("type", node_type(F.col("id")))
    )
    live = (
        edges_after_deletes(edges_table_source_clustered(transcripts), deletes)
        .groupBy(F.col("dst").alias("id"))
        .agg(F.count(F.lit(1)).alias("n_live"))
    )
    return nodes_with_status(nodes, deletes).join(live, "id", "left").select(
        *COLS[:-1], F.coalesce(F.col("n_live"), F.lit(0)).cast("long").alias("n_live_edges")
    )


def test_entity_status_matches_composed_oracle_on_planted_tombstones(spark):
    turns = [
        # tie: last seen at the tombstone time -> deleted, both edges dropped
        ("c1", 0, "user", "@entity:tie", None, t(1)),
        ("c1", 1, "assistant", "again @entity:tie @entity:tie", None, t(5)),
        # recreate: tombstone at 10 between observations -> active, version 3+1;
        # the edge seen exactly at 10 is dropped, the one at 20 is kept
        ("c2", 0, "user", "@entity:rec", None, t(2)),
        ("c2", 1, "user", "@entity:rec and @entity:plain", None, t(10)),
        ("c2", 2, "user", "@entity:rec", None, t(20)),
        # turn-subject tombstone (src side) at 30 kills this turn's edges only
        ("c3", 0, "user", "@entity:plain @entity:twice", None, t(30)),
        ("c3", 1, "tool", "@entity:plain", "calc", t(31)),
        # two tombstones, both before the data: active, version bumps by 2
        ("c4", 0, "user", "@entity:twice", None, t(40)),
        ("c4", 1, "user", "no mention", None, t(41)),
    ]
    tr = spark.createDataFrame(
        turns,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp_ntz",
    )
    c3_turn0 = tr.filter((F.col("conv_id") == "c3") & (F.col("turn_idx") == 0)).select(
        turn_subject()
    ).first()[0]
    ent = entity_id_of
    deletes = spark.createDataFrame(
        [
            (ent("tie"), t(5)),
            (ent("rec"), t(10)),
            (c3_turn0, t(30)),
            (ent("twice"), t(0)),
            (ent("twice"), t(-5)),
        ],
        "entity_id string, ts timestamp_ntz",
    )

    got = {r["id"]: r.asDict() for r in entity_status(tr, deletes).select(*COLS).collect()}
    want = {r["id"]: r.asDict() for r in composed_oracle(tr, deletes).collect()}
    assert got == want

    assert got[ent("tie")]["status"] == "deleted"
    assert got[ent("tie")]["n_live_edges"] == 0
    assert got[ent("rec")]["status"] == "active"
    assert got[ent("rec")]["version"] == 3 + 1
    assert got[ent("rec")]["n_live_edges"] == 1  # t=20 kept, t=10 and t=2 dropped
    assert got[ent("plain")]["deleted_at"] is None
    assert got[ent("plain")]["n_live_edges"] == 2  # c2 turn 1, c3 turn 1; c3 turn 0 is dead
    assert got[ent("twice")]["status"] == "active"
    assert got[ent("twice")]["version"] == 2 + 2
    assert got[ent("twice")]["n_live_edges"] == 1  # the c3 turn 0 edge died with its src
