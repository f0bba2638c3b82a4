"""Plan-quality assertions: pushdown, pruning, broadcast, codegen —
the .explain() contracts that make the operators survive a 100x scale-up."""

from __future__ import annotations

from pyspark.sql import functions as F

from semstreams_spark.datagen import ensure_transcripts, transcripts_path
from semstreams_spark.extract import extract_triples
from semstreams_spark.operators.joins import resolve_aliases


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_to_parquet(spark):
    ensure_transcripts(0.001)
    df = spark.read.parquet(transcripts_path(0.001))
    q = df.filter(F.col("conv_id") == "conv_0000001").select("turn_idx", "text")
    p = _plan(q)
    assert "PushedFilters" in p and "conv_id" in p.split("PushedFilters")[1][:200]
    # column pruning: role/tool/ts not read
    rs = p.split("ReadSchema:")[-1]
    assert "role" not in rs and "tool" not in rs


def test_alias_resolution_is_broadcast_join(spark):
    """resolve_aliases alone and inside the registered edges_resolved
    query: the alias dim broadcasts."""
    import __spark_entry__ as entry

    df = spark.createDataFrame([("a",), ("b",)], "entity string")
    dim = spark.createDataFrame([("a", "A")], "alias string, canonical string")
    for q in (resolve_aliases(df, dim), entry.q_edges_resolved(spark, "sf0.001")):
        assert "BroadcastHashJoin" in _plan(q)


def test_extraction_stays_in_codegen(spark, transcripts_small):
    p = _plan(extract_triples(transcripts_small))
    # "*(N)" prefixes mark whole-stage-codegen'd operators in compact plans
    assert "*(" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_cooccurrence_has_no_cartesian_or_bnlj(spark, transcripts_small):
    from semstreams_spark.operators.windows import entity_cooccurrence

    m = extract_triples(transcripts_small).filter(
        F.col("predicate") == "conv.turn.mentions"
    ).select(
        F.col("context").alias("conv_id"),
        F.element_at(F.split(F.col("object"), r"\."), -1).alias("entity"),
        "ts",
    )
    p = _plan(entity_cooccurrence(m))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_geo_bin(spark):
    from semstreams_spark.operators.textops import geo_bin

    df = spark.createDataFrame([(51.5074, -0.1278), (0.0, 0.0)], "lat double, lon double")
    out = [r["g"] for r in df.select(geo_bin(F.col("lat"), F.col("lon"), 7).alias("g")).collect()]
    assert out[0] == "geo_7_42452_53961"  # floor((51.5074+90)*300), floor((-0.1278+180)*300)
    assert out[1] == "geo_7_27000_54000"


def test_tombstone_joins_are_broadcast(spark):
    """mutations: the tiny delete dim must broadcast, never shuffle the
    mention-edge side."""
    import datetime as dt

    from semstreams_spark.operators.mutations import entity_status

    transcripts = spark.createDataFrame(
        [("c1", 0, "user", "hi @entity:e1", None, dt.datetime(2025, 1, 1))],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    deletes = spark.createDataFrame(
        [("test.local.graph.kb.entity.e1", dt.datetime(2025, 1, 2))],
        "entity_id string, ts timestamp",
    )
    p = _plan(entity_status(transcripts, deletes))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_embedder_stays_jvm_side(spark):
    """The hashed embedder is pure Catalyst — no Python eval in the plan."""
    from semstreams_spark.search.embedder import embed_texts

    docs = spark.createDataFrame([("a", "hello world"), ("b", "graph stream")], "id string, text string")
    p = _plan(embed_texts(docs, id_col="id"))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_pagerank_exact_no_cartesian_blowup(spark):
    """pagerank_exact: the dmass crossJoin is a 1-row broadcast, and the
    per-iteration link join is a hash join — no nested-loop over ranks."""
    from semstreams_spark.graph import pagerank_exact

    e = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string")
    # local_max_edges=0 pins the DISTRIBUTED loop's plan (the adaptive
    # dispatch would otherwise take the single-task path on 3 edges)
    pr = pagerank_exact(e, max_iter=2, local_max_edges=0)
    p = _plan(pr)
    assert "CartesianProduct" not in p
    ranks = {r["entity"]: r["rank"] for r in pr.collect()}
    assert abs(sum(ranks.values()) - 10**12) < 100  # mass conserved to ulp


def test_source_clustered_operators_have_no_exchange(spark, transcripts_small):
    """entity_states, graph_nodes and graph_edges compute their LWW
    winners inside the scan task (unique (conv_id, turn_idx) contract):
    their plans are Scan → Generate/Project with no shuffle."""
    from semstreams_spark.operators.merge import (
        edges_table_source_clustered,
        entity_states_source_clustered,
        nodes_table_source_clustered,
    )

    for op in (
        entity_states_source_clustered,
        nodes_table_source_clustered,
        edges_table_source_clustered,
    ):
        p = _plan(op(transcripts_small))
        assert "Exchange" not in p, (op.__name__, p)


def _final_plan(df) -> str:
    """The adaptive plan as executed: run the query, keep the final plan."""
    df.collect()
    p = _plan(df)
    assert "isFinalPlan=true" in p
    return p.split("== Initial Plan ==")[0]


def test_entity_delete_scans_transcripts_twice_and_reuses_its_tombstones(spark, tmp_path):
    """entity_delete: one transcript scan for the mention edges and one for
    the tombstone build side, no Union, and the tombstones broadcast once
    for both edge ends (the second join reads a ReusedExchange)."""
    import __spark_entry__ as entry

    # the query reads only the scale factor off the directory name
    p = _final_plan(entry.q_entity_delete(spark, str(tmp_path / "sf0.001")))
    lines = p.splitlines()
    scans = [ln for ln in lines if "FileScan parquet" in ln]
    assert len(scans) <= 2 and all("transcripts.parquet" in ln for ln in scans), scans
    assert "Union" not in p
    reused = [ln for ln in lines if "ReusedExchange" in ln]
    assert len(reused) == 1 and "BroadcastExchange" in reused[0], p
    assert p.count("BroadcastExchange") == 2, p  # the exchange and its reuse


def test_alert_cooldown_is_one_exchange_and_one_scan(spark, tmp_path):
    """alert_cooldown: hashed on the key once, then one mapInPandas scan
    per partition; no per-group applyInPandas."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    sf_dir = tmp_path / "sf0.001"
    sf_dir.mkdir()
    t0 = dt.datetime(2024, 1, 1)
    pq.write_table(
        pa.table({
            "ts": [t0 + dt.timedelta(minutes=20 * i) for i in range(40)],
            "user_id": [i % 3 for i in range(40)],
            "value": [181.0 + i for i in range(40)],
        }),
        str(sf_dir / "events.parquet"),
    )
    p = _final_plan(entry.q_alert_cooldown(spark, str(sf_dir)))
    assert "FlatMapGroupsInPandas" not in p
    assert "MapInPandas" in p
    assert p.count("Exchange hashpartitioning") == 1, p
