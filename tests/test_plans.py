"""Plan-quality assertions: pushdown, pruning, broadcast, codegen —
the .explain() contracts that make the operators survive a 100x scale-up."""

from __future__ import annotations

import json
import os
import re
import sys

import pytest
from pyspark.sql import functions as F

from semstreams_spark.datagen import ensure_transcripts, transcripts_path
from semstreams_spark.extract import extract_triples
from semstreams_spark.operators.joins import resolve_aliases

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
import plan_fingerprint  # noqa: E402


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

    df = spark.createDataFrame([("a",), ("b",)], "dst string")
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
    out = [r["g"] for r in df.select(geo_bin(F.col("lat"), F.col("lon")).alias("g")).collect()]
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


def test_pagerank_exact_no_cartesian_blowup(spark, monkeypatch):
    """pagerank_exact: the dmass crossJoin is a 1-row broadcast, and the
    per-iteration link join is a hash join — no nested-loop over ranks."""
    from semstreams_spark.graph import pagerank_exact

    e = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string")
    # a threshold of 0 pins the DISTRIBUTED loop's plan (the adaptive
    # dispatch would otherwise take the single-task path on 3 edges)
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_GRAPH_MAX_EDGES", "0")
    pr = pagerank_exact(e)
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


@pytest.fixture(scope="module")
def registry_plans(spark):
    """Every registry query built once: name -> its normalized (optimized
    logical, initial physical) plans."""
    return plan_fingerprint.build_plans(spark)


def test_plan_fingerprints_match(registry_plans):
    """``plans/fingerprints.json`` holds the plans and oracle texts the
    tree builds. A change that moves a plan on purpose regenerates it with
    ``python tools/plan_fingerprint.py``; ``python
    tools/plan_fingerprint.py <query>`` in two checkouts shows what moved."""
    with open(plan_fingerprint.FINGERPRINTS) as f:
        committed = json.load(f)
    now = plan_fingerprint.fingerprints(registry_plans)
    moved = {
        name: sorted(k for k in {**a, **b} if a.get(k) != b.get(k))
        for name in committed.keys() | now.keys()
        if (a := committed.get(name, {})) != (b := now.get(name, {}))
    }
    assert not moved, f"queries whose fingerprints moved (query: parts): {dict(sorted(moved.items()))}"


def test_plan_fingerprint_refuses_truncated_plans(spark):
    """A plan string cut at ``spark.sql.debug.maxToStringFields`` (25)
    would hide a change past the cut."""
    wide = spark.range(1).select(*[F.lit(i).alias(f"c{i}") for i in range(30)])
    with pytest.raises(ValueError, match="more fields"):
        plan_fingerprint.plans(wide)


def test_bucketed_dedup_joins_have_no_cartesian_or_bnlj(registry_plans):
    """MinHash and embedding near-dups pair documents through bucket
    equi-joins, never all-pairs."""
    for name in ("minhash_pairs", "embedding_neardup_lsh"):
        _, p = registry_plans[name]
        assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, (name, p)


def _children(plan: str, op: str) -> list[list[str]]:
    """The child subtrees, as lines, of the one node of ``plan`` whose
    operator starts with ``op``."""
    lines = plan.splitlines()
    (i,) = [k for k, ln in enumerate(lines) if ln.lstrip(" :+-").startswith(op)]
    depth = len(lines[i]) - len(lines[i].lstrip(" :+-"))
    kids: list[list[str]] = []
    for ln in lines[i + 1 :]:
        d = len(ln) - len(ln.lstrip(" :+-"))
        if d <= depth:
            break
        if d == depth + 3:
            kids.append([])
        kids[-1].append(ln.strip(" :+-"))
    return kids


def test_bm25_nested_loop_join_is_the_one_row_stats(registry_plans):
    """bm25_topk's one nested-loop join crosses the postings with the
    broadcast one-row (n_docs, avgdl) corpus aggregate."""
    _, p = registry_plans["bm25_topk"]
    assert p.count("BroadcastNestedLoopJoin") == 1, p
    left, right = _children(p, "BroadcastNestedLoopJoin")
    build = right if "BroadcastNestedLoopJoin BuildRight" in p else left
    assert build[0].startswith("BroadcastExchange"), build
    assert re.fullmatch(r"HashAggregate\(keys=\[\], .*, output=\[n_docs#\d+L, avgdl#\d+\]\)", build[1]), build


@pytest.mark.parametrize(
    "name,n", [("ivf_topk", 2), ("entity_semantic_topk", 2), ("media_wav_decode", 1)]
)
def test_python_kernels_are_declared_map_in_pandas(registry_plans, name, n):
    """The numpy kernels run as declared ``mapInPandas`` batches, never as
    row-at-a-time or Arrow Python UDF evaluation."""
    _, p = registry_plans[name]
    assert p.count("MapInPandas") == n, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
