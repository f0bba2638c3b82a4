"""Adaptive single-task graph solve: the local numpy path must be
BIT-IDENTICAL to the distributed join+agg loop (both operators are
order-free by design — BIGINT fixed-point PageRank, min-label majority
LPA — so any divergence is a bug, not a tolerance), and the edge count
that picks the path costs no job of its own. The distributed path is
forced by setting ``SPARK_GRAFT_LOCAL_GRAPH_MAX_EDGES``."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F


def _random_graph(seed: int, n_nodes: int, n_edges: int) -> list[tuple[str, str]]:
    """Random directed multigraph: duplicate edges (PageRank multiset
    semantics), self-loops, dangling nodes (only ever dst), and mixed-
    length ids (lexicographic tie-break coverage) all occur."""
    rng = random.Random(seed)
    names = [f"e{i}" for i in range(n_nodes)] + [f"ent_{i:03d}" for i in range(n_nodes // 3)]
    # non-ASCII ids pin that numpy's code-point string order matches
    # Spark's binary UTF-8 order in the min-label tie-break (UTF-8 is
    # code-point-order-preserving, so they must agree)
    names += ["éntity_α", "实体_1", "entity_\U0001f600"]
    edges = []
    for _ in range(n_edges):
        s, d = rng.choice(names), rng.choice(names)
        edges.append((s, d))
        if rng.random() < 0.15:  # duplicate edge
            edges.append((s, d))
    # guaranteed dangling node: appears only as a destination
    edges.append((rng.choice(names), "zz_dangling_only"))
    return edges


def _local_and_distributed(monkeypatch, run):
    """``run()``'s rows on the local path, then with the threshold at 0."""
    local = set(map(tuple, run().collect()))
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_GRAPH_MAX_EDGES", "0")
    return local, set(map(tuple, run().collect()))


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_pagerank_local_matches_distributed(spark, monkeypatch, seed):
    from semstreams_spark.graph import pagerank_exact

    e = spark.createDataFrame(_random_graph(seed, 40, 160), "src string, dst string")
    local, dist = _local_and_distributed(monkeypatch, lambda: pagerank_exact(e))
    assert local == dist and len(local) > 0


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_lpa_local_matches_distributed(spark, monkeypatch, seed):
    from semstreams_spark.graph import lpa, lpa_communities

    monkeypatch.setattr(lpa, "MAX_ITER", 8)
    e = spark.createDataFrame(_random_graph(seed, 30, 90), "src string, dst string")
    local, dist = _local_and_distributed(monkeypatch, lambda: lpa_communities(e))
    assert local == dist and len(local) > 0


def test_local_solve_runs_in_executor_not_driver(spark):
    """The local path is one task over the materialized edges — a
    MapInPandas over Coalesce 1 in the executed plan, with no exchange and
    no grouped applyInPandas, never a driver collect."""
    from semstreams_spark.graph import pagerank_exact

    e = spark.createDataFrame([("a", "b"), ("b", "a"), ("b", "c")], "src string, dst string")
    pr = pagerank_exact(e)
    plan = pr._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "Coalesce 1" in plan, plan
    assert plan.index("MapInPandas") < plan.index("Coalesce 1"), plan  # the solve sits above
    assert "Exchange" not in plan and "FlatMapGroupsInPandas" not in plan, plan
    ranks = {r["entity"]: r["rank"] for r in pr.collect()}
    assert abs(sum(ranks.values()) - 10**12) < 100  # mass conserved to ulp


@pytest.mark.parametrize("op", ["pagerank", "lpa"])
def test_dispatch_follows_the_observed_edge_count(spark, monkeypatch, op):
    """The edge count the materializing job observes picks the path: local
    at a threshold of n edges, distributed at n - 1, with identical rows."""
    from semstreams_spark.graph import lpa_communities, pagerank_exact

    rows = _random_graph(21, 25, 70)
    n = len(rows)
    e = spark.createDataFrame(rows, "src string, dst string")

    def run(limit):
        monkeypatch.setenv("SPARK_GRAFT_LOCAL_GRAPH_MAX_EDGES", str(limit))
        if op == "pagerank":
            return pagerank_exact(e)
        return lpa_communities(e)

    local, dist = run(n), run(n - 1)
    assert "MapInPandas" in local._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in dist._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, local.collect())) == sorted(map(tuple, dist.collect()))


def test_pagerank_entities_runs_four_jobs(spark, tmp_path):
    """q_pagerank_entities into a noop sink: the jobs that materialize and
    count the co-mention edges, then the caller's write runs the solve."""
    from test_read_parquet import _jobs

    import __spark_entry__ as entry

    # the query reads only the scale factor off the directory name
    sf = str(tmp_path / "sf0.001")
    entry.q_pagerank_entities(spark, sf).write.format("noop").mode("overwrite").save()
    _, n_jobs = _jobs(
        spark,
        lambda: entry.q_pagerank_entities(spark, sf).write.format("noop").mode("overwrite").save(),
    )
    assert n_jobs <= 4, n_jobs


@pytest.mark.parametrize("query,max_jobs", [("paths_2hop", 9), ("context_flags", 20)])
def test_traversal_query_job_count(spark, tmp_path, query, max_jobs):
    """The traversal queries into a noop sink, warm: each stored frame
    (the undirected edges, every hop's frontier) is counted by the job
    that stores it. When each stored frame was cached or checkpointed and
    then counted in a job of its own, they ran 15 and 24 jobs."""
    from test_read_parquet import _jobs

    import __spark_entry__ as entry

    sf = str(tmp_path / "sf0.001")
    q = getattr(entry, f"q_{query}")
    q(spark, sf).write.format("noop").mode("overwrite").save()
    _, n_jobs = _jobs(spark, lambda: q(spark, sf).write.format("noop").mode("overwrite").save())
    assert n_jobs <= max_jobs, n_jobs


def test_lpa_hierarchy_stores_level0_edges_once(spark, monkeypatch):
    """When level 0's LPA starts, the hierarchy has stored its edge input
    once: the checkpoint level 0 runs on, with no cache of the same edges
    beside it. The distributed path is forced so that level 0 starts on
    the driver, where the storage can be read."""
    from semstreams_spark.graph import lpa

    sc = spark.sparkContext._jsc.sc()

    def stored():
        return {i.id(): i.memSize() for i in sc.getRDDStorageInfo()}

    before = stored()
    seen = []
    level0 = lpa._lpa_distributed

    def spy(e, max_iter):
        if not seen:
            seen.append({k: v for k, v in stored().items() if k not in before})
        return level0(e, max_iter)

    monkeypatch.setenv("SPARK_GRAFT_LOCAL_GRAPH_MAX_EDGES", "0")
    monkeypatch.setattr(lpa, "_lpa_distributed", spy)
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x")],
        "src string, dst string",
    )
    rows = lpa.lpa_hierarchy(e).collect()
    assert {r["level"] for r in rows} == {0, 1}
    assert len(seen[0]) == 1, seen


def test_lpa_local_two_triangles_bridge(spark, monkeypatch):
    """Known topology through the LOCAL path: two triangles joined by a
    bridge still resolve to min-id communities (mirrors the distributed
    test in test_dedup_similarity)."""
    from semstreams_spark.graph import lpa, lpa_communities

    monkeypatch.setattr(lpa, "MAX_ITER", 8)
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("y", "z"), ("z", "x")],
        "src string, dst string",
    )
    out = {r["entity"]: r["community"] for r in lpa_communities(e).collect()}
    assert out == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "x"}


def test_dispatch_threshold_env_override(spark, monkeypatch):
    from semstreams_spark.graph.local_solve import local_max_edges

    monkeypatch.setenv("SPARK_GRAFT_LOCAL_GRAPH_MAX_EDGES", "7")
    assert local_max_edges() == 7
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_GRAPH_MAX_EDGES")
    assert local_max_edges() == 2_000_000
