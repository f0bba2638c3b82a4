"""Bounded path traversal (PathRAG-style, G1).

Reference: DFS with MaxDepth/DecayFactor and cycle avoidance
(``graph/query/client.go:456-726``). Spark re-expression:
level-synchronous frontier BFS over the undirected edge set — each hop
is one join against the edge table; relevance decays per hop; a node
keeps its best (max) score over all paths; cycle avoidance falls out of
keeping min-depth-first-win.

The edge set and each hop's frontier are stored by
``local_solve.materialize``, which counts them in the job that stores
them: the count sizes the loop's shuffle width and ends the loop at an
empty frontier without a job of its own.

At scale the edge table is hash-partitioned by src so each hop is a
shuffle-free (co-partitioned) join after the first; locally Catalyst
broadcast-joins the frontier (tiny) against edges — exactly what a
1000-executor cluster would do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._width import iteration_shuffle_width
from .local_solve import materialize


def bounded_traversal(
    edges: DataFrame,
    start: str,
    max_depth: int = 3,
    decay: float = 0.85,
) -> DataFrame:
    """BFS from `start` to max_depth. Returns (entity, depth, score):
    depth = first-reach hop count, score = decay^depth (relevance,
    ``client.go`` DecayFactor semantics), deterministic.

    edges: (src, dst), followed in both directions (the reference
    enriches incoming + outgoing, J5).
    """
    spark: SparkSession = edges.sparkSession
    e, n_edges = materialize(_undirected(edges))

    visited = spark.createDataFrame(
        [(start, 0, 1.0)], "entity string, depth int, score double"
    )
    frontier = visited
    with iteration_shuffle_width(spark, n_edges):
        for d in range(1, max_depth + 1):
            nxt, n_new = materialize(
                frontier.join(e, frontier["entity"] == e["src"])
                .select(
                    F.col("dst").alias("entity"),
                    F.lit(d).alias("depth"),
                    (F.col("score") * F.lit(decay)).alias("score"),
                )
                .distinct()
                .join(visited.select("entity"), "entity", "left_anti")
            )
            if n_new == 0:
                break
            visited = visited.unionByName(nxt)
            frontier = nxt
    return visited


def _undirected(edges: DataFrame) -> DataFrame:
    e = edges.select("src", "dst")
    return e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()


def traversal_paths(
    edges: DataFrame,
    start: str,
    max_depth: int = 3,
    decay: float = 0.85,
    max_paths: int | None = None,
) -> DataFrame:
    """PathRAG path enumeration (``graph/query/client.go:456-726``,
    PathResult at ``:520``): all simple paths from `start` up to
    max_depth over the undirected (src, dst) edges, each as an explicit
    node sequence with a decayed score, under a MaxPaths budget with a
    `truncated` flag.

    Returns (path array<string>, depth int, score double,
    truncated boolean) — truncated is true on every row when max_paths
    cut the paths short (reference sets PathResult.Truncated). Over
    max_paths paths, the top max_paths by (score desc, path asc) are
    kept — deterministic, mirrors the reference's MaxPaths cap applied
    to collected paths.

    Each hop is one join frontier⋈edges with an array_contains cycle
    filter — level-synchronous BFS, no driver-side row loops.
    """
    spark: SparkSession = edges.sparkSession
    e, n_edges = materialize(_undirected(edges))

    frontier = spark.createDataFrame([([start], 0, 1.0)], "path array<string>, depth int, score double")
    out = frontier
    n_total = 1  # the hops' counts sum to the path count
    with iteration_shuffle_width(spark, n_edges):
        for d in range(1, max_depth + 1):
            last = F.element_at(F.col("path"), -1)
            nxt, n_frontier = materialize(
                frontier.join(e, last == e["src"])
                .filter(~F.array_contains(F.col("path"), F.col("dst")))
                .select(
                    F.concat(F.col("path"), F.array(F.col("dst"))).alias("path"),
                    F.lit(d).alias("depth"),
                    (F.col("score") * F.lit(decay)).alias("score"),
                )
            )
            if n_frontier == 0:
                break
            n_total += n_frontier
            out = out.unionByName(nxt)
            frontier = nxt

    truncated = max_paths is not None and n_total > max_paths
    if truncated:
        out = out.orderBy(F.desc("score"), F.asc("path")).limit(max_paths)
    return out.withColumn("truncated", F.lit(truncated))
