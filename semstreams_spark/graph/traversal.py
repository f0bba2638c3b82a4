"""Bounded path traversal (PathRAG-style, G1).

Reference: DFS with MaxDepth/DecayFactor and cycle avoidance
(``graph/query/client.go:456-726``). Spark re-expression:
level-synchronous frontier BFS over the undirected edge set — each hop
is one join against the edge table; relevance decays per hop; a node
keeps its best (max) score over all paths; cycle avoidance falls out of
keeping min-depth-first-win.

The edge set is stored once by ``localCheckpoint``. Each hop's frontier
is stored by ``local_solve.materialize``, which counts it in the job that
stores it, so an empty frontier ends the loop without a job of its own.
Every hop plans at the session's shuffle width; AQE coalesces the small
reduce sides.

At scale the edge table is hash-partitioned by src so each hop is a
shuffle-free (co-partitioned) join after the first; locally Catalyst
broadcast-joins the frontier (tiny) against edges — exactly what a
1000-executor cluster would do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .local_solve import materialize

# relevance kept per hop (the reference's DecayFactor)
DECAY = 0.85
# hops both traversals take, and the paths traversal_paths keeps (MaxPaths)
MAX_DEPTH, MAX_PATHS = 2, 500


def bounded_traversal(edges: DataFrame, start: str) -> DataFrame:
    """BFS from `start` to ``MAX_DEPTH`` hops. Returns (entity, depth, score):
    depth = first-reach hop count, score = DECAY^depth (relevance,
    ``client.go`` DecayFactor semantics), deterministic.

    edges: (src, dst), followed in both directions (the reference
    enriches incoming + outgoing, J5).
    """
    spark: SparkSession = edges.sparkSession
    e = _undirected(edges).localCheckpoint(eager=True)

    visited = spark.createDataFrame(
        [(start, 0, 1.0)], "entity string, depth int, score double"
    )
    frontier = visited
    for d in range(1, MAX_DEPTH + 1):
        nxt, n_new = materialize(
            frontier.join(e, frontier["entity"] == e["src"])
            .select(
                F.col("dst").alias("entity"),
                F.lit(d).alias("depth"),
                (F.col("score") * F.lit(DECAY)).alias("score"),
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


def traversal_paths(edges: DataFrame, start: str) -> DataFrame:
    """PathRAG path enumeration (``graph/query/client.go:456-726``,
    PathResult at ``:520``): all simple paths from `start` up to
    ``MAX_DEPTH`` hops over the undirected (src, dst) edges, each as an
    explicit node sequence with a DECAY^depth score, under a
    ``MAX_PATHS`` budget with a `truncated` flag.

    Returns (path array<string>, depth int, score double,
    truncated boolean) — truncated is true on every row when MAX_PATHS
    cut the paths short (reference sets PathResult.Truncated). Over
    MAX_PATHS paths, the top MAX_PATHS by (score desc, path asc) are
    kept — deterministic, mirrors the reference's MaxPaths cap applied
    to collected paths.

    Each hop is one join frontier⋈edges with an array_contains cycle
    filter — level-synchronous BFS, no driver-side row loops.
    """
    spark: SparkSession = edges.sparkSession
    e = _undirected(edges).localCheckpoint(eager=True)

    frontier = spark.createDataFrame([([start], 0, 1.0)], "path array<string>, depth int, score double")
    out = frontier
    n_total = 1  # the hops' counts sum to the path count
    for d in range(1, MAX_DEPTH + 1):
        last = F.element_at(F.col("path"), -1)
        nxt, n_frontier = materialize(
            frontier.join(e, last == e["src"])
            .filter(~F.array_contains(F.col("path"), F.col("dst")))
            .select(
                F.concat(F.col("path"), F.array(F.col("dst"))).alias("path"),
                F.lit(d).alias("depth"),
                (F.col("score") * F.lit(DECAY)).alias("score"),
            )
        )
        if n_frontier == 0:
            break
        n_total += n_frontier
        out = out.unionByName(nxt)
        frontier = nxt

    truncated = n_total > MAX_PATHS
    if truncated:
        out = out.orderBy(F.desc("score"), F.asc("path")).limit(MAX_PATHS)
    return out.withColumn("truncated", F.lit(truncated))
