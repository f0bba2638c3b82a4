"""PageRank (G3).

Reference: damped iteration with tolerance convergence
(``pkg/graphclustering/pagerank.go:50-219``, defaults damping 0.85,
tolerance 1e-6, max 100 iters at ``pagerank.go:25-33``).

Spark form: fixed-point BIGINT iteration over (src, dst) edges with
dangling-mass redistribution, run in one task under the local-solve
threshold and as an iterative join+agg above it; localCheckpoint per
iteration cuts lineage. Deterministic: no sampling, fixed iteration
order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .local_solve import DAMPING_DEN, DAMPING_NUM, MAX_ITER, SCALE, materialize, pagerank_local, solve


def pagerank_exact(edges: DataFrame) -> DataFrame:
    """Fixed-point integer PageRank: (entity, rank) with rank ≈ true_rank ×
    SCALE (10^12), damping 0.85, ``MAX_ITER`` iterations, all arithmetic
    in BIGINT.

    Why: float PageRank sums are order-dependent (shuffle order varies per
    run/cluster), so the result is only reproducible to ~1e-15 — good
    enough for ranking, not for a bit-exact correctness gate. Integer sums
    are associative-exact, so this variant is bit-identical on any engine,
    partitioning, or cluster size (truncation error < MAX_ITER ulp of
    1/SCALE per node — ranking-order-equivalent to the float form).
    Mirrors the reference's damped iteration (``pkg/graphclustering/
    pagerank.go:50-219``) at fixed iteration count.

    Adaptive execution (``local_solve.solve``): a graph under
    ``local_solve.local_max_edges()`` (2M, env
    ``SPARK_GRAFT_LOCAL_GRAPH_MAX_EDGES``) runs the whole loop vectorized
    inside ONE executor task instead of MAX_ITER distributed join+agg
    rounds — bit-identical by construction (integer arithmetic is
    order-free; parity-tested), and the per-iteration fixed costs that
    dominate small graphs vanish. Larger graphs take the distributed loop
    below — the 100 TB path.
    """
    return solve(
        *materialize(edges.select("src", "dst")),
        pagerank_local,
        "entity string, rank long",
        _pagerank_distributed,
    )


def _pagerank_distributed(edges: DataFrame) -> DataFrame:
    """pagerank_exact's join+agg loop over materialized (src, dst) edges."""
    nodes, n = materialize(
        edges.select(F.col("src").alias("entity"))
        .unionByName(edges.select(F.col("dst").alias("entity")))
        .distinct()
    )
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    links = edges.join(out_deg, "src").select("src", "dst", "deg").cache()
    dangling_nodes = nodes.join(out_deg, nodes["entity"] == out_deg["src"], "left_anti").cache()

    # (1-d)/n term is a pure constant under integer division
    base = ((DAMPING_DEN - DAMPING_NUM) * SCALE) // (DAMPING_DEN * n)
    ranks = nodes.withColumn("rank", F.lit(SCALE // n).cast("long"))
    for _ in range(MAX_ITER):
        contribs = (
            links.join(ranks, links["src"] == ranks["entity"])
            .select(F.col("dst").alias("entity"), F.expr("rank div deg").alias("c"))
            .groupBy("entity")
            .agg(F.sum("c").alias("inflow"))
        )
        dm = dangling_nodes.join(ranks, "entity").agg(
            F.coalesce(F.sum("rank"), F.lit(0)).cast("long").alias("dmass")
        )
        ranks = (
            nodes.join(contribs, "entity", "left")
            .crossJoin(F.broadcast(dm))
            .select(
                "entity",
                (
                    F.lit(base).cast("long")
                    + F.expr(
                        f"({DAMPING_NUM} * ((dmass div {n}) + coalesce(inflow, 0L))) div {DAMPING_DEN}"
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    links.unpersist()
    dangling_nodes.unpersist()
    return ranks
