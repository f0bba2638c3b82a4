"""Label-propagation community detection (G2).

Reference: async LPA with RANDOM node order and random tie-breaks
(``pkg/graphclustering/lpa.go:99-233``, shuffle at ``lpa.go:173-178``) —
non-deterministic by construction. Our engine deliberately fixes that
(SURVEY §4.2.4): synchronous label propagation, majority vote with
min-label tie-break — bit-reproducible on any cluster size.

Each iteration: one join (labels→edges) + one two-level agg (count votes,
argmax with min-label tie-break). localCheckpoint cuts lineage.

Synchronous LPA with pure neighbor votes oscillates on bipartite
structures (a 2-node component flips labels forever); each node therefore
also votes its OWN current label once — the classic convergence fix,
deterministic, and equivalent on non-oscillating graphs.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._width import iteration_shuffle_width
from .local_solve import lpa_local, materialize, solve


def lpa_communities(
    edges: DataFrame, max_iter: int = 10, local_max_edges: int | None = None
) -> DataFrame:
    """(entity, community) — community = min entity id of the cluster's
    converged label. Undirected propagation.

    Adaptive execution (``local_solve.solve``, shared with
    pagerank_exact): under ``local_max_edges`` (default 2M, env
    ``SPARK_GRAFT_LOCAL_GRAPH_MAX_EDGES``) the vote loop runs vectorized
    in ONE executor task — bit-identical (min-label votes are
    order-free; parity-tested) without max_iter join+agg rounds of
    fixed cost. Larger graphs take the distributed loop."""
    return _lpa(*materialize(edges.select("src", "dst")), max_iter, local_max_edges)


def _lpa(
    e: DataFrame, n_edges: int, max_iter: int, local_max_edges: int | None = None
) -> DataFrame:
    """lpa_communities over (src, dst) edges ``e`` already materialized,
    with ``n_edges`` rows."""
    return solve(
        e,
        n_edges,
        local_max_edges,
        partial(lpa_local, max_iter=max_iter),
        "entity string, community string",
        partial(_lpa_distributed, max_iter=max_iter),
    )


def _lpa_distributed(e: DataFrame, max_iter: int) -> DataFrame:
    """lpa_communities' vote loop over materialized (src, dst) edges."""
    bidir = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # self-loop per node = one self-vote (see module docstring)
    und = (
        bidir.unionByName(bidir.select("src", F.col("src").alias("dst")))
        .distinct()
        .cache()
    )
    labels, n = materialize(
        und.select(F.col("src").alias("entity"))
        .distinct()
        .withColumn("label", F.col("entity"))
    )
    # label votes are min_by-deterministic regardless of partitioning, so
    # the graph-sized shuffle width changes only per-iteration fixed cost
    with iteration_shuffle_width(e.sparkSession, n):
        for it in range(max_iter):
            votes = (
                und.join(labels, und["dst"] == labels["entity"])
                .groupBy(F.col("src"), F.col("label"))
                .agg(F.count(F.lit(1)).alias("n"))
            )
            # majority label; ties -> lexicographically smallest label:
            # minimize (-n, label)
            best = votes.groupBy("src").agg(
                F.expr("min_by(label, struct(-n, label))").alias("new_label")
            )
            new_labels = best.select(F.col("src").alias("entity"), F.col("new_label").alias("label"))
            new_labels = new_labels.localCheckpoint(eager=True)
            prev, labels = labels, new_labels
            # convergence test costs a driver action — sample every 3rd
            # iteration (matches the pagerank pattern); extra iterations after
            # convergence are idempotent, so sampling never changes the result
            if it % 3 == 2 or it == max_iter - 1:
                changed = (
                    labels.alias("n")
                    .join(prev.alias("o"), "entity")
                    .filter(F.col("n.label") != F.col("o.label"))
                    .count()
                )
                if changed == 0:
                    break
    und.unpersist()
    return labels.select("entity", F.col("label").alias("community"))


def lpa_hierarchy(edges: DataFrame, levels: int = 3, max_iter: int = 8) -> DataFrame:
    """Hierarchical LPA (reference default 3 levels, max 10:
    ``pkg/graphclustering/lpa.go:20-23,39,73-79``): level 0 = LPA over the
    raw graph; level k+1 = LPA over the COMMUNITY graph of level k (one
    super-node per community, an edge wherever any cross-community edge
    exists). Communities with no cross-community edges keep their own id.

    Returns (entity, level, community) long-form — GraphRAG local/global
    search binds its `level` parameter by filtering this table
    (``querymanager/graphrag_search.go:43-106``).

    Scale shape: the community graph shrinks geometrically per level, so
    upper levels cost a fraction of level 0; each level is the same
    join+agg LPA loop.

    The edge input is stored once (``local_solve.materialize``): level 0
    dispatches on that checkpoint and every level's community graph is
    built from it. Each community graph is materialized and counted in
    one job, and an empty one ends the hierarchy.
    """
    if levels < 1:
        raise ValueError("levels must be >= 1")
    e, n_edges = materialize(edges.select("src", "dst"))
    members = _lpa(e, n_edges, max_iter).localCheckpoint(eager=True)
    out = members.withColumn("level", F.lit(0))
    for lvl in range(1, levels):
        ms = members.select(F.col("entity").alias("src"), F.col("community").alias("c_src"))
        md = members.select(F.col("entity").alias("dst"), F.col("community").alias("c_dst"))
        ce, n_ce = materialize(
            e.join(ms, "src")
            .join(md, "dst")
            .filter(F.col("c_src") != F.col("c_dst"))
            .select(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
            .distinct()
        )
        if n_ce == 0:
            break
        sup = _lpa(ce, n_ce, max_iter).toDF("community", "up")
        members = (
            members.join(sup, "community", "left")
            .select(
                "entity",
                F.coalesce(F.col("up"), F.col("community")).alias("community"),
            )
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(members.withColumn("level", F.lit(lvl)))
    return out.select("entity", "level", "community")
