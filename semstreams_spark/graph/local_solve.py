"""Adaptive single-task solve for the iterative graph operators.

The distributed PageRank/LPA loops pay per-iteration FIXED costs (job
scheduling, shuffle exchange, state checkpoint) that dwarf the actual
arithmetic whenever the projected entity graph is small — exactly the
regime the round-2 perf ledger measured (per-iteration wall ~0.6 s on a
96k-edge graph whose numpy fixed-point step costs ~1 ms). This module
is the threshold dispatch for that case, the same adaptive-execution
shape Spark itself applies to joins (broadcast under
``autoBroadcastJoinThreshold``, shuffle above). :func:`solve` is the one
dispatch both operators share:

* the ``(src, dst)`` input is materialized once by :func:`materialize`
  (``localCheckpoint``, with an ``Observation`` that counts the rows in
  the same job), so the dispatch costs no job of its own. That step is
  shared by every graph loop that stores a frame and reads its size: the
  traversal's hop frontiers (an empty one ends the loop), the
  hierarchy's edges and community graphs, and the distributed
  PageRank's node set (its rank arithmetic divides by the node count);
* under :func:`local_max_edges` the checkpoint is coalesced into ONE executor
  task (``coalesce(1).mapInPandas``: no exchange, never the driver) and
  the whole fixed-point loop runs vectorized in numpy inside that task.
  The result is lazy: the caller's own action runs the solve;
* over the threshold the distributed join+agg loop runs over the
  checkpoint — that is the 100 TB path.

Both operators were deliberately designed order-free (BIGINT fixed-point
PageRank; min-label majority LPA), so the two paths are BIT-IDENTICAL —
asserted by parity tests on random graphs (``tests/test_local_solve.py``)
and by the unchanged DuckDB gates, which exercise the local path at
sf0.01. Threshold override: ``SPARK_GRAFT_LOCAL_GRAPH_MAX_EDGES``
(0 disables the local path for any non-empty graph).

Reference semantics anchors: damped iteration
``pkg/graphclustering/pagerank.go:50-219``; LPA vote loop
``pkg/graphclustering/lpa.go:99-233`` (made deterministic per SURVEY
§4.2.4).
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

DEFAULT_LOCAL_MAX_EDGES = 2_000_000


def local_max_edges() -> int:
    """The largest edge count solved in one task:
    ``SPARK_GRAFT_LOCAL_GRAPH_MAX_EDGES``, else 2M."""
    return int(os.environ.get("SPARK_GRAFT_LOCAL_GRAPH_MAX_EDGES", DEFAULT_LOCAL_MAX_EDGES))


def materialize(df: DataFrame) -> tuple[DataFrame, int]:
    """``df`` stored by ``localCheckpoint`` and its row count, both from
    ONE job: an ``Observation`` counts the rows as the checkpoint writes
    them, so reading the size costs no second scan."""
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    return out, obs.get["n"]


def solve(
    e: DataFrame,
    n_edges: int,
    local: Callable[[np.ndarray, np.ndarray], pd.DataFrame],
    schema: str,
    distributed: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Dispatch on (src, dst) edges ``e`` that :func:`materialize` stored
    and counted (``n_edges``): under :func:`local_max_edges` return
    the lazy single-task ``local(src, dst)`` over ``e`` as ``schema``,
    else ``distributed(e)``."""
    if n_edges > local_max_edges():
        return distributed(e)

    def run(batches):
        batches = [b for b in batches if len(b)]
        if batches:
            pdf = pd.concat(batches, ignore_index=True)
            yield local(pdf["src"].to_numpy(), pdf["dst"].to_numpy())

    return e.coalesce(1).mapInPandas(run, schema)


def _index_edges(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Map string endpoints to indices into the SORTED unique-entity
    array — so index order == lexicographic order, and min-index ==
    min-label everywhere below."""
    ents = np.unique(np.concatenate([src, dst]))
    return ents, np.searchsorted(ents, src), np.searchsorted(ents, dst)


# ---------------------------------------------------------------- PageRank

# fixed-point PageRank: rank ≈ true_rank × SCALE, damping
# DAMPING_NUM / DAMPING_DEN = 0.85 (the reference default), MAX_ITER
# iterations (the registry's count)
SCALE = 10**12
DAMPING_NUM, DAMPING_DEN = 85, 100
MAX_ITER = 10


def _pagerank_core(src_i: np.ndarray, dst_i: np.ndarray, n: int) -> np.ndarray:
    """Bit-identical replay of pagerank_exact's BIGINT recurrence:
    contribution = rank div deg (edge MULTIset — duplicates contribute
    per occurrence, matching the DataFrame loop), dangling mass folded
    as dmass div n, all ops non-negative int64 so numpy ``//`` ==
    Spark ``div``."""
    deg = np.bincount(src_i, minlength=n)
    dangling = deg == 0
    # int64-exact scatter-add: pre-sorted destination runs + reduceat
    order = np.argsort(dst_i, kind="stable")
    dst_sorted = dst_i[order]
    starts = np.flatnonzero(np.diff(dst_sorted, prepend=-1) != 0)
    dst_uniq = dst_sorted[starts]

    base = ((DAMPING_DEN - DAMPING_NUM) * SCALE) // (DAMPING_DEN * n)
    rank = np.full(n, SCALE // n, dtype=np.int64)
    for _ in range(MAX_ITER):
        inflow = np.zeros(n, dtype=np.int64)
        if len(src_i):
            c = rank[src_i] // deg[src_i]
            inflow[dst_uniq] = np.add.reduceat(c[order], starts)
        dmass = int(rank[dangling].sum())
        rank = base + (DAMPING_NUM * (dmass // n + inflow)) // DAMPING_DEN
    return rank


def pagerank_local(src: np.ndarray, dst: np.ndarray) -> pd.DataFrame:
    """Single-task PageRank over one edge list: (entity, rank) identical
    to the distributed loop."""
    ents, src_i, dst_i = _index_edges(src, dst)
    rank = _pagerank_core(src_i, dst_i, len(ents))
    return pd.DataFrame({"entity": ents, "rank": rank})


# --------------------------------------------------------------------- LPA


def _lpa_core(src_i: np.ndarray, dst_i: np.ndarray, n: int, max_iter: int) -> np.ndarray:
    """Synchronous min-label majority LPA over the DISTINCT undirected
    edge set + one self-vote per node (mirrors lpa_communities: bidir ∪
    self-loops, distinct). Vote winner per node = max count, tie →
    smallest label (index order == lex order)."""
    # und = distinct((s,d) ∪ (d,s) ∪ (i,i)) via packed-key unique
    all_src = np.concatenate([src_i, dst_i, np.arange(n, dtype=np.int64)])
    all_dst = np.concatenate([dst_i, src_i, np.arange(n, dtype=np.int64)])
    keys = np.unique(all_src.astype(np.int64) * n + all_dst.astype(np.int64))
    u_src = keys // n
    u_dst = keys % n

    label = np.arange(n, dtype=np.int64)
    for _ in range(max_iter):
        lab = label[u_dst]
        # count votes per (src, lab), then per src pick (max n, min lab)
        vkeys = u_src * n + lab
        vkeys.sort()
        starts = np.flatnonzero(np.diff(vkeys, prepend=-1) != 0)
        counts = np.diff(np.append(starts, len(vkeys)))
        v_src = vkeys[starts] // n
        v_lab = vkeys[starts] % n
        order = np.lexsort((v_lab, -counts, v_src))
        first = np.flatnonzero(np.diff(v_src[order], prepend=-1) != 0)
        new_label = label.copy()
        new_label[v_src[order][first]] = v_lab[order][first]
        if np.array_equal(new_label, label):
            break
        label = new_label
    return label


def lpa_local(src: np.ndarray, dst: np.ndarray, max_iter: int) -> pd.DataFrame:
    """Single-task LPA over one edge list: (entity, community) identical
    to the distributed vote loop."""
    ents, src_i, dst_i = _index_edges(src, dst)
    label = _lpa_core(src_i, dst_i, len(ents), max_iter)
    return pd.DataFrame({"entity": ents, "community": ents[label]})
