"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline (transcripts → triples → entity graph)
at sf0.001. ``queries()`` — one entry per implemented operator from
SURVEY.md §2. ``oracle_sql()`` — DuckDB-equivalent SQL per query (the
transcript input is this repo's deterministic synthetic table, generated
on first use; addressed in oracle SQL via read_parquet of an absolute
path since the driver pre-registers only the TPC-H-ish views).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from semstreams_spark import oracles
from semstreams_spark.datagen import ensure_transcripts, sf_from_dir, transcripts_path, aliases_path
from semstreams_spark.extract import extract_triples
from semstreams_spark.extract.triples import (
    IN_EDGE,
    MENTION_IDS,
    MENTION_NAMES,
    MENTIONS_EDGE,
    NODE_TYPE,
    conversation_id,
    entity_id,
    entity_id_of,
    mention_ids,
    turn_subject,
)
from semstreams_spark.operators import edges_table
from semstreams_spark.operators.merge import (
    edges_table_source_clustered,
    entity_states_source_clustered,
    graph_snapshot,
    nodes_table_source_clustered,
)
from semstreams_spark.operators.joins import resolve_aliases, tool_invocation_correlation, turn_with_prior
from semstreams_spark.operators.sessions import sessionize
from semstreams_spark.operators.windows import entity_cooccurrence, node_degree_tumbling
from semstreams_spark.rules import DEFAULT_RULES, evaluate_rules
from semstreams_spark.session import read_parquet

ORACLE_SF = 0.01  # the driver's correctness gate runs at sf0.01


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    sf = sf_from_dir(sf_dir)
    ensure_transcripts(sf)
    return read_parquet(spark, transcripts_path(sf))


def _aliases(spark: SparkSession, sf_dir: str) -> DataFrame:
    sf = sf_from_dir(sf_dir)
    ensure_transcripts(sf)
    return read_parquet(spark, aliases_path(sf))


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full ingest pipeline at sf0.001 — transcripts → triples →
    LWW entity states → edge upsert."""
    t = _transcripts(spark, "/root/testdata/sf0.001")
    return edges_table(extract_triples(t))


# ---------------------------------------------------------------- graph core


def q_triples_extract(spark, sf_dir):
    return extract_triples(_transcripts(spark, sf_dir))


def q_entity_states(spark, sf_dir):
    """r6: source-clustered form — same rows as
    entity_states(extract_triples(t)) (parity-tested + oracle-gated), with
    the aggregation sort+exchange of the full triple fan-out removed
    (guide §2.4/§8: (conv_id, turn_idx) is unique, so no LWW group spans
    input rows)."""
    return entity_states_source_clustered(_transcripts(spark, sf_dir))


def q_graph_nodes(spark, sf_dir):
    """r6: source-clustered form of the node table of extract_triples(t)
    (parity twin: tests/merge_reference.nodes_table)."""
    return nodes_table_source_clustered(_transcripts(spark, sf_dir))


def q_graph_edges(spark, sf_dir):
    """r6: source-clustered form of edges_table(extract_triples(t))."""
    return edges_table_source_clustered(_transcripts(spark, sf_dir))


def q_edges_resolved(spark, sf_dir):
    """Mention edges with dst resolved through the broadcast alias dim (J1).
    r6: the entity_ref rows derive directly from transcripts (one in-edge
    per turn + one row per mention occurrence) — identical to filtering
    the full triple fan-out, without materializing it (oracle-gated)."""
    t = _transcripts(spark, sf_dir)
    al = _aliases(spark, sf_dir).select(
        entity_id(F.col("alias")).alias("alias"),
        entity_id(F.col("entity_name")).alias("canonical"),
    )
    r2 = lambda dst, et: F.struct(dst.alias("dst"), F.lit(et).alias("edge_type"))  # noqa: E731
    empty = F.array().cast("array<struct<dst:string,edge_type:string>>")
    refs = F.concat(
        F.array(r2(conversation_id(), IN_EDGE)),
        F.coalesce(F.transform(mention_ids(), lambda m: r2(m, MENTIONS_EDGE)), empty),
    )
    rel = t.select(turn_subject().alias("src"), F.explode(refs).alias("r"), "ts").select(
        "src", F.col("r.dst").alias("dst"), F.col("r.edge_type").alias("edge_type"), "ts"
    )
    res = resolve_aliases(rel, al, col="dst").select(
        "src", F.col("dst_resolved").alias("dst"), "edge_type", "ts"
    )
    return res.groupBy("src", "dst", "edge_type").agg(
        F.min("ts").alias("created_at"), F.count(F.lit(1)).alias("n_obs")
    )


def q_turn_prior(spark, sf_dir):
    return turn_with_prior(_transcripts(spark, sf_dir))


def q_tool_corr(spark, sf_dir):
    return tool_invocation_correlation(_transcripts(spark, sf_dir))


def q_sessions(spark, sf_dir):
    return sessionize(_transcripts(spark, sf_dir), gap_minutes=30)


def _mention_rows(spark, sf_dir):
    """One row per mention OCCURRENCE, derived directly from transcripts:
    (conv_id, mention name ``e``, text, ts, seq, turn_idx). Row-for-row
    identical to filtering extract_triples to its mention triples: the
    object is ``entity_id(e)`` and the subject ``turn_subject()`` of the
    same row (both from ``extract.triples``) — without materializing the
    5-7× triple fan-out and its text payloads (guide §2.3: shuffle/derive
    fewer bytes)."""
    return _transcripts(spark, sf_dir).selectExpr(
        "conv_id",
        f"explode({MENTION_NAMES}) as e",
        "text",
        "ts",
        "cast(turn_idx as int) as seq",
        "turn_idx",
    )


def _mention_edges(spark, sf_dir):
    """(src = entity id, dst = turn subject, ts) per mention occurrence."""
    return _mention_rows(spark, sf_dir).select(
        entity_id(F.col("e")).alias("src"), turn_subject().alias("dst"), "ts"
    )


def q_degree_tumbling(spark, sf_dir):
    return node_degree_tumbling(_mention_edges(spark, sf_dir), "5 minutes")


def q_cooccur_5min(spark, sf_dir):
    m = _mention_rows(spark, sf_dir).select("conv_id", F.col("e").alias("entity"), "ts")
    return entity_cooccurrence(m, "5 minutes")


def q_rule_events(spark, sf_dir):
    st = entity_states_source_clustered(_transcripts(spark, sf_dir))
    return evaluate_rules(st, DEFAULT_RULES)


# ------------------------------------------------------------- relational ops

_D = "decimal(18,6)"


def q_q1_pricing(spark, sf_dir):
    """TPC-H Q1 shape (P1 filter + A aggregates); exact decimal sums cast
    to double for cross-engine determinism."""
    li = _tbl(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    qty = F.col("l_quantity").cast(_D)
    price = F.col("l_extendedprice").cast(_D)
    disc_price = price * (F.lit(1.0) - F.col("l_discount")).cast(_D)
    charge = disc_price * (F.lit(1.0) + F.col("l_tax")).cast(_D)
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(price).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_parts_no_sales(spark, sf_dir):
    """Anti join (J6): parts never shipped."""
    p = _tbl(spark, sf_dir, "part")
    li = _tbl(spark, sf_dir, "lineitem").select("l_partkey")
    return p.join(li, p["p_partkey"] == li["l_partkey"], "left_anti").select(
        "p_partkey", "p_name", "p_brand"
    )


# ----------------------------------------------------- training-data pipeline


def q_dedup_exact(spark, sf_dir):
    """Exact dedup by content hash (md5 of raw text): keeper + copy count."""
    from semstreams_spark.operators.dedup import exact_dedup

    return exact_dedup(_tbl(spark, sf_dir, "documents"))


# ------------------------------------------- dedup / similarity / text / search


def _query_vec(sf_dir: str) -> list[float]:
    """Embedding of vec_id=0 (float32→float64 exact), the ANN query."""
    import duckdb

    p = os.path.join(sf_dir, "embeddings.parquet")
    (v,) = duckdb.sql(f"SELECT embedding FROM read_parquet('{p}') WHERE vec_id = 0").fetchone()
    return [float(x) for x in v]


BM25_QUERY = "spark data stream query window"


def q_text_lang_id(spark, sf_dir):
    from semstreams_spark.operators.textops import lang_id_table

    return lang_id_table(_tbl(spark, sf_dir, "documents"), id_col="doc_id")


def q_doc_fingerprint(spark, sf_dir):
    from semstreams_spark.operators.textops import fingerprint

    return _tbl(spark, sf_dir, "documents").select("doc_id", fingerprint(F.col("text")).alias("fp"))


def q_doc_quality(spark, sf_dir):
    from semstreams_spark.operators.textops import quality_features

    q = quality_features(_tbl(spark, sf_dir, "documents"))
    return q.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "avg_token_len",
        "punct_ratio",
        "uniq_token_ratio",
    )


def q_jaccard_pairs(spark, sf_dir):
    from semstreams_spark.operators.dedup import jaccard_pairs

    return jaccard_pairs(_tbl(spark, sf_dir, "documents"), threshold=0.5)


def q_minhash_pairs(spark, sf_dir):
    from semstreams_spark.operators.dedup import minhash_dedup

    return minhash_dedup(_tbl(spark, sf_dir, "documents"), threshold=0.5)


def q_simhash_pairs(spark, sf_dir):
    from semstreams_spark.operators.dedup import simhash_near_dups

    return simhash_near_dups(_tbl(spark, sf_dir, "documents"), max_hamming=14)


def q_cosine_topk(spark, sf_dir):
    from semstreams_spark.operators.similarity import cosine_topk

    top = cosine_topk(_tbl(spark, sf_dir, "embeddings"), _query_vec(sf_dir), k=10, exclude_self=0)
    return top.select("vec_id", F.round("cosine", 6).alias("cosine"))


def q_ann_topk(spark, sf_dir):
    from semstreams_spark.operators.similarity import ann_topk_lsh

    top = ann_topk_lsh(_tbl(spark, sf_dir, "embeddings"), _query_vec(sf_dir), k=10)
    return top.select("vec_id", F.round("cosine", 6).alias("cosine"))


def q_ivf_topk(spark, sf_dir):
    """IVF ANN (inverted-file cells, deterministic sample-trained k-means
    centroids, n_cells ≈ √N, probe-and-rerank) — the data-adaptive
    companion to ann_topk (LSH). Recall vs brute force asserted in
    tests/test_dedup_similarity.py::test_ivf_recall_vs_bruteforce."""
    from semstreams_spark.operators.similarity import ann_topk_ivf

    top = ann_topk_ivf(_tbl(spark, sf_dir, "embeddings"), _query_vec(sf_dir), k=10, n_cells=None)
    return top.select("vec_id", F.round("cosine", 6).alias("cosine"))


def q_bm25_topk(spark, sf_dir):
    from semstreams_spark.search import bm25_search

    return bm25_search(_tbl(spark, sf_dir, "documents"), BM25_QUERY, k=10)


def q_hybrid_search(spark, sf_dir):
    from semstreams_spark.search import hybrid_search

    return hybrid_search(_tbl(spark, sf_dir, "documents"), BM25_QUERY, k=10, lang="en")


# --------------------------------------------------------- graph analytics


def _conv_pair_counts(spark, sf_dir):
    """(src, dst, c): partial co-mention pair counts per Arrow batch —
    Σc over batches == the per-conversation pair multiset (the Catalyst
    form is ``conv_entity_pairs`` in ``tests/kernel_reference.py``;
    guide §2.3/§4.2).

    Why: the Zipf mention vocabulary makes hot conversations mention most
    of the ~200-entity vocab, so the pair EXPLOSION is ~3.7M rows at
    sf0.1 that immediately collapse to 31k distinct edges. The kernel
    pre-aggregates inside each batch with a V×V count matrix over the
    batch-local sorted vocab (np.unique order == Spark's binary string
    order), emitting ≤ V²/2 partial rows per batch instead of Σk² structs
    through an interpreted HOF + hash-agg probe. Batches whose local
    vocab exceeds 4096 fall back to plain per-conversation pair emission
    (no V² matrix) — the kernel stays memory-safe on unbounded entity
    vocabularies, where downstream aggregation does the collapsing
    exactly as the Catalyst form. Measured: edges derive 2.17 → 1.26 s
    warm at sf0.1; outputs identical (A/B + weight cross-check)."""
    m = _mention_rows(spark, sf_dir).select("conv_id", "e")
    # no sort_array here (unlike the Catalyst reference form): the
    # matrix path sorts via np.unique + searchsorted regardless of input
    # order, and the fallback path np.sorts per row — dropping the
    # per-group JVM array sort saves ~0.09 s per derive (×6 graph queries)
    per_conv = m.groupBy("conv_id").agg(F.expr("collect_set(e) as ents"))
    return per_conv.select("ents").mapInPandas(
        _pair_count_batches, "src string, dst string, c long"
    )


def _pair_count_batches(it, max_matrix_vocab: int = 4096):
    """mapInPandas kernel for `_conv_pair_counts` (module-level so the
    fallback branch is directly unit-testable): per Arrow batch of `ents`
    arrays (unordered entity sets), emit partial (src, dst, c) pair
    counts with src < dst.

    Precondition: each `ents` row is duplicate-free (`_conv_pair_counts`
    feeds `collect_set` output). It is not checked per row. A repeated
    entity makes the branches disagree: the matrix branch's buffered
    fancy-index `M[np.ix_(idx, idx)] += 1` adds once per distinct cell, so
    the repeat is dropped, while the pair branch emits every (i < j)
    position pair, so it counts the repeated entity's pairs twice and
    emits a self pair (e, e)."""
    import numpy as np
    import pandas as pd

    for pdf in it:
        arrs = pdf["ents"]
        if not len(arrs):
            continue
        vocab = np.unique(np.concatenate(list(arrs)))
        V = len(vocab)
        if V <= max_matrix_vocab:
            M = np.zeros((V, V), dtype=np.int64)
            for ents in arrs:
                if len(ents) < 2:
                    continue
                idx = np.searchsorted(vocab, ents)
                M[np.ix_(idx, idx)] += 1
            iu, ju = np.triu_indices(V, 1)
            c = M[iu, ju]
            nz = c > 0
            yield pd.DataFrame(
                {"src": vocab[iu[nz]], "dst": vocab[ju[nz]], "c": c[nz]}
            )
        else:
            srcs, dsts, cache = [], [], {}
            for ents in arrs:
                k = len(ents)
                if k < 2:
                    continue
                ents = np.sort(ents)  # (i<j) pair emission needs lex order
                ij = cache.get(k)
                if ij is None:
                    ij = cache.setdefault(k, np.triu_indices(k, 1))
                srcs.append(ents[ij[0]])
                dsts.append(ents[ij[1]])
            if srcs:
                yield pd.DataFrame(
                    {
                        "src": np.concatenate(srcs),
                        "dst": np.concatenate(dsts),
                        "c": np.ones(sum(len(s) for s in srcs), dtype=np.int64),
                    }
                )


def _entity_edges(spark, sf_dir):
    """Entity co-mention graph: distinct (e1 < e2) pairs per conversation.
    r6: batch-preaggregated pair-count kernel + distinct replaces the
    m⋈m self-join — identical rows (a sorted distinct set's (i<j) pairs
    ARE the a.e<b.e join output), oracle-gated via every graph-family
    query."""
    return _conv_pair_counts(spark, sf_dir).select("src", "dst").distinct()


def q_paths_2hop(spark, sf_dir):
    """G1 path enumeration (PathResult parity): explicit node sequences
    with decayed scores under a MaxPaths budget + truncated flag."""
    from semstreams_spark.graph import traversal_paths

    edges = _entity_edges(spark, sf_dir)
    p = traversal_paths(edges, "ent_000", max_depth=2, decay=0.85, max_paths=500)
    return p.select(F.array_join("path", "->").alias("path"), "depth", "score", "truncated")


def q_sliding_degree(spark, sf_dir):
    from semstreams_spark.operators.windows import node_degree_sliding

    return node_degree_sliding(_mention_edges(spark, sf_dir), "10 minutes", "5 minutes")


def q_pagerank_entities(spark, sf_dir):
    """G3 PageRank, fixed-point BIGINT form — bit-exact on any engine or
    cluster size."""
    from semstreams_spark.graph import pagerank_exact

    pr = pagerank_exact(_entity_edges(spark, sf_dir), max_iter=10)
    return pr.orderBy(F.desc("rank"), F.asc("entity")).limit(20)


def _parity_edges(spark, sf_dir):
    """Structured co-mention graph for the hierarchy gate: the raw Zipf
    co-mention graph has no community structure (LPA collapses it to one
    label), so split entities into two dense cohorts by numeric-suffix
    parity (co-occurrence weight >= 3 intra-cohort) bridged only by the
    strongest cross-cohort ties (weight >= 300) — level 0 finds the two
    cohorts, level 1 merges them through the bridges."""
    pairs = _conv_pair_counts(spark, sf_dir).groupBy("src", "dst").agg(
        F.sum("c").alias("w")
    )
    par = lambda c: F.element_at(F.split(F.col(c), "_"), -1).try_cast("int") % 2  # noqa: E731
    same = par("src") == par("dst")
    return pairs.filter((same & (F.col("w") >= 3)) | (~same & (F.col("w") >= 300))).select(
        "src", "dst"
    )


def q_lpa_hierarchy(spark, sf_dir):
    """G2 hierarchical LPA (reference default 3 levels, lpa.go:20-23;
    gated at 2 to keep the unrolled oracle tractable):
    (entity, level, community) over the structured parity graph."""
    from semstreams_spark.graph import lpa_hierarchy

    return lpa_hierarchy(_parity_edges(spark, sf_dir), levels=3, max_iter=8)


def q_json_filter_events(spark, sf_dir):
    """P1 JSONFilter: dotted JSON-path access + numeric coercion + implicit AND."""
    from semstreams_spark.operators.transforms import FilterRule, json_filter

    e = _tbl(spark, sf_dir, "events")
    return json_filter(
        e, [FilterRule("props.k", "gte", "80"), FilterRule("value", "gt", "50")]
    ).select("event_id", "event_type", "value")


def q_top_terms(spark, sf_dir):
    """T5 TF term ranking with stopword filter, deterministic top-20."""
    from semstreams_spark.graph.summarize import top_terms

    return top_terms(_tbl(spark, sf_dir, "documents"), "text", k=20)


def q_alert_cooldown(spark, sf_dir):
    """R6 cooldown: high-value event alerts per user, muted for 1h after
    the last FIRED alert (exact greedy semantics, rule_factory.go:24;
    oracle is an independent recursive-CTE scan)."""
    from semstreams_spark.rules.engine import Condition, Rule, apply_cooldown

    e = _tbl(spark, sf_dir, "events")
    alerts = e.filter(F.col("value") > 180).select(
        F.lit("high_value").alias("rule_id"),
        F.col("user_id").cast("string").alias("entity_id"),
        "ts",
    )
    rules = [Rule(id="high_value", conditions=(Condition("value", "gt", "180"),), cooldown_seconds=3600)]
    return apply_cooldown(alerts, rules)


GRAPHRAG_QUERY = "ent_000 ent_001"


def _mention_context_texts(spark, sf_dir):
    """(entity, text): each entity's LATEST mention-context turn text, LWW
    on (ts, seq, text) — the real node text the reference scores against
    (not a name surrogate); one max_by hash-agg, scale-safe.

    r6: derived directly from transcripts — the mention triple and the
    text triple of one turn come from the SAME transcript row, so the old
    men⋈txt join on subject (two shuffles of extraction output) is the
    identity: (entity, turn.text, ts, seq) per mention occurrence. The
    max_by partial-aggregates map-side to ~one row per entity per scan
    partition, so the remaining exchange carries O(entities × partitions)
    rows instead of the joined mention stream (guide §2.3/§2.4)."""
    men = _mention_rows(spark, sf_dir).select(F.col("e").alias("entity"), "text", "ts", "seq")
    return men.groupBy("entity").agg(
        F.max_by("text", F.struct("ts", "seq", "text")).alias("text")
    )


# Planted near-dup cosine levels: just-above-threshold, mid, high — the
# banded LSH must recover pairs near the 0.95 threshold, not only trivial
# ≈0.999 dups (the round-2 single-band gate's weakness).
PLANT_COS = (0.9501, 0.9601, 0.9801)
# 8 = lsh_band_params(0.95, target_recall=0.995, rows_per_band=6); r=6
# keeps the gate corpus well-bucketed (64 buckets/band over ~550 vectors)
NEARDUP_BANDS, NEARDUP_ROWS = 8, 6


def planted_neardup_corpus(e):
    """Numpy form of the plant construction (see
    planted_neardup_corpus_catalyst in tests/kernel_reference.py for the
    full derivation notes):
    replays the EXACT per-element operation sequence of the Catalyst
    fold tree — sequential left-fold accumulations column-by-column,
    identical div/mul/add order, float64 throughout, final cast to
    float32 — so the output is BIT-IDENTICAL to the Catalyst form
    (asserted by tests/test_dedup_similarity.py::
    test_planted_corpus_numpy_matches_catalyst) and to the DuckDB
    oracle's MATERIALIZED-CTE mirror. Why: the staged fold tree costs
    ~4-5 s of optimizer + codegen PER CALL at any data size (2,200 rows
    of actual work); one Arrow batch through mapInPandas removes that
    fixed cost from the benchmark's slowest query."""
    import math as _math

    import numpy as _np
    import pandas as _pd

    cos_by_lvl = _np.array(PLANT_COS, dtype=_np.float64)
    sin_by_lvl = _np.array(
        [_math.sqrt(1.0 - c * c) for c in PLANT_COS], dtype=_np.float64
    )

    def gen(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            vid = pdf["vec_id"].to_numpy()
            V = _np.stack(pdf["embedding"].to_numpy()).astype(_np.float64)  # (m, 64)
            m, dim = V.shape
            lvl = (vid // 10) % 3
            ct = cos_by_lvl[lvl]
            st = sin_by_lvl[lvl]
            # nv = sqrt(fold acc + x*x) — column-order accumulation
            acc = _np.zeros(m)
            for k in range(dim):
                acc = acc + V[:, k] * V[:, k]
            nv = _np.sqrt(acc)
            vh = V / nv[:, None]  # b/nv, one divide per element
            rolled = _np.roll(V, -1, axis=1)  # roll(v): u0_i = v[(i+1) % 64]
            # s = fold of rolled_k * (v_k/nv)
            acc = _np.zeros(m)
            for k in range(dim):
                acc = acc + rolled[:, k] * vh[:, k]
            s = acc
            w = rolled - s[:, None] * vh  # a - s*(b/nv)
            acc = _np.zeros(m)
            for k in range(dim):
                acc = acc + w[:, k] * w[:, k]
            nw = _np.sqrt(acc)
            # degenerate guard: Gram-Schmidt residual of e1 against v̂
            vh1 = V[:, 0] / nv
            e1 = _np.zeros((m, dim))
            e1[:, 0] = 1.0
            fb_w = e1 - vh1[:, None] * vh
            fb_nw = _np.sqrt(1.0 - vh1 * vh1)
            bad = ~(nw >= 1e-12)
            if bad.any():
                w[bad] = fb_w[bad]
                nw[bad] = fb_nw[bad]
            plant = (ct[:, None] * vh + st[:, None] * (w / nw[:, None])).astype(
                _np.float32
            )
            yield _pd.DataFrame(
                {"vec_id": vid + 1000000, "embedding": list(plant)}
            )

    planted = e.filter(F.col("vec_id") % 10 == 0).mapInPandas(
        gen, "vec_id long, embedding array<float>"
    )
    return e.unionByName(planted)


def q_embedding_neardup_lsh(spark, sf_dir):
    """The 100 TB embedding-dedup path itself: BANDED hyperplane LSH
    (b=8 bands × r=6 planes, b derived from threshold 0.95 at recall
    target 0.995 via lsh_band_params) + exact-cosine verify, gated over a
    corpus with exact-rotation plants at cos ∈ {0.9501, 0.9601, 0.9801} —
    at/near-threshold pairs, where the round-2 single-band signature had
    ≈18-34% recall. Full-recovery assertion: tests/test_dedup_similarity
    .py::test_banded_neardup_recovers_all_plants."""
    from semstreams_spark.operators.dedup import embedding_near_dups

    e = _tbl(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # pin the plants once: the corpus feeds THREE consumers inside
    # embedding_near_dups (signatures + both verify sides) — without the
    # checkpoint each consumer re-plans and re-runs it (interleaved A/B
    # at sf0.1: ~13.4 -> ~11.5 s warm, and the cold first call drops
    # much further since the numpy corpus also removes the old fold
    # tree's one-time optimizer/codegen cost)
    corpus = planted_neardup_corpus(e).localCheckpoint(eager=True)
    pairs = embedding_near_dups(
        corpus, threshold=0.95, bands=NEARDUP_BANDS, rows_per_band=NEARDUP_ROWS
    )
    return pairs.select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))


def q_graphrag_global(spark, sf_dir):
    """G12 global search over the entity co-mention graph: LPA communities
    → statistical summaries over real mention-context texts → 2.0/1.5
    weighted scoring → member rerank."""
    from semstreams_spark.graph import lpa_communities
    from semstreams_spark.graph.graphrag import global_search
    from semstreams_spark.graph.summarize import community_summaries

    edges = _entity_edges(spark, sf_dir).filter(
        F.col("src").startswith("ent_") & F.col("dst").startswith("ent_")
    )
    members = lpa_communities(edges, max_iter=6)
    texts = _mention_context_texts(spark, sf_dir)
    summaries = community_summaries(members, texts, k_terms=5)
    return global_search(members, summaries, texts, GRAPHRAG_QUERY, top_communities=3)


DELETE_TS_LATE = "2025-03-01 00:00:00"   # after every event at any sf → stays deleted
DELETE_TS_EARLY = "2024-12-01 00:00:00"  # before every event → recreated (active)


def q_entity_delete(spark, sf_dir):
    """Entity delete / tombstone surface (mutations.go:169,354): mention-
    target entities with suffix %7==0 tombstoned AFTER all data (status
    deleted, edges cleaned), %7==3 tombstoned BEFORE all data (recreated →
    active, edges survive); version bumps per tombstone. The tombstones
    are one projection of the distinct mention targets."""
    from semstreams_spark.operators.mutations import entity_status

    t = _transcripts(spark, sf_dir)
    num = "try_cast(element_at(split(entity_id, '_'), -1) as int)"
    tomb = (
        f"case when {num} % 7 = 0 then '{DELETE_TS_LATE}' "
        f"when {num} % 7 = 3 then '{DELETE_TS_EARLY}' end"
    )
    deletes = (
        t.selectExpr(f"explode({MENTION_IDS}) as entity_id")
        .distinct()
        .selectExpr("entity_id", f"cast({tomb} as timestamp_ntz) as ts")
        .filter("ts is not null")
    )
    return entity_status(t, deletes).selectExpr(
        "id",
        f"{NODE_TYPE.format('id')} as type",
        "status",
        "version",
        "updated_at",
        "deleted_at",
        "n_live_edges",
    )


SPATIAL_BBOX = (10.0, 60.0, -30.0, 40.0)


def q_spatial_bbox(spark, sf_dir):
    """QuerySpatial surface (indexmanager/manager.go:1223-1281): bbox scan
    over mention-target entities with deterministic hash-derived
    coordinates, plus the precision-7 geo_bin key (indexes.go:1015-1044).
    The coordinates are derived inside the query, so the bbox filters
    them after the scan."""
    from semstreams_spark.operators.textops import geo_bin, synthetic_coords

    min_lat, max_lat, min_lon, max_lon = SPATIAL_BBOX
    ents = _mention_rows(spark, sf_dir).select(entity_id(F.col("e")).alias("id")).distinct()
    out = synthetic_coords(ents, "id").filter(
        (F.col("lat") >= min_lat)
        & (F.col("lat") <= max_lat)
        & (F.col("lon") >= min_lon)
        & (F.col("lon") <= max_lon)
    )
    return out.select("id", "lat", "lon", geo_bin(F.col("lat"), F.col("lon"), 7).alias("geo7"))


ENTITY_QUERY = "invoke calc stream window graph"


def q_entity_semantic_topk(spark, sf_dir):
    """G7/G8/G9 entity semantic search: deterministic hashed-TF embedder
    at the reference's default 384 dims (bm25_embedder.go:61-62) over
    latest-mention-context entity texts, with content-hash embedding dedup
    (G8), cosine top-k vs the query embedding computed driver-side with
    the identical hash."""
    from semstreams_spark.operators.similarity import cosine_topk
    from semstreams_spark.search.embedder import embed_entities_deduped, embed_text_py

    emb = embed_entities_deduped(_mention_context_texts(spark, sf_dir), dim=384)
    top = cosine_topk(emb, embed_text_py(ENTITY_QUERY), k=10, id_col="entity", vec_col="embedding")
    return top.select(F.col("vec_id").alias("entity"), F.round("cosine", 6).alias("cosine"))


def q_media_wav_decode(spark, sf_dir):
    """REAL media decode path (round-2 gap #3): stdlib-wave decode of the
    synthetic audio WAV payloads via Arrow-batched mapInPandas —
    sample_rate/channels/width/frames read from the actual RIFF header,
    duration + int16 sample sum from the decoded frames; the oracle
    recomputes every field analytically from the generator contract
    (synth_wav_bytes)."""
    from semstreams_spark.operators.multimodal import decode_wav_features, synthesize_media

    return decode_wav_features(synthesize_media(spark, n=64))


def q_media_png_decode(spark, sf_dir):
    """REAL image decode path (round-3 gap #2): stdlib-zlib PNG decode
    (signature + chunk walk + inflate + full scanline unfiltering, all
    five filter types) of synthetic RGB PNGs via Arrow-batched
    mapInPandas; the oracle recomputes width/height and exact per-channel
    pixel sums analytically from the generator contract
    (synth_png_bytes: pixel byte p of image i = (i·131 + p·197) mod 256,
    scanline filters cycling 0-4 so unfiltering is actually proven)."""
    from semstreams_spark.operators.multimodal import decode_png_features, synthesize_png_media

    return decode_png_features(synthesize_png_media(spark, n=64))


def q_media_mp4_metadata(spark, sf_dir):
    """REAL video-container metadata path (round-5 worklist #5): stdlib
    struct walk of ISO BMFF ftyp/moov/mvhd/trak/mdia/stbl boxes
    (operators/mp4.py) over synthetic spec-shaped MP4 payloads via
    Arrow-batched mapInPandas — brand, movie timescale/duration, track
    count, handler types, and codec fourccs read from the actual boxes
    (both 32-bit v0 and 64-bit v1 headers exercised); the oracle
    recomputes every field analytically from the generator contract
    (synth_mp4_bytes: duration_ms = 1000 + 250·i, tracks = 1 + i%2)."""
    from semstreams_spark.operators.multimodal import extract_video_metadata, synthesize_mp4_media

    return extract_video_metadata(synthesize_mp4_media(spark, n=48))


def q_graphrag_local(spark, sf_dir):
    """G11 local search: ent_001's LPA community cohort, text-match
    scored against the query over real mention-context texts."""
    from semstreams_spark.graph import lpa_communities
    from semstreams_spark.graph.graphrag import local_search

    edges = _entity_edges(spark, sf_dir).filter(
        F.col("src").startswith("ent_") & F.col("dst").startswith("ent_")
    )
    members = lpa_communities(edges, max_iter=6)
    texts = _mention_context_texts(spark, sf_dir)
    return local_search(members, texts, "ent_001", GRAPHRAG_QUERY)


def q_json_map_events(spark, sf_dir):
    """P2 JSONMap (json_map.go:356-424): rename + uppercase + static add +
    remove over the events table."""
    from semstreams_spark.operators.transforms import json_map

    e = _tbl(spark, sf_dir, "events")
    return json_map(
        e,
        rename={"event_type": "etype"},
        transforms={"etype": "uppercase"},
        add_fields={"pipeline": "p1"},
        remove_fields=["props"],
    )


QT_START, QT_END = "2025-01-01 01:00:00", "2025-01-01 03:00:00"


def q_query_temporal(spark, sf_dir):
    """Q temporal range scan (TEMPORAL_INDEX, manager.go:1284-1353): the
    triples with ts in [QT_START, QT_END)."""
    ts = F.col("ts")
    return extract_triples(_transcripts(spark, sf_dir)).filter(
        (ts >= F.lit(QT_START).cast("timestamp_ntz")) & (ts < F.lit(QT_END).cast("timestamp_ntz"))
    )


RELS_ENTITY = entity_id_of("ent_001")


def q_rels_in_entity(spark, sf_dir):
    """Q reverse-edge lookup for one entity (INCOMING_INDEX,
    indexes.go:405-508)."""
    edges = edges_table_source_clustered(_transcripts(spark, sf_dir))
    return edges.filter(F.col("dst") == RELS_ENTITY)


def q_rule_and_events(spark, sf_dir):
    """R2/R4 multi-condition AND rule: role=tool AND tool=calc on the
    same subject; event ts = max over contributing predicates."""
    from semstreams_spark.rules.engine import Condition, Rule

    st = entity_states_source_clustered(_transcripts(spark, sf_dir))
    rule = Rule(
        id="tool_role_calc",
        logic="and",
        conditions=(
            Condition("conv.turn.role", "eq", "tool"),
            Condition("conv.turn.tool", "eq", "calc"),
        ),
    )
    return evaluate_rules(st, [rule])


SNAP_START, SNAP_END = "2025-01-01 00:00:00", "2025-01-01 02:30:00"


def q_graph_snapshot(spark, sf_dir):
    """Q GraphSnapshot (querymanager/query.go:276-346): bounded time-range
    + type filter + MaxEntities truncation with flag."""
    snap, truncated = graph_snapshot(
        nodes_table_source_clustered(_transcripts(spark, sf_dir)),
        F.lit(SNAP_START).cast("timestamp_ntz"),
        F.lit(SNAP_END).cast("timestamp_ntz"),
        ["turn"],
        1000,
    )
    return snap.withColumn("truncated", F.lit(truncated))


def q_context_flags(spark, sf_dir):
    """R8 context flags (processor/context/processor.go:409-533): rules
    evaluated over the 2-hop co-mention neighborhood of ent_005 —
    entity-level states are (mention count, name)."""
    from semstreams_spark.rules.context_flags import context_flags_df
    from semstreams_spark.rules.engine import Condition, Rule

    edges = _entity_edges(spark, sf_dir)
    men = _mention_rows(spark, sf_dir).select(F.col("e").alias("entity"), "ts")
    states = men.groupBy("entity").agg(
        F.count(F.lit(1)).alias("n"), F.max("ts").alias("ts")
    ).select(
        F.col("entity").alias("subject"),
        F.lit("entity.mentions").alias("predicate"),
        F.col("n").cast("string").alias("object"),
        "ts",
    ).unionByName(
        men.groupBy("entity").agg(F.max("ts").alias("ts")).select(
            F.col("entity").alias("subject"),
            F.lit("entity.name").alias("predicate"),
            F.col("entity").alias("object"),
            "ts",
        )
    )
    rules = [
        Rule(id="hub_nearby", conditions=(Condition("entity.mentions", "gt", "2000"),)),
        # deliberately unsatisfiable: proves the false-flag path end-to-end
        Rule(id="mega_hub", conditions=(Condition("entity.mentions", "gt", "1000000000"),)),
        Rule(id="ghost_nearby", conditions=(Condition("entity.name", "starts_with", "ghost_"),)),
    ]
    return context_flags_df(edges, states, "ent_005", rules, max_depth=2)


def q_salted_conv_stats(spark, sf_dir):
    """J7 skew handling as a gated result: two-phase salted aggregation
    (partial per (conv, salt), final per conv) over the transcript stream —
    the oracle computes the plain per-conv aggregate, proving the salted
    plan is result-identical while its first shuffle splits hot
    conversations across n_salts tasks."""
    from semstreams_spark.operators.joins import salt_conv_key

    t = salt_conv_key(_transcripts(spark, sf_dir), n_salts=8)
    partial = t.groupBy("conv_id", "conv_salt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("text")).alias("chars"),
        F.max("ts").alias("mx"),
    )
    return partial.groupBy("conv_id").agg(
        F.sum("n").alias("n_turns"),
        F.sum("chars").alias("n_chars"),
        F.max("mx").alias("last_ts"),
    )


def q_tool_interval_join(spark, sf_dir):
    """J4 interval-join shape (batch analogue of the watermarked
    stream-stream join, streaming/joins.py): each tool turn joined to
    every non-tool turn of the same conversation within the preceding
    60 s — equi-join on conv_id plus a range predicate (no cartesian)."""
    t = _transcripts(spark, sf_dir)
    tools = t.filter(F.col("role") == "tool").select(
        "conv_id", "turn_idx", "tool", "ts"
    )
    reqs = t.filter(F.col("role") != "tool").select(
        F.col("conv_id").alias("r_conv"),
        F.col("turn_idx").alias("req_turn_idx"),
        F.col("ts").alias("req_ts"),
    )
    return (
        tools.join(
            reqs,
            (tools["conv_id"] == reqs["r_conv"])
            & (reqs["req_ts"] <= tools["ts"])
            & (reqs["req_ts"] > tools["ts"] - F.expr("INTERVAL 60 SECOND")),
        )
        .select("conv_id", "turn_idx", "tool", "ts", "req_turn_idx", "req_ts")
    )


def q_metrics_rollup(spark, sf_dir):
    """GraphQL-gateway aggregation enums (SURVEY §2.11: SUM/AVG/MIN/MAX/
    COUNT/P50/P95/P99) over the events stream table. Exact percentiles
    (linear interpolation) — matches DuckDB quantile_cont."""
    e = _tbl(spark, sf_dir, "events")
    v = F.col("value")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(v.cast(_D)).cast("double").alias("sum_v"),
        (F.sum(v.cast(_D)).cast("double") / F.count(F.lit(1))).alias("avg_v"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per load-bearing operator gate.

    The driver correctness harness records the FIRST 50 queries, so the
    registry is kept at ≤50 and a shape another gate subsumes is not
    registered on its own: score-only traversal ⊂ paths_2hop, flat LPA ⊂
    lpa_hierarchy (its level 0), the J5 reverse-edge lookup ⊂
    rels_in_entity.
    """
    return {
        "triples_extract": q_triples_extract,
        "entity_states": q_entity_states,
        "graph_nodes": q_graph_nodes,
        "graph_edges": q_graph_edges,
        "edges_resolved": q_edges_resolved,
        "turn_prior": q_turn_prior,
        "tool_corr": q_tool_corr,
        "sessions": q_sessions,
        "degree_tumbling": q_degree_tumbling,
        "cooccur_5min": q_cooccur_5min,
        "rule_events": q_rule_events,
        "q1_pricing": q_q1_pricing,
        "parts_no_sales": q_parts_no_sales,
        "dedup_exact": q_dedup_exact,
        "text_lang_id": q_text_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "doc_quality": q_doc_quality,
        "jaccard_pairs": q_jaccard_pairs,
        "minhash_pairs": q_minhash_pairs,
        "simhash_pairs": q_simhash_pairs,
        "cosine_topk": q_cosine_topk,
        "ann_topk": q_ann_topk,
        "ivf_topk": q_ivf_topk,
        "bm25_topk": q_bm25_topk,
        "hybrid_search": q_hybrid_search,
        "paths_2hop": q_paths_2hop,
        "sliding_degree": q_sliding_degree,
        "pagerank_entities": q_pagerank_entities,
        "lpa_hierarchy": q_lpa_hierarchy,
        "json_filter_events": q_json_filter_events,
        "json_map_events": q_json_map_events,
        "query_temporal": q_query_temporal,
        "rels_in_entity": q_rels_in_entity,
        "graph_snapshot": q_graph_snapshot,
        "rule_and_events": q_rule_and_events,
        "context_flags": q_context_flags,
        "salted_conv_stats": q_salted_conv_stats,
        "tool_interval_join": q_tool_interval_join,
        "top_terms": q_top_terms,
        "alert_cooldown": q_alert_cooldown,
        "graphrag_global": q_graphrag_global,
        "graphrag_local": q_graphrag_local,
        "embedding_neardup_lsh": q_embedding_neardup_lsh,
        "entity_delete": q_entity_delete,
        "spatial_bbox": q_spatial_bbox,
        "entity_semantic_topk": q_entity_semantic_topk,
        "media_wav_decode": q_media_wav_decode,
        "media_png_decode": q_media_png_decode,
        "media_mp4_metadata": q_media_mp4_metadata,
        "metrics_rollup": q_metrics_rollup,
    }


def oracle_sql() -> dict[str, str]:
    ensure_transcripts(ORACLE_SF)
    sf = ORACLE_SF
    return {
        "triples_extract": oracles.sql_triples_extract(sf),
        "entity_states": oracles.sql_entity_states(sf),
        "graph_nodes": oracles.sql_graph_nodes(sf),
        "graph_edges": oracles.sql_graph_edges(sf),
        "edges_resolved": oracles.sql_edges_resolved(sf),
        "turn_prior": oracles.sql_turn_prior(sf),
        "tool_corr": oracles.sql_tool_corr(sf),
        "sessions": oracles.sql_sessions(sf),
        "degree_tumbling": oracles.sql_degree_tumbling(sf),
        "cooccur_5min": oracles.sql_cooccur(sf),
        "rule_events": oracles.sql_rule_events(sf),
        "q1_pricing": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(1.0 - l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(1.0 - l_discount AS DECIMAL(18,6)) * CAST(1.0 + l_tax AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_price,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "parts_no_sales": """
            SELECT p_partkey, p_name, p_brand FROM part
            WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        """,
        "dedup_exact": """
            SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_doc_id,
                   COUNT(*) AS n_copies
            FROM documents GROUP BY 1
        """,
        "text_lang_id": oracles.sql_text_lang_id(),
        "doc_fingerprint": oracles.sql_doc_fingerprint(),
        "doc_quality": oracles.sql_doc_quality(),
        "jaccard_pairs": oracles.sql_jaccard_pairs(0.5),
        "minhash_pairs": oracles.sql_minhash_pairs(0.5),
        "simhash_pairs": oracles.sql_simhash_pairs(14),
        "embedding_neardup_lsh": oracles.sql_embedding_neardup_lsh(
            threshold=0.95, bands=NEARDUP_BANDS, rows_per_band=NEARDUP_ROWS,
            dim=64, plant_cos=PLANT_COS,
        ),
        "cosine_topk": oracles.sql_cosine_topk(
            _query_vec(f"/root/testdata/sf{sf:g}"), k=10, exclude_id=0
        ),
        "ann_topk": oracles.sql_ann_topk(_query_vec(f"/root/testdata/sf{sf:g}"), k=10),
        "ivf_topk": oracles.sql_ivf_topk(
            f"/root/testdata/sf{sf:g}", _query_vec(f"/root/testdata/sf{sf:g}"), k=10,
            n_cells=None,
        ),
        "bm25_topk": oracles.sql_bm25_topk(BM25_QUERY, k=10),
        "hybrid_search": oracles.sql_bm25_topk(BM25_QUERY, k=10, lang="en"),
        "paths_2hop": oracles.sql_paths_2hop(sf, max_paths=500),
        "pagerank_entities": oracles.sql_pagerank_entities(sf, max_iter=10, k=20),
        "lpa_hierarchy": oracles.sql_lpa_hierarchy(sf, levels=3, max_iter=8),
        "graphrag_global": oracles.sql_graphrag_global(
            sf, GRAPHRAG_QUERY, max_iter=6, top_communities=3, k_terms=5
        ),
        "graphrag_local": oracles.sql_graphrag_local(sf, "ent_001", GRAPHRAG_QUERY, max_iter=6),
        "sliding_degree": oracles.sql_sliding_degree(sf),
        "json_filter_events": """
            SELECT event_id, event_type, value FROM events
            WHERE TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) >= 80
              AND value > 50
        """,
        "json_map_events": """
            SELECT event_id, ts, user_id, upper(event_type) AS etype,
                   value, 'p1' AS pipeline
            FROM events
        """,
        "query_temporal": oracles.sql_query_temporal(sf, QT_START, QT_END),
        "rels_in_entity": oracles.sql_rels_in(sf, RELS_ENTITY),
        "graph_snapshot": oracles.sql_graph_snapshot(sf, SNAP_START, SNAP_END, 1000),
        "rule_and_events": oracles.sql_rule_and_events(sf),
        "context_flags": oracles.sql_context_flags(sf, "ent_005", 2000),
        "salted_conv_stats": oracles.sql_salted_conv_stats(sf),
        "tool_interval_join": oracles.sql_tool_interval_join(sf),
        "top_terms": oracles.sql_top_terms(k=20),
        "entity_delete": oracles.sql_entity_delete(sf, DELETE_TS_LATE, DELETE_TS_EARLY),
        "spatial_bbox": oracles.sql_spatial_bbox(sf, *SPATIAL_BBOX),
        "entity_semantic_topk": oracles.sql_entity_semantic_topk(sf, ENTITY_QUERY, k=10, dim=384),
        # real stdlib-wave decode of the synthetic WAV payloads (44-byte
        # PCM header + 2 bytes/frame, synth_wav_bytes): every output
        # field is exact integer math over the generator contract
        "media_wav_decode": """
            SELECT i AS media_id,
                   CAST(8000 * (1 + (i % 9) // 3) AS INT) AS sample_rate,
                   1 AS n_channels,
                   2 AS sampwidth,
                   CAST(400 + (i % 5) * 80 AS INT) AS n_frames,
                   (400 + (i % 5) * 80) * 1000 // (8000 * (1 + (i % 9) // 3)) AS duration_ms,
                   CAST(list_sum(list_transform(range(0, 400 + (i % 5) * 80),
                        j -> ((i * 131 + j * 197) % 65536) - 32768)) AS BIGINT) AS sum_samples
            FROM range(0, 64) t(i) WHERE i % 3 = 1
        """,
        # real stdlib PNG decode: width/height and exact per-channel pixel
        # sums recomputed analytically from the synth_png_bytes contract
        "media_png_decode": """
            WITH g AS (
              SELECT i, CAST(8 + (i % 4) * 8 AS INT) AS w,
                        CAST(8 + (i % 3) * 8 AS INT) AS h
              FROM range(0, 64) t(i)
            ),
            px AS (SELECT i, w, h, unnest(range(0, w * h * 3)) AS p FROM g)
            SELECT i AS media_id, w AS width, h AS height,
                   CAST(SUM(CASE WHEN p % 3 = 0 THEN (i * 131 + p * 197) % 256 END) AS BIGINT) AS sum_r,
                   CAST(SUM(CASE WHEN p % 3 = 1 THEN (i * 131 + p * 197) % 256 END) AS BIGINT) AS sum_g,
                   CAST(SUM(CASE WHEN p % 3 = 2 THEN (i * 131 + p * 197) % 256 END) AS BIGINT) AS sum_b,
                   CAST(SUM((i * 131 + p * 197) % 256) AS BIGINT) AS sum_all
            FROM px GROUP BY 1, 2, 3
        """,
        "media_mp4_metadata": """
            SELECT i AS media_id,
                   'isom' AS brand,
                   CAST(1000 AS INT) AS timescale,
                   CAST(1000 + 250 * i AS BIGINT) AS duration_ms,
                   CAST(1 + (i % 2) AS INT) AS n_tracks,
                   CASE WHEN i % 2 = 0 THEN 'avc1' ELSE 'avc1,mp4a' END AS codecs,
                   CASE WHEN i % 2 = 0 THEN 'vide' ELSE 'vide,soun' END AS handlers
            FROM range(0, 48) t(i)
        """,
        "metrics_rollup": """
            SELECT event_type,
                   COUNT(*) AS cnt,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_v,
                   MIN(value) AS min_v,
                   MAX(value) AS max_v,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.95), 6) AS p95,
                   round(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY event_type
        """,
        # Greedy-from-last-fire scan, expressed as a per-key recursive
        # walk over event rank — independent of the Spark implementation
        # (no lag/window trick shared between the two sides).
        "alert_cooldown": """
            WITH RECURSIVE alerts AS (
              SELECT 'high_value' AS rule_id, CAST(user_id AS VARCHAR) AS entity_id, ts
              FROM events WHERE value > 180
            ),
            ev AS (
              SELECT rule_id, entity_id, ts,
                     row_number() OVER (PARTITION BY rule_id, entity_id ORDER BY ts) AS rn
              FROM alerts
            ),
            scan AS (
              SELECT rule_id, entity_id, rn, ts, ts AS last_fire, TRUE AS fired
              FROM ev WHERE rn = 1
              UNION ALL
              SELECT e.rule_id, e.entity_id, e.rn, e.ts,
                     CASE WHEN epoch(e.ts) - epoch(s.last_fire) >= 3600
                          THEN e.ts ELSE s.last_fire END,
                     epoch(e.ts) - epoch(s.last_fire) >= 3600
              FROM scan s JOIN ev e
                ON e.rule_id = s.rule_id AND e.entity_id = s.entity_id
               AND e.rn = s.rn + 1
            )
            SELECT rule_id, entity_id, ts FROM scan WHERE fired
        """,
        # minhash_pairs / simhash_pairs / ann_topk / pagerank_entities:
        # hash-family and iterative ops — rows-only check
    }
