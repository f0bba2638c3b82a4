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

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from semstreams_spark import oracles
from semstreams_spark.datagen import ensure_transcripts, sf_from_dir, transcripts_path, aliases_path
from semstreams_spark.extract import extract_triples
from semstreams_spark.extract.triples import (
    CONVERSATION_ID,
    ENTITY_ID,
    IN_EDGE,
    MENTION_IDS,
    MENTIONS_EDGE,
    NODE_TYPE,
    TURN_SUBJECT,
    entity_id_of,
    mention_context_texts,
    mention_edges,
    mention_rows,
)
from semstreams_spark.graph.comention import entity_edges, parity_edges
from semstreams_spark.operators.dedup import NEARDUP_BANDS, NEARDUP_ROWS, embedding_near_dups
from semstreams_spark.operators.merge import (
    edges_table_source_clustered,
    entity_states_source_clustered,
    graph_snapshot,
    nodes_table_source_clustered,
)
from semstreams_spark.operators.joins import (
    resolve_aliases,
    tool_invocation_correlation,
    tool_request_interval_join,
    turn_with_prior,
)
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
    """Flagship: the entity graph's edge table at sf0.001, from transcripts
    (the triples' relationship edges, keyed (src, dst, edge_type))."""
    t = _transcripts(spark, "/root/testdata/sf0.001")
    return edges_table_source_clustered(t)


# ---------------------------------------------------------------- graph core


def q_triples_extract(spark, sf_dir):
    return extract_triples(_transcripts(spark, sf_dir))


def q_entity_states(spark, sf_dir):
    """The LWW entity-state table, one row per (subject, predicate)."""
    return entity_states_source_clustered(_transcripts(spark, sf_dir))


def q_graph_nodes(spark, sf_dir):
    """The node table, one row per turn subject."""
    return nodes_table_source_clustered(_transcripts(spark, sf_dir))


def q_graph_edges(spark, sf_dir):
    """The edge table, keyed (src, dst, edge_type)."""
    return edges_table_source_clustered(_transcripts(spark, sf_dir))


def q_edges_resolved(spark, sf_dir):
    """Turn edges (in- and mention edges) with dst resolved through the
    broadcast alias dim (J1), grouped on the resolved key. One row per
    observation, not ``edges_table_source_clustered``: its per-row mention
    count made this query about 25% slower (warm, sf0.1)."""
    t = _transcripts(spark, sf_dir)
    al = _aliases(spark, sf_dir).selectExpr(
        f"{ENTITY_ID.format('alias')} as alias", f"{ENTITY_ID.format('entity_name')} as canonical"
    )
    r2 = lambda dst, et: f"struct({dst} as dst, '{et}' as edge_type)"  # noqa: E731
    refs = (
        f"concat(array({r2(CONVERSATION_ID, IN_EDGE)}), coalesce(transform({MENTION_IDS}, "
        f"m -> {r2('m', MENTIONS_EDGE)}), cast(array() as array<struct<dst:string,edge_type:string>>)))"
    )
    rel = t.selectExpr(f"{TURN_SUBJECT} as src", f"explode({refs}) as r", "ts").selectExpr(
        "src", "r.dst as dst", "r.edge_type as edge_type", "ts"
    )
    res = resolve_aliases(rel, al).select(
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
    """``sessionize`` plus the oracle's ``session_id``, the session's
    ordinal in its conversation from 0. The ordinal ranks all of a
    conversation's sessions, so it is batch-only and stays here."""
    w = Window.partitionBy("conv_id").orderBy("session_start")
    return sessionize(_transcripts(spark, sf_dir)).select(
        "conv_id",
        (F.row_number().over(w) - 1).cast("bigint").alias("session_id"),
        "session_start",
        "session_end",
        "n_turns",
    )


def q_degree_tumbling(spark, sf_dir):
    return node_degree_tumbling(mention_edges(_transcripts(spark, sf_dir)))


def q_cooccur_5min(spark, sf_dir):
    m = mention_rows(_transcripts(spark, sf_dir)).select("conv_id", F.col("e").alias("entity"), "ts")
    return entity_cooccurrence(m)


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

    return lang_id_table(_tbl(spark, sf_dir, "documents"))


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

    return jaccard_pairs(_tbl(spark, sf_dir, "documents"))


def q_minhash_pairs(spark, sf_dir):
    from semstreams_spark.operators.dedup import minhash_dedup

    return minhash_dedup(_tbl(spark, sf_dir, "documents"))


def q_simhash_pairs(spark, sf_dir):
    from semstreams_spark.operators.dedup import simhash_near_dups

    return simhash_near_dups(_tbl(spark, sf_dir, "documents"))


def q_cosine_topk(spark, sf_dir):
    from semstreams_spark.operators.similarity import cosine_topk

    top = cosine_topk(_tbl(spark, sf_dir, "embeddings"), _query_vec(sf_dir), exclude_self=0)
    return top.select("vec_id", F.round("cosine", 6).alias("cosine"))


def q_ann_topk(spark, sf_dir):
    from semstreams_spark.operators.similarity import ann_topk_lsh

    top = ann_topk_lsh(_tbl(spark, sf_dir, "embeddings"), _query_vec(sf_dir))
    return top.select("vec_id", F.round("cosine", 6).alias("cosine"))


def q_ivf_topk(spark, sf_dir):
    """IVF ANN (inverted-file cells, deterministic sample-trained k-means
    centroids, n_cells ≈ √N, probe-and-rerank) — the data-adaptive
    companion to ann_topk (LSH). Recall vs brute force asserted in
    tests/test_dedup_similarity.py::test_ivf_recall_vs_bruteforce."""
    from semstreams_spark.operators.similarity import ann_topk_ivf

    top = ann_topk_ivf(_tbl(spark, sf_dir, "embeddings"), _query_vec(sf_dir))
    return top.select("vec_id", F.round("cosine", 6).alias("cosine"))


def q_bm25_topk(spark, sf_dir):
    from semstreams_spark.search import bm25_search

    return bm25_search(_tbl(spark, sf_dir, "documents"), BM25_QUERY)


def q_hybrid_search(spark, sf_dir):
    from semstreams_spark.search import hybrid_search

    return hybrid_search(_tbl(spark, sf_dir, "documents"), BM25_QUERY)


# --------------------------------------------------------- graph analytics


def q_paths_2hop(spark, sf_dir):
    """G1 path enumeration (PathResult parity): explicit node sequences
    with decayed scores under a MaxPaths budget + truncated flag."""
    from semstreams_spark.graph import traversal_paths

    p = traversal_paths(entity_edges(_transcripts(spark, sf_dir)), "ent_000")
    return p.select(F.array_join("path", "->").alias("path"), "depth", "score", "truncated")


def q_sliding_degree(spark, sf_dir):
    from semstreams_spark.operators.windows import node_degree_sliding

    return node_degree_sliding(mention_edges(_transcripts(spark, sf_dir)))


def q_pagerank_entities(spark, sf_dir):
    """G3 PageRank, fixed-point BIGINT form — bit-exact on any engine or
    cluster size."""
    from semstreams_spark.graph import pagerank_exact

    pr = pagerank_exact(entity_edges(_transcripts(spark, sf_dir)))
    return pr.orderBy(F.desc("rank"), F.asc("entity")).limit(20)


def q_lpa_hierarchy(spark, sf_dir):
    """G2 hierarchical LPA (reference default 3 levels, lpa.go:20-23;
    gated at 2 to keep the unrolled oracle tractable):
    (entity, level, community) over the structured parity graph."""
    from semstreams_spark.graph import lpa_hierarchy

    return lpa_hierarchy(parity_edges(_transcripts(spark, sf_dir)))


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

    return top_terms(_tbl(spark, sf_dir, "documents"), k=20)


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


# Planted near-dup cosine levels: just-above-threshold, mid, high — the
# banded LSH must recover pairs near the 0.95 threshold, not only trivial
# ≈0.999 dups.
PLANT_COS = (0.9501, 0.9601, 0.9801)


def planted_neardup_corpus(e):
    """Numpy form of the plant construction (see
    planted_neardup_corpus_catalyst in tests/kernel_reference.py for the
    full derivation notes):
    replays the EXACT per-element operation sequence of the Catalyst
    fold tree — the package's column-order fold (``_fold_dot_np``),
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

    from semstreams_spark.operators.similarity import _fold_dot_np

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
            nv = _np.sqrt(_fold_dot_np(V, V))
            vh = V / nv[:, None]  # b/nv, one divide per element
            rolled = _np.roll(V, -1, axis=1)  # roll(v): u0_i = v[(i+1) % 64]
            s = _fold_dot_np(rolled, vh)
            w = rolled - s[:, None] * vh  # a - s*(b/nv)
            nw = _np.sqrt(_fold_dot_np(w, w))
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
    at/near-threshold pairs. Full-recovery assertion: tests/
    test_dedup_similarity.py::test_banded_neardup_recovers_all_plants."""
    e = _tbl(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # pin the plants once: the corpus feeds THREE consumers inside
    # embedding_near_dups (signatures + both verify sides) — without the
    # checkpoint each consumer re-plans and re-runs it (interleaved A/B
    # at sf0.1: ~13.4 -> ~11.5 s warm, and the cold first call drops
    # much further since the numpy corpus also removes the old fold
    # tree's one-time optimizer/codegen cost)
    corpus = planted_neardup_corpus(e).localCheckpoint(eager=True)
    pairs = embedding_near_dups(corpus)
    return pairs.select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))


def q_graphrag_global(spark, sf_dir):
    """G12 global search over the entity co-mention graph: LPA communities
    → statistical summaries over real mention-context texts → 2.0/1.5
    weighted scoring → member rerank."""
    from semstreams_spark.graph import lpa_communities
    from semstreams_spark.graph.graphrag import global_search
    from semstreams_spark.graph.summarize import community_summaries

    t = _transcripts(spark, sf_dir)
    edges = entity_edges(t).filter(F.col("src").startswith("ent_") & F.col("dst").startswith("ent_"))
    members = lpa_communities(edges)
    texts = mention_context_texts(t)
    summaries = community_summaries(members, texts)
    return global_search(members, summaries, texts, GRAPHRAG_QUERY)


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
    ents = mention_rows(_transcripts(spark, sf_dir)).selectExpr(f"{ENTITY_ID.format('e')} as id").distinct()
    out = synthetic_coords(ents).filter(
        (F.col("lat") >= min_lat)
        & (F.col("lat") <= max_lat)
        & (F.col("lon") >= min_lon)
        & (F.col("lon") <= max_lon)
    )
    return out.select("id", "lat", "lon", geo_bin(F.col("lat"), F.col("lon")).alias("geo7"))


ENTITY_QUERY = "invoke calc stream window graph"


def q_entity_semantic_topk(spark, sf_dir):
    """G7/G8/G9 entity semantic search: deterministic hashed-TF embedder
    at the reference's default 384 dims (bm25_embedder.go:61-62) over
    latest-mention-context entity texts, with content-hash embedding dedup
    (G8), cosine top-k vs the query embedding computed driver-side with
    the identical hash."""
    from semstreams_spark.operators.similarity import cosine_topk
    from semstreams_spark.search.embedder import embed_entities_deduped, embed_text_py

    emb = embed_entities_deduped(mention_context_texts(_transcripts(spark, sf_dir)))
    top = cosine_topk(emb, embed_text_py(ENTITY_QUERY), id_col="entity")
    return top.select(F.col("vec_id").alias("entity"), F.round("cosine", 6).alias("cosine"))


def q_media_wav_decode(spark, sf_dir):
    """Media decode path: stdlib-wave decode of the synthetic audio WAV
    payloads via Arrow-batched mapInPandas — sample_rate/channels/width/
    frames read from the actual RIFF header, duration + int16 sample sum
    from the decoded frames; the oracle recomputes every field
    analytically from the generator contract (synth_wav_bytes)."""
    from semstreams_spark.operators.multimodal import decode_wav_features, synthesize_media

    return decode_wav_features(synthesize_media(spark))


def q_media_png_decode(spark, sf_dir):
    """Image decode path: stdlib-zlib PNG decode (signature + chunk walk +
    inflate + full scanline unfiltering, all five filter types) of
    synthetic RGB PNGs via Arrow-batched mapInPandas; the oracle
    recomputes width/height and exact per-channel pixel sums
    analytically from the generator contract
    (synth_png_bytes: pixel byte p of image i = (i·131 + p·197) mod 256,
    scanline filters cycling 0-4 so unfiltering is actually proven)."""
    from semstreams_spark.operators.multimodal import decode_png_features, synthesize_png_media

    return decode_png_features(synthesize_png_media(spark))


def q_media_mp4_metadata(spark, sf_dir):
    """Video-container metadata path: stdlib struct walk of ISO BMFF
    ftyp/moov/mvhd/trak/mdia/stbl boxes (operators/mp4.py) over synthetic
    spec-shaped MP4 payloads via Arrow-batched mapInPandas — brand, movie
    timescale/duration, track count, handler types, and codec fourccs
    read from the actual boxes (both 32-bit v0 and 64-bit v1 headers
    exercised); the oracle recomputes every field analytically from the
    generator contract (synth_mp4_bytes: duration_ms = 1000 + 250·i,
    tracks = 1 + i%2)."""
    from semstreams_spark.operators.multimodal import extract_video_metadata, synthesize_mp4_media

    return extract_video_metadata(synthesize_mp4_media(spark))


def q_graphrag_local(spark, sf_dir):
    """G11 local search: ent_001's LPA community cohort, text-match
    scored against the query over real mention-context texts."""
    from semstreams_spark.graph import lpa_communities
    from semstreams_spark.graph.graphrag import local_search

    t = _transcripts(spark, sf_dir)
    edges = entity_edges(t).filter(F.col("src").startswith("ent_") & F.col("dst").startswith("ent_"))
    members = lpa_communities(edges)
    texts = mention_context_texts(t)
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

    t = _transcripts(spark, sf_dir)
    edges = entity_edges(t)
    men = mention_rows(t).select(F.col("e").alias("entity"), "ts")
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
    return context_flags_df(edges, states, "ent_005", rules)


def q_salted_conv_stats(spark, sf_dir):
    """J7 skew handling as a gated result: two-phase salted aggregation
    (partial per (conv, salt), final per conv) over the transcript stream —
    the oracle computes the plain per-conv aggregate, proving the salted
    plan is result-identical while its first shuffle splits hot
    conversations across joins.N_SALTS tasks."""
    from semstreams_spark.operators.joins import salt_conv_key

    t = salt_conv_key(_transcripts(spark, sf_dir))
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
    return tool_request_interval_join(_transcripts(spark, sf_dir))


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
        "q1_pricing": oracles.sql_q1_pricing(),
        "parts_no_sales": oracles.sql_parts_no_sales(),
        "dedup_exact": oracles.sql_dedup_exact(),
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
        "json_filter_events": oracles.sql_json_filter_events(),
        "json_map_events": oracles.sql_json_map_events(),
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
        "media_wav_decode": oracles.sql_media_wav_decode(),
        "media_png_decode": oracles.sql_media_png_decode(),
        "media_mp4_metadata": oracles.sql_media_mp4_metadata(),
        "metrics_rollup": oracles.sql_metrics_rollup(),
        "alert_cooldown": oracles.sql_alert_cooldown(),
        # minhash_pairs / simhash_pairs / ann_topk / pagerank_entities:
        # hash-family and iterative ops — rows-only check
    }
