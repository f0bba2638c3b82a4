"""Dedup / similarity / text / search operators on small controlled data."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from semstreams_spark.graph import bounded_traversal, lpa_communities
from semstreams_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_dedup,
    simhash_near_dups,
)
from semstreams_spark.operators.similarity import ann_topk_lsh, cosine_topk
from kernel_reference import lang_id
from semstreams_spark.operators.textops import fingerprint, tokens
from semstreams_spark.search import bm25_search, hybrid_search

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
    (2, "completely different content about spark engines and pipelines"),
    (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (4, "spark engines process streaming data in micro batches"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(docs):
    out = {r["content_hash"]: r for r in exact_dedup(docs).collect()}
    groups = [r for r in out.values() if r["n_copies"] > 1]
    assert len(groups) == 1 and groups[0]["keeper_doc_id"] == 0 and groups[0]["n_copies"] == 2


def test_jaccard_pairs(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 3)] == 1.0
    assert (0, 1) in pairs and 0.5 <= pairs[(0, 1)] < 1.0
    assert (0, 2) not in pairs


def test_minhash_agrees_with_exact_jaccard(docs):
    mh = {(r["doc_a"], r["doc_b"]) for r in minhash_dedup(docs, threshold=0.5).collect()}
    exact = {(r["doc_a"], r["doc_b"]) for r in jaccard_pairs(docs, threshold=0.5).collect()}
    # LSH candidates are a superset-filter then exact-verified: equal sets
    assert mh == exact


def test_simhash_near_dups(docs):
    # short docs: one-token diff costs ~11 of 60 bits, so widen the budget
    out = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in simhash_near_dups(docs, max_hamming=14).collect()}
    assert out[(0, 3)] == 0  # identical text -> identical simhash
    assert (0, 1) in out and out[(0, 1)] <= 14  # near-dup within budget
    assert (0, 2) not in out and (0, 4) not in out


def test_cosine_topk_exact_and_ann(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=64)
    rows = []
    for i in range(50):
        v = rng.normal(size=64)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    # vec 99 = near-copy of query
    q = (base / np.linalg.norm(base)).tolist()
    near = base + rng.normal(size=64) * 0.01
    rows.append((99, (near / np.linalg.norm(near)).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    top = cosine_topk(emb, q, k=3).collect()
    assert top[0]["vec_id"] == 99 and top[0]["cosine"] > 0.99

    ann = ann_topk_lsh(emb, q, k=3, n_planes=8).collect()
    assert ann[0]["vec_id"] == 99  # the near-copy shares the query bucket


def test_text_ops(docs):
    out = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n"),
        fingerprint(F.col("text")).alias("fp"),
        lang_id(F.col("text")).alias("lang"),
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[0]["n"] == 9
    assert by_id[0]["fp"] == by_id[3]["fp"]
    assert by_id[0]["lang"] == "en"


def test_bm25_ranks_matching_doc_first(docs):
    top = bm25_search(docs, "spark streaming engines", k=3).collect()
    assert top[0]["doc_id"] in (2, 4)
    assert top[0]["score"] > 0
    hybrid = hybrid_search(docs, "spark engines", k=3)
    assert hybrid.count() >= 1


EDGES = [
    ("a", "b", "t"), ("b", "c", "t"), ("c", "a", "t"),  # triangle
    ("d", "e", "t"), ("e", "f", "t"),                    # chain
    ("a", "d", "weak"),                                   # bridge
]


@pytest.fixture(scope="module")
def edges(spark):
    return spark.createDataFrame(EDGES, "src string, dst string, edge_type string")


def test_bounded_traversal_depth_and_decay(edges):
    out = {r["entity"]: r for r in bounded_traversal(edges, "a", max_depth=2, decay=0.5).collect()}
    assert out["a"]["depth"] == 0 and out["a"]["score"] == 1.0
    assert out["b"]["depth"] == 1 and out["b"]["score"] == 0.5
    assert out["e"]["depth"] == 2 and out["e"]["score"] == 0.25
    assert "f" not in out  # depth 3


def test_traversal_paths_sequences_and_cycles(edges):
    from semstreams_spark.graph import traversal_paths

    out = traversal_paths(edges, "a", max_depth=2, decay=0.5).collect()
    paths = {tuple(r["path"]): r for r in out}
    assert paths[("a",)]["depth"] == 0 and paths[("a",)]["score"] == 1.0
    assert paths[("a", "b")]["score"] == 0.5
    assert paths[("a", "b", "c")]["depth"] == 2 and paths[("a", "b", "c")]["score"] == 0.25
    # cycle avoidance: no path revisits a node
    assert all(len(set(p)) == len(p) for p in paths)
    assert ("a", "b", "a") not in paths
    assert all(not r["truncated"] for r in out)


def test_traversal_paths_max_paths_truncation(edges):
    from semstreams_spark.graph import traversal_paths

    out = traversal_paths(edges, "a", max_depth=2, decay=0.5, max_paths=3).collect()
    assert len(out) == 3
    assert all(r["truncated"] for r in out)
    # deterministic selection: score desc then path asc — the depth-0 and
    # the two lexicographically smallest depth-1 paths survive
    kept = sorted(tuple(r["path"]) for r in out)
    assert kept[0] == ("a",)
    assert all(r["depth"] <= 1 for r in out)


def test_lpa_two_communities(spark):
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("x", "y"), ("y", "z"), ("x", "z")],
        "src string, dst string",
    )
    out = {r["entity"]: r["community"] for r in lpa_communities(e).collect()}
    assert out["a"] == out["b"] == out["c"]
    assert out["x"] == out["y"] == out["z"]
    assert out["a"] != out["x"]


def test_lpa_hierarchy_merges_levels(spark):
    """Two triangles joined by one bridge edge: level 0 keeps them as two
    communities; level 1 clusters the 2-node community graph into one."""
    from semstreams_spark.graph import lpa_hierarchy

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x")],
        "src string, dst string",
    )
    rows = lpa_hierarchy(e, levels=2, max_iter=8).collect()
    l0 = {r["entity"]: r["community"] for r in rows if r["level"] == 0}
    l1 = {r["entity"]: r["community"] for r in rows if r["level"] == 1}
    assert set(l0) == set(l1) == {"a", "b", "c", "x", "y", "z"}
    # level 1 must be a coarsening of level 0: same-l0-community nodes stay together
    assert l1["a"] == l1["b"] == l1["c"]
    assert l1["x"] == l1["y"] == l1["z"]
    # and the bridge merges the two communities at level 1
    assert len(set(l1.values())) <= len(set(l0.values()))


def test_lpa_hierarchy_isolated_community_keeps_id(spark):
    from semstreams_spark.graph import lpa_hierarchy

    e = spark.createDataFrame(
        [("a", "b"), ("x", "y"), ("x", "z"), ("y", "z"), ("z", "x")],
        "src string, dst string",
    )
    rows = lpa_hierarchy(e, levels=3, max_iter=8).collect()
    by_level = {}
    for r in rows:
        by_level.setdefault(r["level"], {})[r["entity"]] = r["community"]
    # no cross-community edges -> level loop breaks after level 0
    assert list(by_level) == [0]


def test_graphrag_local_search_at_levels(spark):
    """Level threading: at level 0 the cohort is x's triangle only; at
    level 1 the bridge pulls both communities into one cohort."""
    from semstreams_spark.graph import lpa_hierarchy
    from semstreams_spark.graph.graphrag import local_search

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x")],
        "src string, dst string",
    )
    hier = lpa_hierarchy(e, levels=2, max_iter=8).cache()
    texts = hier.select("entity").distinct().select(
        "entity", F.concat(F.lit("doc about "), "entity").alias("text")
    )
    m0 = hier.filter(F.col("level") == 0).select("entity", "community")
    m1 = hier.filter(F.col("level") == 1).select("entity", "community")
    hits0 = {r["entity"] for r in local_search(m0, texts, "x", "doc").collect()}
    hits1 = {r["entity"] for r in local_search(m1, texts, "x", "doc").collect()}
    assert hits0 == {"x", "y", "z"}
    assert hits1 == {"a", "b", "c", "x", "y", "z"}


def test_jaccard_hot_shingle_guard(spark):
    """max_shingle_df drops boilerplate shingles from the candidate join;
    near-dup pairs sharing rare shingles are still found."""
    rows = [
        (1, "common boiler plate alpha beta gamma delta"),
        (2, "common boiler plate alpha beta gamma epsilon"),
        (3, "common boiler plate zeta eta theta iota"),
        (4, "common boiler plate kappa lam mu nu"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in jaccard_pairs(docs, threshold=0.3).collect()}
    capped = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
              jaccard_pairs(docs, threshold=0.3, max_shingle_df=2).collect()}
    assert (1, 2) in exact and (1, 2) in capped
    # capped jaccard is a lower bound of the exact value
    assert capped[(1, 2)] <= exact[(1, 2)]


def test_ivf_topk_finds_near_copy(spark):
    import numpy as np

    from semstreams_spark.operators.similarity import ann_topk_ivf

    rng = np.random.default_rng(11)
    base = rng.normal(size=64)
    rows = []
    for i in range(60):
        v = rng.normal(size=64)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    q = (base / np.linalg.norm(base)).tolist()
    near = base + rng.normal(size=64) * 0.01
    rows.append((99, (near / np.linalg.norm(near)).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    top = ann_topk_ivf(emb, q, k=3, n_cells=8, n_probe=8).collect()
    # probing ALL cells == exact: the near-copy must lead
    assert top[0]["vec_id"] == 99 and top[0]["cosine"] > 0.99
    sub = ann_topk_ivf(emb, q, k=3, n_cells=8, n_probe=2).collect()
    # probing 2/8 cells scans a subset; results are a subset of the corpus
    assert len(sub) == 3


def test_embedder_content_hash_dedup(spark):
    """G8: duplicated texts embed once (content-addressed) and share an
    identical vector; distinct texts differ."""
    from semstreams_spark.search.embedder import embed_entities_deduped, embed_texts

    texts = spark.createDataFrame(
        [("e1", "alpha beta gamma"), ("e2", "alpha beta gamma"), ("e3", "delta epsilon")],
        "entity string, text string",
    )
    out = {r["entity"]: tuple(r["embedding"]) for r in embed_entities_deduped(texts).collect()}
    assert out["e1"] == out["e2"] != out["e3"]
    # the dedup path equals the direct per-entity embedding
    direct = {r["entity"]: tuple(r["embedding"]) for r in
              embed_texts(texts, id_col="entity").collect()}
    assert out == direct
    # unit norm
    import math
    assert abs(sum(x * x for x in out["e1"]) - 1.0) < 1e-12


def test_embed_text_py_mirrors_spark(spark):
    from semstreams_spark.search.embedder import embed_text_py, embed_texts

    t = "graph stream window alpha"
    df = spark.createDataFrame([("q", t)], "id string, text string")
    spark_vec = embed_texts(df, id_col="id").collect()[0]["embedding"]
    assert list(spark_vec) == embed_text_py(t)


# ------------------------------------------------ banded embedding LSH (r3)


def test_lsh_band_params_analytic_recall():
    """(b, r) derivation: minimal b meeting the recall target, and the
    analytic OR-of-ANDs recall model it solves against."""
    from closed_form_reference import banded_recall
    from semstreams_spark.operators.similarity import lsh_band_params

    # the gate's parameters: threshold 0.95, r=6 -> b=8 at target 0.995
    assert lsh_band_params(0.95, target_recall=0.995, rows_per_band=6) == 8
    assert banded_recall(0.95, bands=8, rows_per_band=6) >= 0.995
    # one fewer band must fall short (minimality)
    assert banded_recall(0.95, bands=7, rows_per_band=6) < 0.995
    # recall is monotone in the pair's cosine: pairs ABOVE threshold do
    # at least as well as pairs at it
    for c in (0.96, 0.98, 0.999):
        assert banded_recall(c, 8, 6) >= banded_recall(0.95, 8, 6)


def test_banded_neardup_recovers_all_plants(spark):
    """Every exact-rotation plant at cos ∈ {0.9501, 0.9601, 0.9801} —
    at/near the 0.95 threshold — survives the banded LSH bucketing AND the
    exact-cosine verify, at sf0.001 (round-2's single-band form recovered
    ~70% and only at cos≈0.999)."""
    import __spark_entry__ as entry
    from semstreams_spark.operators.dedup import embedding_near_dups

    sf_dir = "/root/testdata/sf0.001"
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    corpus = entry.planted_neardup_corpus(e)
    pairs = embedding_near_dups(
        corpus, threshold=0.95, bands=entry.NEARDUP_BANDS, rows_per_band=entry.NEARDUP_ROWS
    )
    got = {(r["vec_a"], r["vec_b"]): r["cosine"] for r in pairs.collect()}
    plant_ids = [r["vec_id"] for r in e.filter(F.col("vec_id") % 10 == 0).collect()]
    assert len(plant_ids) > 0
    missing = [v for v in plant_ids if (v, v + 1000000) not in got]
    assert missing == [], f"plants not recovered: {missing}"
    # each recovered pair's cosine ~= its construction target
    for v in plant_ids:
        lvl = (v // 10) % 3
        target = (0.9501, 0.9601, 0.9801)[lvl]
        assert abs(got[(v, v + 1000000)] - target) < 1e-5


def test_planted_corpus_numpy_matches_catalyst(spark):
    """The numpy mapInPandas plant builder must be BIT-IDENTICAL to the
    staged Catalyst fold tree it replaced (same sequential per-element
    operation order, float64 throughout, final float32 cast) — the
    DuckDB oracle mirrors the Catalyst form, so any fp divergence here
    would silently skew the gate's bucket membership."""
    import struct

    import __spark_entry__ as entry
    from kernel_reference import planted_neardup_corpus_catalyst

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    a = {r["vec_id"]: r["embedding"] for r in entry.planted_neardup_corpus(e).collect()}
    b = {
        r["vec_id"]: r["embedding"]
        for r in planted_neardup_corpus_catalyst(e).collect()
    }
    assert set(a) == set(b) and len(a) > len(e.collect())
    for vid in a:
        bits_a = [struct.pack("<f", x) for x in a[vid]]
        bits_b = [struct.pack("<f", x) for x in b[vid]]
        assert bits_a == bits_b, f"fp divergence at vec_id={vid}"


def test_banded_neardup_no_false_positives_below_threshold(spark):
    """The verify step: base-corpus pairs (max natural cosine ≈0.49) never
    appear, whatever the buckets say."""
    from semstreams_spark.operators.dedup import embedding_near_dups

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    out = embedding_near_dups(e, threshold=0.95, bands=4, rows_per_band=4)
    assert out.count() == 0


def test_hot_bucket_cap_drops_oversized_buckets(spark):
    """max_bucket_size guard: a corpus of identical vectors saturates one
    bucket per band; with the cap those buckets are excluded, so no
    candidate pairs emerge from them."""
    from semstreams_spark.operators.dedup import embedding_near_dups

    rows = [(i, [1.0] + [0.1] * 63) for i in range(20)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = embedding_near_dups(
        e, threshold=0.95, bands=2, rows_per_band=4, max_bucket_size=10
    )
    assert capped.count() == 0  # every bucket holds all 20 > cap
    uncapped = embedding_near_dups(e, threshold=0.95, bands=2, rows_per_band=4)
    assert uncapped.count() == 20 * 19 // 2


def _clustered_corpus(spark, n_clusters=12, per_cluster=40, noise=0.25):
    """Deterministic clustered vectors: near-orthogonal unit centers (the
    md5-Gaussian hyperplane family) + scaled pseudo-random offsets."""
    import math

    from semstreams_spark.operators.similarity import _hyperplane

    rows = []
    for c in range(n_clusters):
        center = _hyperplane(64, c)
        for j in range(per_cluster):
            u = _hyperplane(64, 1000 + c * per_cluster + j)
            v = [a + noise * b for a, b in zip(center, u)]
            n = math.sqrt(sum(x * x for x in v))
            rows.append((c * per_cluster + j, [x / n for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), rows


def test_ivf_recall_vs_bruteforce(spark):
    """Trained-centroid IVF on CLUSTERED data (IVF's design case) recalls
    >= 0.9 of the brute-force cosine top-10. (On this repo's uniform
    random embeddings the true top-10 at cos~0.45 scatter across cells by
    construction, so recall there measures the data, not the index.)"""
    from semstreams_spark.operators.similarity import ann_topk_ivf, cosine_topk

    e, rows = _clustered_corpus(spark)
    q = list(rows[5][1])  # a member of cluster 0
    bf = {r["vec_id"] for r in cosine_topk(e, q, k=10).collect()}
    ivf = {r["vec_id"] for r in ann_topk_ivf(e, q, k=10, n_cells=None, n_probe=4).collect()}
    recall = len(bf & ivf) / 10.0
    assert recall >= 0.9, f"IVF recall@10 = {recall}"


def test_ivf_kmeans_deterministic():
    """train_ivf_centroids is a pure function of the sample: same input,
    bit-identical centroids; empty cells keep their previous centroid."""
    from semstreams_spark.operators.similarity import train_ivf_centroids

    sample = [[float((i * 7 + j * 3) % 11 - 5) for j in range(8)] for i in range(40)]
    c1 = train_ivf_centroids(sample, 4, n_iters=5)
    c2 = train_ivf_centroids(sample, 4, n_iters=5)
    assert c1 == c2
    assert len(c1) == 4 and all(len(c) == 8 for c in c1)
    # centroids are unit vectors after training
    import math

    for c in c1:
        assert abs(math.sqrt(sum(x * x for x in c)) - 1.0) < 1e-9


# ---------------------------------------------------------------------------
# r6 Arrow-kernel parity: every numpy kernel replays the Catalyst fold
# order per element, so outputs must be BIT-identical to the expression
# forms on real embedding data.

EMB_PATH = "/root/testdata/sf0.001/embeddings.parquet"


@pytest.fixture(scope="module")
def emb001(spark):
    return spark.read.parquet(EMB_PATH).select("vec_id", "embedding")


def test_cosine_numpy_matches_catalyst(spark, emb001):
    from semstreams_spark.operators.similarity import cosine_scores_numpy, cosine_sim_expr

    q = [float(i % 7) - 3.0 for i in range(64)]
    qlit = F.array(*[F.lit(x) for x in q])
    expr = {
        r["vec_id"]: r["cosine"]
        for r in emb001.select(
            "vec_id", cosine_sim_expr(F.col("embedding"), qlit).alias("cosine")
        ).collect()
    }
    kern = {r["vec_id"]: r["cosine"] for r in cosine_scores_numpy(emb001, q).collect()}
    assert expr == kern  # bit-exact, not approx


def test_banded_signatures_numpy_parity(spark, emb001):
    from kernel_reference import banded_hyperplane_signatures

    from semstreams_spark.operators.similarity import banded_signatures_numpy

    expr = {
        (r["vec_id"], r["band"]): r["sig"]
        for r in emb001.select(
            "vec_id",
            F.explode(
                banded_hyperplane_signatures(F.col("embedding"), 8, 6, 64)
            ).alias("bs"),
        )
        .select("vec_id", "bs.band", "bs.sig")
        .collect()
    }
    kern = {
        (r["vec_id"], r["band"]): r["sig"]
        for r in banded_signatures_numpy(emb001, 8, 6, 64).collect()
    }
    assert expr == kern


def test_assign_ivf_cells_numpy_parity(spark, emb001):
    from semstreams_spark.operators.similarity import (
        assign_ivf_cells,
        cosine_sim_expr,
        ivf_sample,
        train_ivf_centroids,
    )

    cents = list(enumerate(train_ivf_centroids(ivf_sample(emb001, 256), 16, 5)))
    # the pre-r6 expression form, inlined as the parity anchor
    centlit = F.array(
        *[
            F.struct(
                F.lit(int(ci)).alias("cell"),
                F.array(*[F.lit(float(x)) for x in cv]).alias("vec"),
            )
            for ci, cv in cents
        ]
    )
    sims = F.transform(
        centlit,
        lambda s: F.struct(
            cosine_sim_expr(F.col("embedding"), s["vec"]).alias("s"),
            (-s["cell"]).alias("ni"),
        ),
    )
    best = F.array_max(sims)
    expr = {
        r["vec_id"]: r["cell"]
        for r in emb001.select("vec_id", (-best["ni"]).alias("cell")).collect()
    }
    kern = {r["vec_id"]: r["cell"] for r in assign_ivf_cells(emb001, cents).collect()}
    assert expr == kern


def test_pair_cosines_numpy_parity(spark, emb001):
    from semstreams_spark.operators.dedup import _pair_cosines_numpy
    from semstreams_spark.operators.similarity import cosine_sim_expr

    a = emb001.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("v_a"))
    b = emb001.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("v_b"))
    joined = a.join(b, F.col("vec_a") + 1 == F.col("vec_b"))
    expr = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in joined.select(
            "vec_a", "vec_b", cosine_sim_expr(F.col("v_a"), F.col("v_b")).alias("cosine")
        ).collect()
    }
    kern = {
        (r["vec_a"], r["vec_b"]): r["cosine"] for r in _pair_cosines_numpy(joined).collect()
    }
    assert expr == kern


def test_embed_texts_kernel_matches_expr(spark, docs):
    from kernel_reference import embed_texts_expr

    from semstreams_spark.search.embedder import embed_texts

    kern = {r["doc_id"]: tuple(r["embedding"]) for r in embed_texts(docs, id_col="doc_id", dim=64).collect()}
    expr = {r["doc_id"]: tuple(r["embedding"]) for r in embed_texts_expr(docs, id_col="doc_id", dim=64).collect()}
    assert kern == expr


def test_shingle_sets_kernel_matches_expr(spark, docs):
    from kernel_reference import shingle_sets_expr

    from semstreams_spark.operators.dedup import shingle_sets

    real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for df in (docs, real):
        kern = set(map(tuple, shingle_sets(df, n=3).collect()))
        expr = set(map(tuple, shingle_sets_expr(df, n=3).collect()))
        assert kern == expr


def test_pair_count_kernel_fallback_matches_matrix_path():
    """The V>cap fallback branch of the pair kernel (plain per-row pair
    emission, r6 np.sort on UNSORTED collect_set input) must produce the
    same aggregated pair counts as the V×V matrix branch and as brute
    force — exercised directly since no sf corpus exceeds the 4096 cap."""
    import itertools
    from collections import Counter

    import numpy as np
    import pandas as pd

    import __spark_entry__ as entry

    rng = np.random.default_rng(7)
    vocab = np.array([f"ent_{i:05d}" for i in range(300)])
    convs = []
    for _ in range(40):
        k = int(rng.integers(1, 12))
        ents = rng.choice(vocab, size=k, replace=False)
        rng.shuffle(ents)  # collect_set order is arbitrary — model that
        convs.append(ents)
    pdf = pd.DataFrame({"ents": convs})

    def agg(frames):
        c = Counter()
        for f in frames:
            for s, d, n in zip(f["src"], f["dst"], f["c"]):
                c[(s, d)] += int(n)
        return c

    matrix = agg(entry._pair_count_batches(iter([pdf])))
    fallback = agg(entry._pair_count_batches(iter([pdf]), max_matrix_vocab=1))
    brute = Counter(
        pair
        for ents in convs
        for pair in itertools.combinations(sorted(ents), 2)
    )
    assert matrix == brute
    assert fallback == brute


def test_conv_pair_counts_matches_catalyst_pairs(spark):
    import __spark_entry__ as entry
    from kernel_reference import conv_entity_pairs
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    wk = {
        (r["src"], r["dst"]): r["w"]
        for r in entry._conv_pair_counts(spark, sf)
        .groupBy("src", "dst")
        .agg(F.sum("c").alias("w"))
        .collect()
    }
    we = {
        (r["src"], r["dst"]): r["w"]
        for r in conv_entity_pairs(spark, sf)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        .collect()
    }
    assert wk == we


def test_simhash_kernel_matches_expr(spark, docs):
    from kernel_reference import simhash_expr

    from semstreams_spark.operators.dedup import simhash

    real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for df in (docs, real):
        kern = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
        expr = {r["doc_id"]: r["simhash"] for r in simhash_expr(df).collect()}
        assert kern == expr


def test_lang_id_table_matches_expr(spark):
    from pyspark.sql import functions as F
    from semstreams_spark.operators.textops import lang_id_table

    real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kern = {r["doc_id"]: r["detected_lang"] for r in lang_id_table(real, id_col="doc_id").collect()}
    expr = {
        r["doc_id"]: r["detected_lang"]
        for r in real.select("doc_id", lang_id(F.col("text")).alias("detected_lang")).collect()
    }
    assert kern == expr
