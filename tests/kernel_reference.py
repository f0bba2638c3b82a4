"""The pure-Catalyst expression forms of the package's Arrow kernels: the
references the kernels are checked against bit for bit
(tests/test_dedup_similarity.py). Same names and signatures as the
kernels they pin, with ``_expr`` for the dedup and embedder forms.

- ``shingle_sets_expr`` (with ``word_ngrams``) → ``dedup.shingle_sets``
- ``simhash_expr`` → ``dedup.simhash``
- ``embed_texts_expr`` → ``search.embedder.embed_texts``
- ``banded_hyperplane_signatures`` → ``similarity.banded_signatures_numpy``
- ``lang_id`` → ``textops.lang_id_table``
- ``planted_neardup_corpus_catalyst`` → ``__spark_entry__.planted_neardup_corpus``
- ``conv_entity_pairs`` → ``__spark_entry__._conv_pair_counts``
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from __spark_entry__ import PLANT_COS, _mention_rows
from semstreams_spark.operators.similarity import _plane_dot, norm_expr
from semstreams_spark.operators.textops import LANG_STOPWORDS, portable_hash, tokens
from semstreams_spark.search.embedder import DEFAULT_DIM


def word_ngrams(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles as strings (array<string>).

    Built by n−1 zip_with passes over shifted copies of the token array
    (two array allocations per DOC per pass) instead of a slice+concat
    per SHINGLE — the per-shingle slice form was 2× slower at sf0.1
    (interpreted HOF allocating k short-lived arrays per doc). Output is
    string-identical, so every shingle-based oracle is unaffected. Stays
    map-only (a window/lead formulation is faster still on a warm local
    run but shuffles the whole token stream — wrong shape at scale)."""
    toks = tokens(col)
    sz = F.size(toks)
    k = sz - (n - 1)
    acc = toks
    for j in range(1, n):
        # zip pads the shorter (shifted) side with NULL; concat of NULL
        # yields NULL tail entries, trimmed by the final slice to k
        acc = F.zip_with(acc, F.slice(toks, j + 1, sz), lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(k <= 0, F.array(F.concat_ws(" ", toks))).otherwise(F.slice(acc, 1, k))


def shingle_sets_expr(docs: DataFrame, n: int = 3) -> DataFrame:
    """Pure-Catalyst form of ``dedup.shingle_sets``."""
    return (
        docs.select("doc_id", F.explode(word_ngrams(F.col("text"), n)).alias("shingle"))
        .distinct()
    )


def simhash_expr(docs: DataFrame) -> DataFrame:
    """Pure-Catalyst form of ``dedup.simhash``.

    Implemented as: token → portable hash → per-bit +1/-1 votes → sign.
    The bit loop is an unrolled sum over F.when columns (pure codegen).
    """
    t = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    t = t.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("w")).withColumn("h", portable_hash(F.col("tok")))
    bit_aggs = [
        F.sum(
            F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, F.col("w")).otherwise(-F.col("w"))
        ).alias(f"b{i}")
        for i in range(60)  # portable hash is 60 bits
    ]
    sums = t.groupBy("doc_id").agg(*bit_aggs)
    fp = None
    for i in range(60):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        fp = term if fp is None else fp.bitwiseOR(term)
    return sums.select("doc_id", fp.alias("simhash"))


def embed_texts_expr(df: DataFrame, id_col: str, dim: int = DEFAULT_DIM) -> DataFrame:
    """The pure-Catalyst expression form of ``embedder.embed_texts``.

    Densify is O(tokens + dim) per doc: tokens aggregate to (bucket →
    count) map entries (two-level hash agg, map-side combinable), then one
    transform does a map lookup per dimension — not a filter-scan of the
    token list per dimension, which is O(dim × tokens) and 6× the work at
    the reference's 384 dims.
    """
    t = df.select(F.col(id_col).alias("_id"), F.explode(tokens(F.col("text"))).alias("tok"))
    b = t.select("_id", (portable_hash(F.col("tok")) % dim).cast("int").alias("bucket"))
    cnt = b.groupBy("_id", "bucket").agg(F.count(F.lit(1)).alias("c"))
    g = cnt.groupBy("_id").agg(
        F.map_from_entries(F.collect_list(F.struct("bucket", "c"))).alias("bc")
    )
    # try_element_at: plain element_at on a map THROWS on a missing key
    # under ANSI mode (Spark 4 default)
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.try_element_at(F.col("bc"), i), F.lit(0).cast("long")).cast(
            "double"
        ),
    )
    out = g.withColumn("_vec", vec)
    norm = F.sqrt(F.aggregate(F.col("_vec"), F.lit(0.0), lambda acc, x: acc + x * x))
    emb = F.when(
        norm > 0, F.transform(F.col("_vec"), lambda x: x / norm)
    ).otherwise(F.col("_vec"))
    return out.select(F.col("_id").alias(id_col), emb.alias("embedding"))


def banded_hyperplane_signatures(
    vec: Column, bands: int, rows_per_band: int, dim: int = 64
) -> Column:
    """array<struct<band:int, sig:long>> — band i's signature packs the
    sign bits of planes [i·r, (i+1)·r). The (band, sig) pair is the LSH
    bucket key: equal in ANY band → candidate (OR-of-ANDs). Buckets per
    band = 2^r, so r sizes bucket population (r ≈ log2(N / target bucket
    size) at scale) and b is derived from the recall target
    (lsh_band_params)."""
    entries = []
    for bidx in range(bands):
        sig = F.lit(0).cast("long")
        for j in range(rows_per_band):
            d = _plane_dot(vec, bidx * rows_per_band + j, dim)
            sig = sig.bitwiseOR(
                F.shiftleft(F.when(d >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long"), j)
            )
        entries.append(F.struct(F.lit(bidx).alias("band"), sig.alias("sig")))
    return F.array(*entries)


def planted_neardup_corpus_catalyst(e):
    """Base embeddings ∪ exact-rotation plants: every 10th vector v gets a
    companion v' = cos_t·v̂ + sin_t·û at vec_id+1000000 — û is the unit
    Gram-Schmidt residual of roll(v) (the vector's own components shifted
    by one) against v̂, so cos(v, v') == cos_t EXACTLY (up to one float
    rounding), with cos_t cycling through PLANT_COS by (vec_id div 10) % 3.

    The perturbation direction must VARY per vector: a fixed direction
    (e.g. e1) makes every plant's rotation correlated with the same few
    hyperplanes, collapsing the per-plane collision probability well below
    the 1 − θ/π model for those planes (measured: 0.826 vs 0.910 at the
    0.9601 level) — roll(v) is pseudo-random per vector, restoring the
    independence the banding math assumes. All arithmetic is
    sequential-fold / per-element, mirrored verbatim in the DuckDB oracle."""
    lvl = F.expr("vec_id div 10") % 3
    ct = F.when(lvl == 0, F.lit(PLANT_COS[0])).when(lvl == 1, F.lit(PLANT_COS[1])).otherwise(
        F.lit(PLANT_COS[2])
    )
    st = (
        F.when(lvl == 0, F.lit(math.sqrt(1.0 - PLANT_COS[0] ** 2)))
        .when(lvl == 1, F.lit(math.sqrt(1.0 - PLANT_COS[1] ** 2)))
        .otherwise(F.lit(math.sqrt(1.0 - PLANT_COS[2] ** 2)))
    )
    emb = F.col("embedding")
    # Staged selects, one derived column per stage: inlining everything in
    # one projection nests folds-over-folds (w inside nw inside every
    # output element) into a 10^5+-node expression tree that the optimizer
    # chews on for minutes; with stages, CollapseProject's expensive-
    # expression guard keeps each alias expanded at most once. (The DuckDB
    # oracle stages identically via MATERIALIZED CTEs.) NB the id shift
    # happens in the FINAL select only — aliasing vec_id+1000000 AS vec_id
    # earlier would capture the shifted id in ct/st via lateral column
    # alias resolution.
    g1 = e.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id",
        "embedding",
        norm_expr(emb).alias("nv"),
        ct.alias("ct"),
        st.alias("st"),
    )
    # u0 = roll(v) by one component (1-based: j -> (j % 64) + 1)
    rolled = F.transform(
        emb, lambda x, i: F.element_at(emb, ((i + F.lit(1)) % F.lit(64)) + F.lit(1)).cast("double")
    )
    # Gram-Schmidt: w = u0 - (u0·v̂)·v̂, û = w/||w||
    nv = F.col("nv")
    g2 = g1.select(
        "vec_id",
        "embedding",
        "nv",
        "ct",
        "st",
        F.aggregate(
            F.zip_with(rolled, emb, lambda a, b: a * (b.cast("double") / nv)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("s"),
    )
    g3 = g2.select(
        "vec_id",
        "embedding",
        "nv",
        "ct",
        "st",
        F.zip_with(rolled, emb, lambda a, b: a - F.col("s") * (b.cast("double") / nv)).alias("w"),
    )
    g4 = g3.select(
        "vec_id",
        "embedding",
        "nv",
        "ct",
        "st",
        "w",
        F.sqrt(F.aggregate(F.col("w"), F.lit(0.0), lambda acc, x: acc + x * x)).alias("nw"),
    )
    # Degenerate guard: if roll(v) is parallel to v (e.g. a constant
    # vector) the residual norm nw is ~0 and w/nw would be NaN — NaN
    # cosine then DIVERGES across engines (DuckDB sorts NaN greatest, so
    # `cosine >= t` passes there but fails in Spark). Fall back to the
    # Gram-Schmidt residual of e1 against v̂ — degenerate only for v ∝ e1,
    # whose roll is ∝ e2 and never takes this branch. Mirrored verbatim
    # in oracles.sql_embedding_neardup_lsh.
    vh1 = F.element_at(emb, 1).cast("double") / nv
    fb_w = F.transform(
        F.sequence(F.lit(1), F.lit(64)),
        lambda j: F.when(j == F.lit(1), F.lit(1.0)).otherwise(F.lit(0.0))
        - vh1 * (F.element_at(emb, j).cast("double") / nv),
    )
    fb_nw = F.sqrt(F.lit(1.0) - vh1 * vh1)
    g5 = g4.select(
        "vec_id",
        "embedding",
        "nv",
        "ct",
        "st",
        F.when(F.col("nw") >= F.lit(1e-12), F.col("w")).otherwise(fb_w).alias("w"),
        F.when(F.col("nw") >= F.lit(1e-12), F.col("nw")).otherwise(fb_nw).alias("nw"),
    )
    planted = g5.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.zip_with(
            emb,
            F.col("w"),
            lambda b, a: (
                F.col("ct") * (b.cast("double") / nv) + F.col("st") * (a / F.col("nw"))
            ).cast("float"),
        ).alias("embedding"),
    )
    return e.unionByName(planted)


def conv_entity_pairs(spark, sf_dir):
    """Per-conversation co-mention pairs (src < dst), one row per
    (conv, pair): mentions derived directly from transcripts (no triple
    fan-out), deduped per conversation by ONE collect_set aggregation
    (map-side combinable), pairs generated JVM-side from the sorted set —
    the same self-join→pair-explode reshape entity_cooccurrence measured
    4.7× faster at sf0.1. The pure-Catalyst reference form of the
    pair-count kernel (parity A/B in OPTIMIZATION_r06.md; weights
    cross-checked in tests)."""
    m = _mention_rows(spark, sf_dir).select("conv_id", "e")
    per_conv = m.groupBy("conv_id").agg(F.sort_array(F.collect_set("e")).alias("ents"))
    return per_conv.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ents"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ents"), i + 2, F.size(F.col("ents"))),
                        lambda y: F.struct(x.alias("src"), y.alias("dst")),
                    ),
                )
            )
        ).alias("p")
    ).select(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))


def lang_id(col: Column) -> Column:
    """Stopword-voting language ID as one Catalyst expression: the
    language whose stopwords appear most (≥2 hits required), else 'und'.
    Deterministic tie-break by language code order."""
    toks = tokens(col)
    # occurrence count per language. Notes: the HOF lambda must be
    # single-parameter (PySpark infers lambda arity from the signature, so
    # default-arg closures break); Column.isin can't take a lambda var;
    # array_except would dedup. filter + array_contains is the shape that
    # stays entirely in codegen.
    def _count_hits(words: list[str]):
        sw = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))

    scores = [(lang, _count_hits(words)) for lang, words in sorted(LANG_STOPWORDS.items())]
    best_score = F.greatest(*[s for _, s in scores])
    pick = None
    for lang, s in reversed(scores):
        cond = s == best_score
        pick = F.when(cond, F.lit(lang)) if pick is None else F.when(cond, F.lit(lang)).otherwise(pick)
    return F.when(best_score >= 2, pick).otherwise(F.lit("und"))
