"""Deduplication operators for training-data pipelines.

Five families, from exact to fuzzy, each a DataFrame composition whose
per-document work (shingling, fingerprints, signatures, cosines) runs in
Arrow ``mapInPandas`` kernels on the package's shared tokenizer, token
hash and fold (``textops.word_tokens``/``token_hash``,
``similarity._fold_dot_np``):

- exact: content-hash groupBy (reference content hash,
  ``message/base_message.go:151-171``)
- n-gram Jaccard: shingle explode → self-join on shingle → |A∩B| /
  (|A|+|B|-|A∩B|) — exact, quadratic in near-dup clusters only
- MinHash + LSH: k permutation-style hashes over shingles, banded into
  b bands; candidate pairs share a band signature (bucket join, never
  all-pairs) → verified with exact Jaccard. THE scale path for 100 TB:
  shuffle is (doc → k minhashes → b band rows), join fan-out bounded by
  bucket sizes.
- SimHash: 60-bit sign-aggregated term hash; near-dups = fingerprints
  within Hamming distance ``MAX_HAMMING``, found by splitting each into
  ``MAX_HAMMING + 1`` chunks and joining on equal chunks (pigeonhole).
- embedding near-dups: banded random-hyperplane LSH + exact cosine.

All hashes are the engine-portable md5-based hash where an oracle is
wanted; xxhash64 variants are noted for production speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textops import portable_hash, token_hash, word_tokens

# Mersenne prime modulus for the permutation family: 2^31-1 keeps
# a*h+b < 2^62 (no int64 overflow under ANSI mode)
_P = 2147483647
# MinHash permutations and LSH bands (rows per band = _K // _BANDS)
_K, _BANDS = 32, 8
# words per shingle
_N = 3
# Jaccard similarity a shingle-set pair needs
JACCARD_MIN = 0.5
# simhash Hamming budget of a near-dup pair
MAX_HAMMING = 14
# cosine an embedding near-dup pair needs
NEARDUP_THRESHOLD = 0.95
# embedding near-dup LSH: bands of hyperplane sign bits. 8 is the fewest
# bands that recall a pair at the threshold with probability ≥ 0.995 at
# 6 planes per band (lsh_band_params at that target); 6 planes keep the
# gate corpus well bucketed (64 buckets per band over ~550 vectors)
NEARDUP_BANDS, NEARDUP_ROWS = 8, 6


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical documents: (content_hash, keeper_doc_id,
    n_copies); the keeper is the group's smallest id."""
    return (
        docs.select(F.md5(F.col("text")).alias("content_hash"), F.col("doc_id"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) distinct pairs of a (doc_id, text) frame, each
    shingle ``_N`` words.

    r6: ONE Arrow ``mapInPandas`` pass — tokenize + n-gram + per-doc set
    in Python per batch. The expression form (``shingle_sets_expr`` in
    tests/kernel_reference.py, parity test
    test_shingle_sets_kernel_matches_expr) paid two interpreted zip_with
    passes per doc (HOFs bypass codegen) plus a global DISTINCT exchange;
    since (doc_id, shingle) dedup is per-doc by construction, the set is
    computable inside the scan task with NO shuffle. Same tokens (same
    regex/lowercase), same ``< _N``-token fallback shingle, same rows."""
    import pandas as pd

    id_t = dict(docs.dtypes)["doc_id"]

    def gen(it):
        for pdf in it:
            if not len(pdf):
                continue
            ids, outs = [], []
            for _id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = word_tokens(text)
                if len(toks) < _N:
                    sh = {" ".join(toks)}
                else:
                    sh = {" ".join(toks[i : i + _N]) for i in range(len(toks) - _N + 1)}
                ids.extend([_id] * len(sh))
                outs.extend(sh)
            yield pd.DataFrame({"doc_id": ids, "shingle": outs})

    return docs.select("doc_id", "text").mapInPandas(gen, f"doc_id {id_t}, shingle string")


def jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Exact 3-gram Jaccard similarity pairs ≥ ``JACCARD_MIN`` (a < b).

    Self-join on shingle: cost ∝ Σ df(shingle)² — fine when shingles are
    discriminative.
    """
    # the shingle set feeds the size agg AND both self-join sides:
    # compute it once per action
    s = shingle_sets(docs).localCheckpoint(eager=False)
    a, b = s.alias("a"), s.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return _jaccard_verify(common, s).select("doc_a", "doc_b", "n_common", "size_a", "size_b", "jaccard")


def _jaccard_verify(common: DataFrame, s: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_common) pairs with their ``s`` shingle-set sizes
    (size_a, size_b) and exact Jaccard, kept at ≥ ``JACCARD_MIN``."""
    sizes = s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= JACCARD_MIN)
    )


def minhash_signatures(shingles: DataFrame) -> DataFrame:
    """(doc_id, sig array<long>[_K]) MinHash signatures of a (doc_id,
    shingle) set.

    h_i(x) = (a_i * H(x) + b_i) mod p with fixed odd a_i, b_i — one base
    hash per shingle, _K affine transforms folded in a single aggregate
    (no k-fold explode)."""
    s = shingles.withColumn("h", portable_hash(F.col("shingle")) % F.lit(_P))
    aggs = [
        F.min(
            (F.lit((2 * i + 1) % _P) * F.col("h") + F.lit((i * 0x9E3779B9) % _P)) % F.lit(_P)
        ).alias(f"m{i}")
        for i in range(_K)
    ]
    sig = s.groupBy("doc_id").agg(*aggs)
    return sig.select("doc_id", F.array(*[f"m{i}" for i in range(_K)]).alias("sig"))


def minhash_lsh_candidates(signatures: DataFrame) -> DataFrame:
    """Banded LSH: docs sharing any band signature become candidate pairs,
    the ``_K`` minhashes cut into ``_BANDS`` bands of ``_K // _BANDS``.

    Shuffle key = (band_idx, band values): bounded fan-out, no all-pairs.
    The band key is the raw minhash slice (array equality) rather than a
    re-hash — engine-portable, so the whole LSH pipeline has an exact
    DuckDB oracle."""
    rows_per_band = _K // _BANDS
    banded = signatures.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.slice("sig", b * rows_per_band + 1, rows_per_band).alias("bh"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bh")
    # both self-join sides read the banded slices: once per action
    banded = banded.localCheckpoint(eager=False)
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_dedup(docs: DataFrame) -> DataFrame:
    """MinHash-LSH candidates (3-gram shingles, _K hashes in _BANDS bands)
    verified with exact Jaccard ≥ ``JACCARD_MIN``."""
    # one shingle set shared by the signature pass AND the exact verify
    # (sizes + both intersect sides) — five consumers, one computation
    s = shingle_sets(docs).localCheckpoint(eager=False)
    cand = minhash_lsh_candidates(minhash_signatures(s))
    sa = s.select(F.col("doc_id").alias("doc_a"), F.col("shingle"))
    sb = s.select(F.col("doc_id").alias("doc_b"), F.col("shingle"))
    common = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return _jaccard_verify(common, s).select("doc_a", "doc_b", "jaccard")


def simhash(docs: DataFrame) -> DataFrame:
    """SimHash per (doc_id, text) document: per-bit +1/-1 weighted
    votes over distinct-token hashes, sign-aggregated into a 60-bit
    fingerprint.

    r6: ONE Arrow ``mapInPandas`` pass. The expression form
    (``simhash_expr`` in tests/kernel_reference.py, parity-tested) paid a token explode + a
    (doc, token) count aggregation + SIXTY sum(when) aggregate columns —
    the single most expensive plan in the registry (10.5 s at sf0.1 for
    5k docs). Per batch the kernel tokenizes, counts (collections.Counter
    == the groupBy count), hashes each distinct token with the identical
    md5-hex-prefix portable hash, and computes the vote signs with an
    integer bit-matrix — integer sums are order-free, so the fingerprint
    is bit-identical (test_simhash_kernel_matches_expr)."""
    import numpy as np
    import pandas as pd

    id_t = dict(docs.dtypes)["doc_id"]

    def gen(it):
        from collections import Counter

        for pdf in it:
            if not len(pdf):
                continue
            ids, fps = [], []
            for _id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = word_tokens(text)
                if not toks:
                    # the explode drops token-less docs in the expression
                    # form — replicate presence semantics
                    continue
                cnt = Counter(toks)
                h = np.fromiter(map(token_hash, cnt.keys()), dtype=np.int64, count=len(cnt))
                w = np.fromiter(cnt.values(), dtype=np.int64, count=len(cnt))
                bits = (h[:, None] >> np.arange(60)) & 1  # (k, 60)
                votes = ((2 * bits - 1) * w[:, None]).sum(axis=0)
                fp = int(((votes > 0).astype(np.int64) << np.arange(60)).sum())
                ids.append(_id)
                fps.append(fp)
            yield pd.DataFrame({"doc_id": ids, "simhash": np.array(fps, dtype=np.int64)})

    return docs.select("doc_id", "text").mapInPandas(gen, f"doc_id {id_t}, simhash long")


def simhash_near_dups(docs: DataFrame) -> DataFrame:
    """Near-dup pairs with simhash Hamming distance ≤ ``MAX_HAMMING``.

    Pigeonhole recall guarantee: the 60-bit fingerprint splits into
    (MAX_HAMMING+1) chunks, so any pair within the Hamming budget shares
    at least one untouched chunk — candidates = pairs sharing ANY chunk
    value (bucket join, never all-pairs), then exact popcount verify via
    bit_count ≤ MAX_HAMMING. 14 is wide for web dedup (3 is the classic
    setting) because the corpus's documents are short: one changed token
    costs ~11 of the 60 bits."""
    n_chunks = MAX_HAMMING + 1
    chunk_bits = 60 // n_chunks
    sh = simhash(docs)
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright("simhash", i * chunk_bits)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .alias("cv"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", "c.chunk", "c.cv")
    # both self-join sides read the chunked fingerprints: once per action
    chunks = chunks.localCheckpoint(eager=False)
    l, r = chunks.alias("l"), chunks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.cv") == F.col("r.cv"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= MAX_HAMMING)
    )
    return cand


def embedding_near_dups(embeddings: DataFrame) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine ≥ ``NEARDUP_THRESHOLD``) of
    a (vec_id, embedding) frame via
    BANDED random-hyperplane LSH (OR-of-ANDs) + exact cosine verify — the
    same banding shape as minhash_lsh_candidates, applied to the
    hyperplane family.

    Why banded: one monolithic n-plane signature recalls a pair at cosine
    c with probability (1 − acos(c)/π)^n — ≈18% at c=0.95 for n=16 — and
    its bucket count is fixed at 2^n regardless of corpus size, so bucket
    population (and the verify join's fan-out) grows ∝ N/2^n. Banding
    decouples the two: r (``NEARDUP_ROWS``) sizes buckets (2^r per band),
    and b (``NEARDUP_BANDS``) follows from the recall target — recall
    1 − (1 − p^r)^b, ≈0.9975 at (8, 6) for pairs at the threshold.
    Candidates are deduped before the exact verify, so multi-band
    collisions cost one cosine each.

    Hyperplanes are deterministic (hash-derived), so results are
    reproducible without a stored model (exact DuckDB oracle:
    oracles.sql_embedding_neardup_lsh). Reference semantics anchor:
    EMBEDDING_INDEX near-dup intent (indexmanager/config.go:185-217)."""
    from .similarity import banded_signatures_numpy

    e = embeddings.select("vec_id", F.col("embedding").alias("v"))
    # r6: signatures + exact verify through the Arrow numpy kernels — the
    # Catalyst HOF folds are interpreted (outside codegen) and were the
    # two hot spots here (guide §4.2); bucket keys and cosines are
    # bit-identical to the expression forms (parity tests in
    # tests/test_dedup_similarity.py), so candidates, survivors and the
    # DuckDB gate are unchanged.
    sig = banded_signatures_numpy(e, NEARDUP_BANDS, NEARDUP_ROWS)
    # the signature subtree feeds BOTH sides of the self-join: a lazy
    # local checkpoint computes it once per action instead of twice
    # (exchange reuse alone doesn't dedupe it under AQE re-planning)
    sig = sig.localCheckpoint(eager=False)
    l, r = sig.alias("l"), sig.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .select(F.col("l.vec_id").alias("vec_a"), F.col("r.vec_id").alias("vec_b"))
        .distinct()
    )
    va = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("v_a"))
    vb = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("v_b"))
    joined = cand.join(va, "vec_a").join(vb, "vec_b")
    return _pair_cosines_numpy(joined).filter(F.col("cosine") >= NEARDUP_THRESHOLD)


def _pair_cosines_numpy(joined: DataFrame) -> DataFrame:
    """(vec_a, vec_b, cosine) from a frame carrying (vec_a, vec_b, v_a,
    v_b) — Arrow numpy kernel, bit-identical to the Catalyst
    ``cosine_sim_expr(v_a, v_b)`` (parity test
    test_pair_cosines_numpy_parity)."""
    import pandas as pd

    from .similarity import _stack_f64, cosine_np

    def gen(it):
        for pdf in it:
            if not len(pdf):
                continue
            cos = cosine_np(_stack_f64(pdf["v_a"]), _stack_f64(pdf["v_b"]))
            yield pd.DataFrame({"vec_a": pdf["vec_a"], "vec_b": pdf["vec_b"], "cosine": cos})

    t = dict(joined.dtypes)
    return joined.select("vec_a", "vec_b", "v_a", "v_b").mapInPandas(
        gen, f"vec_a {t['vec_a']}, vec_b {t['vec_b']}, cosine double"
    )
