"""Deduplication operators for training-data pipelines.

Four families, from exact to fuzzy, each expressed as DataFrame
compositions (no Python in the hot path):

- exact: content-hash groupBy (reference content hash,
  ``message/base_message.go:151-171``)
- n-gram Jaccard: shingle explode → self-join on shingle → |A∩B| /
  (|A|+|B|-|A∩B|) — exact, quadratic in near-dup clusters only
- MinHash + LSH: k permutation-style hashes over shingles, banded into
  b bands; candidate pairs share a band signature (bucket join, never
  all-pairs) → verified with exact Jaccard. THE scale path for 100 TB:
  shuffle is (doc → k minhashes → b band rows), join fan-out bounded by
  bucket sizes.
- SimHash: 64-bit sign-aggregated term hash; near-dups = fingerprints
  equal in ≥3 of 4 16-bit chunks (Hamming ≤ small) via chunk bucket join.

All hashes are the engine-portable md5-based hash where an oracle is
wanted; xxhash64 variants are noted for production speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textops import portable_hash

# Mersenne prime modulus for the permutation family: 2^31-1 keeps
# a*h+b < 2^62 (no int64 overflow under ANSI mode)
_P = 2147483647
# MinHash permutations and LSH bands (rows per band = _K // _BANDS)
_K, _BANDS = 32, 8


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical documents: (content_hash, keeper_doc_id,
    n_copies); the keeper is the group's smallest id."""
    return (
        docs.select(F.md5(F.col("text")).alias("content_hash"), F.col("doc_id"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def shingle_sets(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct pairs of a (doc_id, text) frame.

    r6: ONE Arrow ``mapInPandas`` pass — tokenize + n-gram + per-doc set
    in Python per batch. The expression form (``shingle_sets_expr`` in
    tests/kernel_reference.py, parity test
    test_shingle_sets_kernel_matches_expr) paid two interpreted zip_with
    passes per doc (HOFs bypass codegen) plus a global DISTINCT exchange;
    since (doc_id, shingle) dedup is per-doc by construction, the set is
    computable inside the scan task with NO shuffle. Same tokens (same
    regex/lowercase), same ``< n``-token fallback shingle, same rows."""
    import pandas as pd

    id_t = dict(docs.dtypes)["doc_id"]

    def gen(it):
        for pdf in it:
            if not len(pdf):
                continue
            ids, outs = [], []
            for _id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = [t for t in _TOKEN_SPLIT.split((text or "").lower()) if t]
                if len(toks) < n:
                    sh = {" ".join(toks)}
                else:
                    sh = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
                ids.extend([_id] * len(sh))
                outs.extend(sh)
            yield pd.DataFrame({"doc_id": ids, "shingle": outs})

    return docs.select("doc_id", "text").mapInPandas(gen, f"doc_id {id_t}, shingle string")


import re as _re  # noqa: E402

_TOKEN_SPLIT = _re.compile(r"[^a-z0-9_]+")


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact 3-gram Jaccard similarity pairs ≥ threshold (a < b).

    Self-join on shingle: cost ∝ Σ df(shingle)² — fine when shingles are
    discriminative. ``max_shingle_df`` is the hot-shingle guard for scale:
    shingles appearing in more than that many docs are EXCLUDED from the
    candidate join (a df-10^6 boilerplate shingle alone is 10^12 join
    rows). Set sizes still count all shingles, so with a cap the computed
    jaccard is a lower bound (hot shingles contribute denominator but not
    numerator) — near-dup pairs always share rare shingles, so recall at
    sensible thresholds is unaffected; leave None for the exact oracle
    form.
    """
    # the shingle set feeds the size agg AND both self-join sides (and
    # the df cap when set): compute it once per action
    s = shingle_sets(docs).localCheckpoint(eager=False)
    sizes = s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    if max_shingle_df is not None:
        df_ok = (
            s.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("shingle")
        )
        s = s.join(df_ok, "shingle", "left_semi")
    a, b = s.alias("a"), s.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
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
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "size_a", "size_b", "jaccard")
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


def minhash_lsh_candidates(
    signatures: DataFrame, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """Banded LSH: docs sharing any band signature become candidate pairs.

    Shuffle key = (band_idx, band values): bounded fan-out, no all-pairs.
    The band key is the raw minhash slice (array equality) rather than a
    re-hash — engine-portable, so the whole LSH pipeline has an exact
    DuckDB oracle."""
    banded = signatures.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
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


def minhash_dedup(docs: DataFrame, threshold: float = 0.6) -> DataFrame:
    """MinHash-LSH candidates (3-gram shingles, _K hashes in _BANDS bands)
    verified with exact Jaccard ≥ threshold."""
    # one shingle set shared by the signature pass AND the exact verify
    # (sizes + both intersect sides) — five consumers, one computation
    s = shingle_sets(docs).localCheckpoint(eager=False)
    cand = minhash_lsh_candidates(minhash_signatures(s), _BANDS, _K // _BANDS)
    sizes = s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    sa = s.select(F.col("doc_id").alias("doc_a"), F.col("shingle"))
    sb = s.select(F.col("doc_id").alias("doc_b"), F.col("shingle"))
    common = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    return (
        common.join(za, "doc_a")
        .join(zb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash(docs: DataFrame) -> DataFrame:
    """64-bit SimHash per (doc_id, text) document: per-bit +1/-1 weighted
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
    import hashlib

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
                toks = [t for t in _TOKEN_SPLIT.split((text or "").lower()) if t]
                if not toks:
                    # the explode drops token-less docs in the expression
                    # form — replicate presence semantics
                    continue
                cnt = Counter(toks)
                h = np.fromiter(
                    (
                        int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                        for t in cnt.keys()
                    ),
                    dtype=np.int64,
                    count=len(cnt),
                )
                w = np.fromiter(cnt.values(), dtype=np.int64, count=len(cnt))
                bits = (h[:, None] >> np.arange(60)) & 1  # (k, 60)
                votes = ((2 * bits - 1) * w[:, None]).sum(axis=0)
                fp = int(((votes > 0).astype(np.int64) << np.arange(60)).sum())
                ids.append(_id)
                fps.append(fp)
            yield pd.DataFrame({"doc_id": ids, "simhash": np.array(fps, dtype=np.int64)})

    return docs.select("doc_id", "text").mapInPandas(gen, f"doc_id {id_t}, simhash long")


def simhash_near_dups(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with simhash Hamming distance ≤ max_hamming.

    Pigeonhole recall guarantee: the 60-bit fingerprint splits into
    (max_hamming+1) chunks, so any pair within the Hamming budget shares
    at least one untouched chunk — candidates = pairs sharing ANY chunk
    value (bucket join, never all-pairs), then exact popcount verify via
    bit_count ≤ max_hamming. Default 3 is the classic web-dedup setting;
    raise it for short/noisy docs (chunks shrink accordingly)."""
    n_chunks = max_hamming + 1
    if n_chunks > 20:
        raise ValueError("max_hamming too large for 60-bit fingerprints (max 19)")
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
        .filter(F.col("hamming") <= max_hamming)
    )
    return cand


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    bands: int | None = None,
    rows_per_band: int = 10,
    target_recall: float = 0.95,
    dim: int = 64,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs of a (vec_id, embedding) frame via
    BANDED random-hyperplane LSH (OR-of-ANDs) + exact cosine verify — the
    same banding shape as minhash_lsh_candidates, applied to the
    hyperplane family.

    Why banded: one monolithic n-plane signature recalls a pair at cosine
    c with probability (1 − acos(c)/π)^n — ≈18% at c=0.95 for n=16 — and
    its bucket count is fixed at 2^n regardless of corpus size, so bucket
    population (and the verify join's fan-out) grows ∝ N/2^n. Banding
    decouples the two: r (rows_per_band) sizes buckets (2^r per band;
    pick r ≈ log2(N / target bucket size) at scale), and b is DERIVED
    from the recall target via lsh_band_params — recall 1 − (1 − p^r)^b
    ≥ target_recall for pairs at-threshold, ~0.97 at the (8, 10) default
    for threshold 0.95. Candidates are deduped before the exact verify,
    so multi-band collisions cost one cosine each.

    ``max_bucket_size`` is the hot-bucket guard for adversarial corpora
    (e.g. a giant cluster of identical spam vectors): buckets larger than
    the cap are excluded from candidate generation — true dup CLUSTERS
    that big are still recovered transitively through their other bands
    or an exact-dedup pre-pass; leave None for the exact oracle form.

    Hyperplanes are deterministic (hash-derived), so results are
    reproducible without a stored model (exact DuckDB oracle:
    oracles.sql_embedding_neardup_lsh). Reference semantics anchor:
    EMBEDDING_INDEX near-dup intent (indexmanager/config.go:185-217)."""
    from .similarity import banded_signatures_numpy, lsh_band_params

    if bands is None:
        bands = lsh_band_params(threshold, target_recall, rows_per_band)
    e = embeddings.select("vec_id", F.col("embedding").alias("v"))
    # r6: signatures + exact verify through the Arrow numpy kernels — the
    # Catalyst HOF folds are interpreted (outside codegen) and were the
    # two hot spots here (guide §4.2); bucket keys and cosines are
    # bit-identical to the expression forms (parity tests in
    # tests/test_dedup_similarity.py), so candidates, survivors and the
    # DuckDB gate are unchanged.
    sig = banded_signatures_numpy(e, bands, rows_per_band, dim, id_col="vec_id", vec_col="v")
    if max_bucket_size is not None:
        ok = (
            sig.groupBy("band", "sig")
            .agg(F.count(F.lit(1)).alias("bn"))
            .filter(F.col("bn") <= max_bucket_size)
            .select("band", "sig")
        )
        sig = sig.join(ok, ["band", "sig"], "left_semi")
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
    return _pair_cosines_numpy(joined).filter(F.col("cosine") >= threshold)


def _pair_cosines_numpy(joined: DataFrame) -> DataFrame:
    """(vec_a, vec_b, cosine) from a frame carrying (vec_a, vec_b, v_a,
    v_b) — Arrow numpy kernel, bit-identical to
    ``cosine_sim_expr(v_a, v_b)`` (column-order float64 folds; parity
    test test_pair_cosines_numpy_parity)."""
    import numpy as np
    import pandas as pd

    def gen(it):
        for pdf in it:
            if not len(pdf):
                continue
            A = np.stack(pdf["v_a"].to_numpy()).astype(np.float64)
            B = np.stack(pdf["v_b"].to_numpy()).astype(np.float64)
            m, d = A.shape
            dot = np.zeros(m)
            na = np.zeros(m)
            nb = np.zeros(m)
            for k in range(d):
                dot = dot + A[:, k] * B[:, k]
                na = na + A[:, k] * A[:, k]
                nb = nb + B[:, k] * B[:, k]
            yield pd.DataFrame(
                {
                    "vec_a": pdf["vec_a"],
                    "vec_b": pdf["vec_b"],
                    "cosine": dot / (np.sqrt(na) * np.sqrt(nb)),
                }
            )

    t = dict(joined.dtypes)
    return joined.select("vec_a", "vec_b", "v_a", "v_b").mapInPandas(
        gen, f"vec_a {t['vec_a']}, vec_b {t['vec_b']}, cosine double"
    )
