"""Similarity search over embedding columns (array<float>).

Reference: brute-force cosine semantic search
(``indexmanager/semantic.go:240-377``), vector math
(``pkg/embedding/vector.go:16-100``).

Two paths:
- brute-force top-k: F.aggregate/zip_with dot products — pure Catalyst,
  correct baseline; O(N·d) per query, fine when the query set is small
  or the corpus is pre-filtered (hybrid search).
- LSH (random hyperplane) bucketed ANN: deterministic hash-derived
  hyperplanes (no stored model), bucket equi-join, exact rerank inside
  buckets — the 100 TB path; probes = Hamming-adjacent buckets.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# rows each top-k search returns
TOP_K = 10
# IVF cells probed per query, and hyperplanes of the LSH bucket
N_PROBE, N_PLANES = 4, 12


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine_sim_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def _fold_dot_np(V, W):
    """Column-order sequential-fold dot products of two (m, d) float64
    matrices — bit-identical to Catalyst's ``aggregate(zip_with(a, b, *),
    0.0, acc + x)`` because every element's accumulator passes through the
    same float64 additions in the same order (the proven replay technique
    of ``planted_neardup_corpus``)."""
    import numpy as np

    acc = np.zeros(V.shape[0])
    for k in range(V.shape[1]):
        acc = acc + V[:, k] * W[:, k]
    return acc


def _stack_f64(col):
    import numpy as np

    return np.stack(col.to_numpy()).astype(np.float64)


def cosine_scores_numpy(
    embeddings: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cosine) against one query vector — Arrow-batched numpy
    kernel (guide §4.2: HOF fold expressions are interpreted, not
    codegen'd; one numpy pass per batch replaces ~3·d interpreted lambda
    evaluations per row). Values are BIT-IDENTICAL to
    ``cosine_sim_expr`` (column-order folds, float64 throughout) —
    asserted by tests/test_dedup_similarity.py::test_cosine_numpy_matches_catalyst."""
    import numpy as np
    import pandas as pd

    q = [float(x) for x in query_vec]

    def gen(it):
        Q = np.asarray(q, dtype=np.float64)
        nq = math.sqrt(float(_fold_dot_np(Q[None, :], Q[None, :])[0]))
        for pdf in it:
            if not len(pdf):
                continue
            V = _stack_f64(pdf[vec_col])
            d = min(V.shape[1], len(Q))
            dot = _fold_dot_np(V[:, :d], np.broadcast_to(Q[:d], (len(pdf), d)))
            nv = np.sqrt(_fold_dot_np(V, V))
            yield pd.DataFrame({"vec_id": pdf[id_col], "cosine": dot / (nv * nq)})

    out_t = dict(embeddings.select(F.col(id_col).alias("vec_id")).dtypes)["vec_id"]
    return embeddings.select(F.col(id_col).alias(id_col), vec_col).mapInPandas(
        gen, f"vec_id {out_t}, cosine double"
    )


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    exclude_self: int | None = None,
) -> DataFrame:
    """Brute-force cosine top-``TOP_K`` of (id, embedding) vectors against
    a query vector; deterministic tie-break by id. The per-row cosine runs
    through the Arrow numpy kernel (``cosine_scores_numpy`` — bit-identical
    to the Catalyst fold form, which remains available as
    ``cosine_sim_expr`` for composition inside larger expressions)."""
    out = cosine_scores_numpy(embeddings, query_vec, id_col)
    if exclude_self is not None:
        out = out.filter(F.col("vec_id") != exclude_self)
    return out.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(TOP_K)


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random unit hyperplane: md5-seeded Gaussian
    components (Box-Muller), normalized. Computed driver-side and folded
    into both the Spark plan and the DuckDB oracle as literals, so no
    cross-engine math is involved — only reproducibility matters.

    Gaussian components make the plane normals uniform on the sphere,
    which the 1 − θ/π collision model requires. (The earlier sin-sequence
    family h[j] = sin(ω·(i·dim+j)) was near rank-2 — every plane a phase
    shift of one sampled sinusoid, i.e. a combination of the fixed
    sin(ωj)/cos(ωj) vectors — so planes were strongly correlated and
    banded recall collapsed for unlucky pair directions.)"""
    import hashlib

    vals = []
    for j in range(dim):
        h = hashlib.md5(f"hp:{plane_idx}:{j}".encode()).digest()
        u1 = (int.from_bytes(h[:8], "big") + 1) / 2.0**64  # (0, 1]
        u2 = int.from_bytes(h[8:], "big") / 2.0**64  # [0, 1)
        vals.append(math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.pi * u2))
    n = math.sqrt(sum(v * v for v in vals))
    return [v / n for v in vals]


def _plane_dot(vec: Column, plane_idx: int, dim: int) -> Column:
    """Sequential-fold dot product of the vector's leading `dim`
    components with deterministic hyperplane `plane_idx` (fp-identical to
    the DuckDB mirror in oracles._bucket_sql)."""
    h = _hyperplane(dim, plane_idx)
    return F.aggregate(
        F.zip_with(
            F.slice(vec, 1, dim),
            F.array(*[F.lit(v) for v in h]),
            lambda x, y: x.cast("double") * y,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def hyperplane_signature(vec: Column, n_planes: int = 16, dim: int = 64) -> Column:
    """Bit signature of sign(v·h_i) over n deterministic hyperplanes.

    dim = number of leading vector components used (truncation keeps the
    literal plan small; cosine-preserving enough for bucketing, exact
    rerank fixes the rest)."""
    sig = F.lit(0).cast("long")
    for i in range(n_planes):
        d = _plane_dot(vec, i, dim)
        sig = sig.bitwiseOR(F.shiftleft(F.when(d >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long"), i))
    return sig


def lsh_band_params(threshold: float, target_recall: float = 0.95, rows_per_band: int = 10) -> int:
    """Minimal band count b such that OR-of-ANDs banded hyperplane LSH
    recalls a pair at cosine == threshold with probability ≥ target_recall.

    Per-plane collision for a pair at angle θ is p = 1 − θ/π (random
    hyperplane LSH); a band of r planes collides with p^r; b independent
    bands recall 1 − (1 − p^r)^b. Solved by the smallest b meeting the
    target, at most 64 — derive (b, r) from the threshold instead of
    hand-picking."""
    p = 1.0 - math.acos(threshold) / math.pi
    pr = p**rows_per_band
    if pr <= 0.0:
        raise ValueError("rows_per_band too large for this threshold")
    b = 1
    while 1.0 - (1.0 - pr) ** b < target_recall:
        b += 1
        if b > 64:
            raise ValueError(f"no b ≤ 64 reaches recall {target_recall} at r={rows_per_band}")
    return b


def banded_signatures_numpy(
    embeddings: DataFrame,
    bands: int,
    rows_per_band: int,
    dim: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, band, sig) of (vec_id, ``vec_col``) vectors — the exploded
    form of ``banded_hyperplane_signatures`` (tests/kernel_reference.py)
    computed by an Arrow numpy kernel.

    The Catalyst form evaluates bands·rows_per_band interpreted fold
    lambdas of ``dim`` terms per row (HOFs bypass codegen); here the
    deterministic plane family is materialized driver-side once and each
    batch runs bands·r·dim column-order float64 accumulations — the same
    per-element operation sequence, so the sign bits (and hence every
    bucket key) are IDENTICAL (parity test
    tests/test_dedup_similarity.py::test_banded_signatures_numpy_parity)."""
    import numpy as np
    import pandas as pd

    n_planes = bands * rows_per_band
    planes = [
        np.asarray(_hyperplane(dim, i), dtype=np.float64) for i in range(n_planes)
    ]

    def gen(it):
        for pdf in it:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)[:, :dim]
            m = len(pdf)
            sigs = np.zeros((m, bands), dtype=np.int64)
            for bidx in range(bands):
                for j in range(rows_per_band):
                    h = planes[bidx * rows_per_band + j]
                    acc = np.zeros(m)
                    for k in range(dim):
                        acc = acc + V[:, k] * h[k]
                    sigs[:, bidx] |= (acc >= 0).astype(np.int64) << j
            vid = np.repeat(pdf["vec_id"].to_numpy(), bands)
            yield pd.DataFrame(
                {
                    "vec_id": vid,
                    "band": np.tile(np.arange(bands, dtype=np.int32), m),
                    "sig": sigs.reshape(-1),
                }
            )

    return embeddings.select("vec_id", vec_col).mapInPandas(
        gen, f"vec_id {dict(embeddings.dtypes)['vec_id']}, band int, sig long"
    )


def assign_ivf_cells(
    embeddings: DataFrame, centroids: list[tuple[int, list[float]]]
) -> DataFrame:
    """(vec_id, v, cell): assign each (vec_id, embedding) vector to its
    max-cosine centroid (min-cell-index tie-break). Centroids are broadcast as ONE literal
    array<struct<cell,vec>> folded by a single transform + array_max —
    a map-only pass, no shuffle, and (crucially) a plan whose lambda
    count is constant in n_cells. The previous form — greatest() over
    one fold-expression per centroid — made Catalyst ANALYSIS time grow
    ~quadratically with the codebook (n_cells = √N): 14 s of planning at
    44 cells vs 0.03 s for this form, identical output."""
    import numpy as np
    import pandas as pd

    # r6: Arrow numpy kernel instead of an n_cells-wide interpreted
    # transform+fold expression per row (guide §4.2). Per-element float64
    # operation order replays the Catalyst fold exactly (column-order
    # accumulation; argmax-first == min-cell-index tie-break == the
    # array_max(struct(s, -cell)) ordering), so assignments are
    # IDENTICAL — parity test test_assign_ivf_cells_numpy_parity. The
    # previous expression form (kept in git history) also paid analysis
    # time ~quadratic in the codebook; the kernel's plan is constant-size.
    cells = [int(ci) for ci, _ in centroids]
    C = np.asarray([cvec for _, cvec in centroids], dtype=np.float64)  # (c, d)
    nc = np.zeros(len(C))
    for k in range(C.shape[1]):
        nc = nc + C[:, k] * C[:, k]
    nc = np.sqrt(nc)

    def gen(it):
        for pdf in it:
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            m, d = V.shape
            dot = np.zeros((m, len(C)))
            nv = np.zeros(m)
            for k in range(d):
                dot = dot + V[:, k, None] * C[None, :, k]
                nv = nv + V[:, k] * V[:, k]
            sims = dot / (np.sqrt(nv)[:, None] * nc[None, :])
            best = sims.argmax(axis=1)  # first max ⇒ min cell index
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "v": pdf["embedding"],
                    "cell": np.asarray(cells, dtype=np.int32)[best],
                }
            )

    in_t = dict(embeddings.dtypes)
    return embeddings.select(F.col("vec_id"), F.col("embedding")).mapInPandas(
        gen, f"vec_id {in_t['vec_id']}, v {in_t['embedding']}, cell int"
    )


def _cos_py(a: list[float], b: list[float]) -> float:
    """Driver-side cosine with the engine fold order (0.0 + x1 + x2 ...)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    na = 0.0
    for x in a:
        na = na + x * x
    nb = 0.0
    for y in b:
        nb = nb + y * y
    return acc / (math.sqrt(na) * math.sqrt(nb))


def train_ivf_centroids(
    sample: list[list[float]], n_cells: int, n_iters: int = 5
) -> list[list[float]]:
    """Deterministic spherical k-means (fixed-iteration Lloyd) over an
    already-ordered sample — pure driver-side Python, so the Spark
    operator and the DuckDB oracle derive BIT-IDENTICAL centroid literals
    from the same sample list.

    Init = first n_cells sample vectors (the sample is hash-ordered, so
    this is a deterministic pseudo-random pick). Each iteration: assign
    every sample vector to its max-cosine centroid (min-index tie-break),
    recompute each centroid as the member mean in sample order, L2
    normalize; empty cells keep their previous centroid. At corpus scale
    this trains on a bounded sample (standard IVF practice) and the
    trained centroids broadcast into the map-only assignment pass."""
    import numpy as np

    if not sample or n_cells <= 0:
        return []
    # vectorized Lloyd (the pure-Python loop was O(iters·sample·cells·dim)
    # ≈ 14M interpreter float-ops at sf0.1 — ~10 s of driver time); numpy
    # keeps it deterministic because BOTH the Spark operator and the
    # DuckDB oracle call this same function on the same sample, so the
    # trained centroid literals stay bit-identical across engines
    X = np.asarray(sample, dtype=np.float64)
    cents = X[:n_cells].copy()
    xn = np.sqrt((X * X).sum(axis=1))
    xn = np.where(xn == 0.0, 1.0, xn)
    for _ in range(n_iters):
        cn = np.sqrt((cents * cents).sum(axis=1))
        cn = np.where(cn == 0.0, 1.0, cn)
        sims = (X @ cents.T) / (xn[:, None] * cn[None, :])
        best = sims.argmax(axis=1)  # first max ⇒ min cell index tie-break
        sums = np.zeros_like(cents)
        np.add.at(sums, best, X)
        counts = np.bincount(best, minlength=len(cents)).astype(np.float64)
        means = np.divide(sums, counts[:, None], out=np.zeros_like(sums), where=counts[:, None] > 0)
        mn = np.sqrt((means * means).sum(axis=1))
        upd = (counts > 0) & (mn > 0)  # empty cells keep their previous centroid
        cents[upd] = means[upd] / mn[upd, None]
    return [[float(v) for v in row] for row in cents]


def ivf_sample(embeddings: DataFrame, sample_n: int) -> list[list[float]]:
    """Deterministic hash-ordered training sample of (vec_id, embedding)
    vectors: order by (md5(vec_id::string), vec_id) and take sample_n — a
    seedless pseudo-random sample any engine reproduces (DuckDB mirror in
    oracles.sql_ivf_topk)."""
    rows = (
        embeddings.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(sample_n)
        .collect()
    )
    return [[float(x) for x in r["embedding"]] for r in rows]


def ann_topk_ivf(
    embeddings: DataFrame, query_vec: list[float], n_cells: int | None = 16
) -> DataFrame:
    """IVF (inverted-file) ANN over (vec_id, embedding) vectors: k-means
    coarse quantizer cells + probe-and-rerank — the data-adaptive
    alternative to the hyperplane LSH variant.

    Centroids come from deterministic spherical k-means over a
    hash-ordered sample of 1024 vectors (train_ivf_centroids — fixed
    iterations, fixed order, reproducible on any engine). n_cells=None
    sizes the codebook at ≈√N (one count action). Every vector joins its
    max-cosine cell in ONE broadcast map pass; a query probes its
    ``N_PROBE`` nearest cells and reranks exactly inside them for the top
    ``TOP_K``, scanning ~N_PROBE/n_cells of the corpus.
    At 100 TB the assignment is map-only and the probe filter prunes
    cell-partitioned files.

    Deterministic end-to-end: sample, training, assignment tie-breaks
    (min cell index), probe order, and the final (cosine desc, id asc)
    rerank (exact DuckDB oracle: oracles.sql_ivf_topk)."""
    if n_cells is None:
        n_cells = max(1, int(math.isqrt(embeddings.count())))
    sample = ivf_sample(embeddings, 1024)
    centroids = list(enumerate(train_ivf_centroids(sample, n_cells)))
    assigned = assign_ivf_cells(embeddings, centroids)

    q = [float(x) for x in query_vec]
    probe = sorted(range(len(centroids)), key=lambda i: (-_cos_py(q, centroids[i][1]), i))[
        :N_PROBE
    ]
    # exact rerank inside the probed cells via the numpy cosine kernel
    # (bit-identical to the cosine_sim_expr fold form)
    return (
        cosine_scores_numpy(
            assigned.filter(F.col("cell").isin(probe)), q, id_col="vec_id", vec_col="v"
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def ann_topk_lsh(embeddings: DataFrame, query_vec: list[float]) -> DataFrame:
    """ANN top-``TOP_K`` over (vec_id, embedding) vectors: restrict exact
    rerank to vectors whose ``N_PLANES``-hyperplane bucket is within
    Hamming distance 1 of the query's bucket (N_PLANES+1 buckets probed),
    then brute-force cosine inside.

    Recall < 1 by construction; the candidate count drops ~2^N_PLANES-fold.
    """
    dim = min(64, len(query_vec))
    sigs = embeddings.select(
        "vec_id",
        F.col("embedding").alias("v"),
        hyperplane_signature(F.col("embedding"), N_PLANES, dim).alias("bucket"),
    )
    # query bucket computed driver-side with the same deterministic planes
    qsig = 0
    for i in range(N_PLANES):
        h = _hyperplane(dim, i)
        d = sum(float(query_vec[j]) * h[j] for j in range(dim))
        if d >= 0:
            qsig |= 1 << i
    probes = [qsig] + [qsig ^ (1 << i) for i in range(N_PLANES)]
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        sigs.filter(F.col("bucket").isin(probes))
        .select("vec_id", cosine_sim_expr(F.col("v"), q).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )
