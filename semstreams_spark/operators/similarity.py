"""Similarity search over embedding columns (array<float>).

Reference: brute-force cosine semantic search
(``indexmanager/semantic.go:240-377``), vector math
(``pkg/embedding/vector.go:16-100``).

Every kernel here is an Arrow ``mapInPandas`` pass built on one
column-order float64 fold (``_fold_dot_np``), with the cosine
(``cosine_np``) and the hyperplane sign bits (``sign_bits``) on top of
it, so Spark, numpy and the DuckDB oracles agree bit for bit. The
Catalyst fold forms they replace are test references
(tests/kernel_reference.py).

- brute-force top-k: one cosine per vector; O(N·d) per query, fine when
  the query set is small or the corpus is pre-filtered (hybrid search).
- LSH (random hyperplane) ANN: deterministic hash-derived hyperplanes (no
  stored model), a probe filter on the sign-bit bucket, exact rerank
  inside the probed buckets; probes = Hamming-adjacent buckets.
- IVF ANN: k-means cells, probe the nearest cells, exact rerank.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# rows each top-k search returns
TOP_K = 10
# IVF cells probed per query, and hyperplanes of the LSH bucket
N_PROBE, N_PLANES = 4, 12
# leading vector components each hyperplane reads
SIG_DIM = 64
# recall that lsh_band_params sizes the band count for
TARGET_RECALL = 0.95


def _fold_dot_np(V, W):
    """Column-order sequential-fold dot products over the last axis of two
    float64 arrays that broadcast against each other, so ``(m, d)·(m, d)``
    gives ``(m,)`` and ``(m, 1, d)·(1, c, d)`` gives ``(m, c)`` —
    bit-identical to Catalyst's ``aggregate(zip_with(a, b, *), 0.0, acc +
    x)`` and to the DuckDB oracles' ``list_reduce``, because every
    element's accumulator passes through the same float64 additions in the
    same order. The one fold of the package's kernels."""
    acc = 0.0
    for k in range(V.shape[-1]):
        acc = acc + V[..., k] * W[..., k]
    return acc


def cosine_np(A, B):
    """Cosines over the last axis of two broadcasting float64 arrays:
    ``dot / (|A| · |B|)``, each term a column-order fold."""
    import numpy as np

    return _fold_dot_np(A, B) / (np.sqrt(_fold_dot_np(A, A)) * np.sqrt(_fold_dot_np(B, B)))


def sign_bits(V, planes):
    """Hyperplane sign-bit signatures: bit j is ``v·plane_j >= 0``
    (column-order fold) over the last two axes of the plane stack ``(...,
    p, d)``. Vectors ``(m, d)`` against ``(p, d)`` give one signature per
    vector; ``(m, 1, d)`` against ``(bands, r, d)`` one per vector and
    band. A NaN dot sets its bit, as Spark's ordering (NaN above every
    number) and the oracle's ``dot >= 0`` do."""
    import numpy as np

    dots = _fold_dot_np(V[..., None, :], planes)
    return ((~(dots < 0)).astype(np.int64) << np.arange(planes.shape[-2])).sum(axis=-1)


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
    evaluations per row). Values are BIT-IDENTICAL to the Catalyst
    ``cosine_sim_expr`` (tests/kernel_reference.py) — asserted by
    tests/test_dedup_similarity.py::test_cosine_numpy_matches_catalyst."""
    import numpy as np
    import pandas as pd

    q = [float(x) for x in query_vec]

    def gen(it):
        Q = np.asarray(q, dtype=np.float64)
        for pdf in it:
            if not len(pdf):
                continue
            cos = cosine_np(_stack_f64(pdf[vec_col]), Q)
            yield pd.DataFrame({"vec_id": pdf[id_col], "cosine": cos})

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
    through the Arrow numpy kernel ``cosine_scores_numpy``."""
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


def _planes(n_planes: int, dim: int):
    """The first ``n_planes`` hyperplanes of ``dim`` components, (n, dim)."""
    import numpy as np

    return np.asarray([_hyperplane(dim, i) for i in range(n_planes)], dtype=np.float64)


def lsh_band_params(threshold: float, rows_per_band: int = 10) -> int:
    """Minimal band count b such that OR-of-ANDs banded hyperplane LSH
    recalls a pair at cosine == threshold with probability ≥
    ``TARGET_RECALL``.

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
    while 1.0 - (1.0 - pr) ** b < TARGET_RECALL:
        b += 1
        if b > 64:
            raise ValueError(f"no b ≤ 64 reaches recall {TARGET_RECALL} at r={rows_per_band}")
    return b


def banded_signatures_numpy(embeddings: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(vec_id, band, sig) of (vec_id, v) vectors — the exploded form of
    ``banded_hyperplane_signatures`` (tests/kernel_reference.py) computed
    by an Arrow numpy kernel. Band i's signature packs the sign bits of
    planes [i·r, (i+1)·r) over the leading ``SIG_DIM`` components.

    The Catalyst form evaluates bands·rows_per_band interpreted fold
    lambdas of ``SIG_DIM`` terms per row (HOFs bypass codegen); here the
    deterministic plane family is materialized driver-side once and each
    batch runs the same per-element fold, so the sign bits (and hence
    every bucket key) are IDENTICAL (parity test
    tests/test_dedup_similarity.py::test_banded_signatures_numpy_parity)."""
    import numpy as np
    import pandas as pd

    planes = _planes(bands * rows_per_band, SIG_DIM).reshape(bands, rows_per_band, SIG_DIM)

    def gen(it):
        for pdf in it:
            if not len(pdf):
                continue
            sigs = sign_bits(_stack_f64(pdf["v"])[:, None, :SIG_DIM], planes)  # (m, bands)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), bands),
                    "band": np.tile(np.arange(bands, dtype=np.int32), len(pdf)),
                    "sig": sigs.reshape(-1),
                }
            )

    return embeddings.select("vec_id", "v").mapInPandas(
        gen, f"vec_id {dict(embeddings.dtypes)['vec_id']}, band int, sig long"
    )


def assign_ivf_cells(
    embeddings: DataFrame, centroids: list[tuple[int, list[float]]]
) -> DataFrame:
    """(vec_id, v, cell): assign each (vec_id, embedding) vector to its
    max-cosine centroid (min-cell-index tie-break) in one map-only Arrow
    pass whose plan is constant-size in the codebook.

    Per-element float64 operation order replays the Catalyst fold exactly
    (column-order accumulation; argmax-first == min-cell-index tie-break
    == the array_max(struct(s, -cell)) ordering), so assignments are
    IDENTICAL — parity test test_assign_ivf_cells_numpy_parity. The
    earlier expression forms paid Catalyst analysis time ~quadratic in
    the codebook (n_cells = √N): 14 s of planning at 44 cells."""
    import numpy as np
    import pandas as pd

    cells = np.asarray([int(ci) for ci, _ in centroids], dtype=np.int32)
    C = np.asarray([cvec for _, cvec in centroids], dtype=np.float64)  # (c, d)

    def gen(it):
        for pdf in it:
            if not len(pdf):
                continue
            sims = cosine_np(_stack_f64(pdf["embedding"])[:, None, :], C)  # (m, c)
            best = sims.argmax(axis=1)  # first max ⇒ min cell index
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "v": pdf["embedding"], "cell": cells[best]})

    in_t = dict(embeddings.dtypes)
    return embeddings.select(F.col("vec_id"), F.col("embedding")).mapInPandas(
        gen, f"vec_id {in_t['vec_id']}, v {in_t['embedding']}, cell int"
    )


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


def ann_topk_ivf(embeddings: DataFrame, query_vec: list[float]) -> DataFrame:
    """IVF (inverted-file) ANN over (vec_id, embedding) vectors: k-means
    coarse quantizer cells + probe-and-rerank — the data-adaptive
    alternative to the hyperplane LSH variant.

    Centroids come from deterministic spherical k-means over a
    hash-ordered sample of 1024 vectors (train_ivf_centroids — fixed
    iterations, fixed order, reproducible on any engine); the codebook
    has ≈√N cells (one count action). Every vector joins its max-cosine
    cell in ONE broadcast map pass; a query probes its ``N_PROBE``
    nearest cells and reranks exactly inside them for the top ``TOP_K``,
    scanning ~N_PROBE/n_cells of the corpus.
    At 100 TB the assignment is map-only and the probe filter prunes
    cell-partitioned files.

    Deterministic end-to-end: sample, training, assignment tie-breaks
    (min cell index), probe order, and the final (cosine desc, id asc)
    rerank (exact DuckDB oracle: oracles.sql_ivf_topk)."""
    import numpy as np

    n_cells = max(1, int(math.isqrt(embeddings.count())))
    centroids = train_ivf_centroids(ivf_sample(embeddings, 1024), n_cells)
    assigned = assign_ivf_cells(embeddings, list(enumerate(centroids)))

    q = [float(x) for x in query_vec]
    cos = cosine_np(np.asarray(q, dtype=np.float64), np.asarray(centroids, dtype=np.float64))
    probe = sorted(range(len(centroids)), key=lambda i: (-cos[i], i))[:N_PROBE]
    # exact rerank inside the probed cells via the numpy cosine kernel
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

    One Arrow pass computes each vector's bucket, applies the probe
    filter and computes the cosine of the survivors; the query's bucket
    comes from the same ``sign_bits``. Rows are identical to the Catalyst
    composition (``ann_topk_lsh_expr`` in tests/kernel_reference.py).
    Recall < 1 by construction; the candidate count drops ~2^N_PLANES-fold.
    """
    import numpy as np
    import pandas as pd

    dim = min(SIG_DIM, len(query_vec))
    planes = _planes(N_PLANES, dim)
    q = np.asarray(query_vec, dtype=np.float64)
    qsig = int(sign_bits(q[:dim], planes))
    probes = np.asarray([qsig] + [qsig ^ (1 << i) for i in range(N_PLANES)], dtype=np.int64)

    def gen(it):
        for pdf in it:
            if not len(pdf):
                continue
            V = _stack_f64(pdf["embedding"])
            hit = np.isin(sign_bits(V[:, :dim], planes), probes)
            if hit.any():
                yield pd.DataFrame(
                    {"vec_id": pdf["vec_id"].to_numpy()[hit], "cosine": cosine_np(V[hit], q)}
                )

    return (
        embeddings.select("vec_id", "embedding")
        .mapInPandas(gen, f"vec_id {dict(embeddings.dtypes)['vec_id']}, cosine double")
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )
