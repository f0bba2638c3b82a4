"""Deterministic hashed text embedder + content-hash embedding dedup.

Reference: the BM25-hashed embedder produces fixed-dim vectors by hashing
terms into dimensions with TF weighting and L2-normalizing
(``pkg/embedding/bm25_embedder.go:46-64,83-293``, 384-dim default), and
the embedding pipeline dedups embedder calls by content hash
(``docs/architecture/GRAPHRAG_LESSONS_LEARNED.md:514``, G8).

Spark shape: one Arrow ``mapInPandas`` pass — tokens → portable hash %
dim → per-bucket counts → L2 norm, per row; no model state,
bit-reproducible anywhere (DuckDB mirror in oracles.sql_entity_semantic_topk,
driver-side mirror in embed_text_py for query vectors).
"""

from __future__ import annotations

import hashlib
import math
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


DEFAULT_DIM = 384  # reference default (bm25_embedder.go:61-62)


def embed_texts(df: DataFrame, id_col: str, dim: int = DEFAULT_DIM) -> DataFrame:
    """(id, embedding array<double>[dim]) of each ``text``: hashed-TF
    embedding, L2-normalized.

    vec[i] = |{tokens t : H(t) mod dim == i}| (with multiplicity), then
    vec / ||vec||. Empty-token texts embed to the zero vector (norm guard).

    r6: ONE Arrow ``mapInPandas`` pass — per batch each row is tokenized,
    md5-bucketed and normalized exactly like :func:`embed_text_py` (the
    proven driver-side mirror: same token regex, same md5-hex-prefix hash,
    same index-order norm fold), so values are bit-identical to the
    expression form, ``embed_texts_expr`` in tests/kernel_reference.py,
    with a parity test. Why: the expression form cost three shuffles (token
    explode → (id, bucket) agg → map agg) plus a dim-wide interpreted
    transform per row (HOFs bypass codegen, guide §4.2); the kernel is a
    single map pass with no exchange — per doc O(tokens + dim), the same
    asymptotics, and no Python-boundary crossings beyond the one batch.
    """
    import numpy as np
    import pandas as pd

    id_t = dict(df.dtypes)[id_col]

    def gen(it):
        for pdf in it:
            if not len(pdf):
                continue
            ids, out = [], []
            for _id, text in zip(pdf[id_col], pdf["text"]):
                toks = [t for t in re.split(r"[^a-z0-9_]+", (text or "").lower()) if t]
                if not toks:
                    # the expression form's explode drops token-less docs
                    # entirely — replicate (parity over presence, not
                    # just values)
                    continue
                vec = np.zeros(dim)
                for t in toks:
                    vec[int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % dim] += 1.0
                acc = 0.0
                for x in vec:
                    acc = acc + x * x
                n = math.sqrt(acc)
                ids.append(_id)
                out.append(vec / n if n > 0 else vec)
            yield pd.DataFrame({id_col: ids, "embedding": out})

    return df.select(id_col, "text").mapInPandas(
        gen, f"{id_col} {id_t}, embedding array<double>"
    )


def embed_entities_deduped(node_texts: DataFrame, dim: int = DEFAULT_DIM) -> DataFrame:
    """(entity, embedding) of (entity, text) rows: embeds each DISTINCT
    content hash once and
    joins back — the reference's content-addressed embedder-call dedup
    (G8). With duplicated texts (alias entities, re-crawls) this cuts
    embedder work to the unique-content count; the join back is on the
    tiny hash dim."""
    h = node_texts.select("entity", F.md5(F.col("text")).alias("chash"), "text")
    uniq = h.select("chash", "text").dropDuplicates(["chash"])
    emb = embed_texts(uniq, id_col="chash", dim=dim)
    return h.join(emb, "chash").select("entity", "embedding")


def embed_text_py(text: str, dim: int = DEFAULT_DIM) -> list[float]:
    """Driver-side mirror of embed_texts for a single query string —
    identical hash (md5-hex-prefix) and identical fold order, so cosine
    against the distributed embeddings is engine-exact."""
    toks = [t for t in re.split(r"[^a-z0-9_]+", text.lower()) if t]
    vec = [0.0] * dim
    for t in toks:
        vec[int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % dim] += 1.0
    acc = 0.0
    for x in vec:
        acc = acc + x * x
    n = math.sqrt(acc)
    return [x / n for x in vec] if n > 0 else vec
