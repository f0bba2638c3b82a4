"""Deterministic hashed text embedder + content-hash embedding dedup.

Reference: the BM25-hashed embedder produces fixed-dim vectors by hashing
terms into dimensions with TF weighting and L2-normalizing
(``pkg/embedding/bm25_embedder.go:46-64,83-293``, 384-dim default), and
the embedding pipeline dedups embedder calls by content hash
(``docs/architecture/GRAPHRAG_LESSONS_LEARNED.md:514``, G8).

Spark shape: one Arrow ``mapInPandas`` pass — tokens → portable hash %
dim → per-bucket counts → L2 norm, per batch; no model state,
bit-reproducible anywhere (DuckDB mirror in
oracles.sql_entity_semantic_topk). Query vectors run the same kernel on
the driver (``embed_text_py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.similarity import _fold_dot_np
from ..operators.textops import token_hash, word_tokens


DEFAULT_DIM = 384  # reference default (bm25_embedder.go:61-62)


def embed_texts(df: DataFrame, id_col: str) -> DataFrame:
    """(id, embedding array<double>[``DEFAULT_DIM``]) of each ``text``:
    hashed-TF embedding, L2-normalized.

    vec[i] = |{tokens t : H(t) mod dim == i}| (with multiplicity), then
    vec / ||vec||. Texts without tokens have no row.

    r6: ONE Arrow ``mapInPandas`` pass through ``_hashed_tf``, the kernel
    :func:`embed_text_py` runs too, so values are bit-identical to the
    expression form, ``embed_texts_expr`` in tests/kernel_reference.py,
    with a parity test. Why: the expression form cost three shuffles
    (token explode → (id, bucket) agg → map agg) plus a dim-wide
    interpreted transform per row (HOFs bypass codegen, guide §4.2); the
    kernel is a single map pass with no exchange — per doc O(tokens +
    dim), the same asymptotics, and no Python-boundary crossings beyond
    the one batch.
    """
    import pandas as pd

    id_t = dict(df.dtypes)[id_col]

    def gen(it):
        for pdf in it:
            if not len(pdf):
                continue
            V, has_tokens = _hashed_tf(pdf["text"], DEFAULT_DIM)
            # the expression form's explode drops token-less texts
            # entirely — replicate (parity over presence, not just values)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy()[has_tokens], "embedding": list(V[has_tokens])}
            )

    return df.select(id_col, "text").mapInPandas(
        gen, f"{id_col} {id_t}, embedding array<double>"
    )


def embed_entities_deduped(node_texts: DataFrame) -> DataFrame:
    """(entity, embedding) of (entity, text) rows at ``DEFAULT_DIM``:
    embeds each DISTINCT content hash once and
    joins back — the reference's content-addressed embedder-call dedup
    (G8). With duplicated texts (alias entities, re-crawls) this cuts
    embedder work to the unique-content count; the join back is on the
    tiny hash dim."""
    h = node_texts.select("entity", F.md5(F.col("text")).alias("chash"), "text")
    uniq = h.select("chash", "text").dropDuplicates(["chash"])
    emb = embed_texts(uniq, id_col="chash")
    return h.join(emb, "chash").select("entity", "embedding")


def _hashed_tf(texts, dim: int):
    """((m, dim) L2-normalized hashed-TF rows, (m,) has-tokens mask) of a
    batch of texts: md5-hex-prefix token hash, column-order norm fold; a
    token-less text's row is the zero vector."""
    import numpy as np

    V = np.zeros((len(texts), dim))
    for i, text in enumerate(texts):
        for t in word_tokens(text):
            V[i, token_hash(t) % dim] += 1.0
    n = np.sqrt(_fold_dot_np(V, V))
    return V / np.where(n > 0, n, 1.0)[:, None], n > 0


def embed_text_py(text: str, dim: int = DEFAULT_DIM) -> list[float]:
    """The hashed-TF embedding of one query string on the driver — the
    kernel of ``embed_texts``, so cosine against the distributed
    embeddings is engine-exact. The zero vector when it has no tokens."""
    return _hashed_tf([text], dim)[0][0].tolist()
