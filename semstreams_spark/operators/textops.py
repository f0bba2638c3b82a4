"""Text-analysis operators for training-data pipelines.

All pure Catalyst expressions (JVM-side, codegen). The term hash is
engine-portable (md5-hex-prefix → bigint) so every operator here has an
exact DuckDB oracle — unlike xxhash64/murmur3 which differ per engine.

Reference parallels: TF term ranking ``pkg/graphclustering/summarizer.go
:86-157``; hashed term→dim ``pkg/embedding/bm25_embedder.go:285-291``;
content hash ``message/base_message.go:151-171``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword sets for the n-gram/stopword lang-id heuristic
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "un", "es", "por"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"],
}


def portable_hash(col: Column) -> Column:
    """Deterministic 60-bit hash identical in Spark and DuckDB:
    conv(substr(md5(x),1,15),16,10). Slower than xxhash64 — use xxhash64
    in scale paths that don't need a cross-engine oracle."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def tokens(col: Column) -> Column:
    """Lowercased word tokens (array<string>)."""
    return F.filter(
        F.split(F.lower(col), "[^a-z0-9_]+"), lambda t: F.length(t) > 0
    )


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text
    (content-addressed identity; reference SHA-256 content hash)."""
    norm = F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))
    return F.md5(norm)


def lang_id_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, detected_lang) of each ``text``: stopword-voting language ID —
    the language whose stopwords appear most (≥2 hits required), else
    'und', ties to the smallest language code — as an Arrow
    ``mapInPandas`` pass. The expression form (``lang_id`` in
    tests/kernel_reference.py) runs one interpreted filter/array_contains
    HOF per language per row (HOFs bypass codegen); the kernel counts
    stopword hits per batch in Python sets; same rows (parity test
    test_lang_id_table_matches_expr)."""
    import re as _re

    import pandas as pd

    id_t = dict(docs.dtypes)[id_col]
    split = _re.compile(r"[^a-z0-9_]+")
    langs = sorted(LANG_STOPWORDS.items())
    sets = [(lang, frozenset(words)) for lang, words in langs]

    def gen(it):
        for pdf in it:
            if not len(pdf):
                continue
            out = []
            for text in pdf["text"]:
                toks = [t for t in split.split((text or "").lower()) if t]
                best_lang, best = "und", 0
                for lang, sw in sets:
                    s = 0
                    for t in toks:
                        if t in sw:
                            s += 1
                    if s > best:  # first max in sorted order == min code
                        best, best_lang = s, lang
                out.append(best_lang if best >= 2 else "und")
            yield pd.DataFrame({id_col: pdf[id_col], "detected_lang": out})

    return docs.select(id_col, "text").mapInPandas(
        gen, f"{id_col} {id_t}, detected_lang string"
    )


def quality_features(docs: DataFrame) -> DataFrame:
    """Per-doc quality features of ``text``: token count, char count, mean
    token length, punctuation ratio, stopword ratio, uniq-token ratio."""
    t = tokens(F.col("text"))
    n_tok = F.size(t)
    n_chars = F.length("text")
    en_stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    return docs.select(
        "*",
        n_tok.alias("n_tokens"),
        (n_chars.cast("double") / n_tok).alias("avg_token_len"),
        (
            F.length(F.regexp_replace(F.col("text"), "[a-zA-Z0-9 ]", "")).cast("double")
            / n_chars
        ).alias("punct_ratio"),
        (F.size(F.array_intersect(t, en_stop)).cast("double") / n_tok).alias("stopword_hit_ratio"),
        (F.size(F.array_distinct(t)).cast("double") / n_tok).alias("uniq_token_ratio"),
    )


GEO_MULTIPLIERS = {4: 10, 5: 50, 6: 100, 7: 300, 8: 1000}


def synthetic_coords(df: DataFrame, id_col: str = "id") -> DataFrame:
    """Deterministic hash-derived (lat, lon) per id — the engine's node
    model carries no coordinates (the transcript input has none), so the
    spatial surface is exercised on reproducible synthetic coordinates:
    lat = (H(id||':lat') mod 1800000)/10000 - 90 ∈ [-90, 90), lon
    similarly over [-180, 180). Integer-derived doubles — exact and
    identical in any engine (DuckDB mirror in oracles.sql_spatial_bbox)."""
    lat = (portable_hash(F.concat(F.col(id_col), F.lit(":lat"))) % 1_800_000) / F.lit(10000.0) - F.lit(90.0)
    lon = (portable_hash(F.concat(F.col(id_col), F.lit(":lon"))) % 3_600_000) / F.lit(10000.0) - F.lit(180.0)
    return df.withColumn("lat", lat).withColumn("lon", lon)


def geo_bin(lat: Column, lon: Column, precision: int = 7) -> Column:
    """Bin-based geohash key (reference `indexmanager/indexes.go:1015-1044`):
    'geo_{p}_{latInt}_{lonInt}' with the precision→multiplier table
    (precision 7 ≈ 30 m). A generated partition column of this form gives
    free spatial partition pruning."""
    m = GEO_MULTIPLIERS[precision]
    return F.concat(
        F.lit(f"geo_{precision}_"),
        F.floor((lat + 90.0) * m).cast("long").cast("string"),
        F.lit("_"),
        F.floor((lon + 180.0) * m).cast("long").cast("string"),
    )
