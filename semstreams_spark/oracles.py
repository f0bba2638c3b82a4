"""DuckDB oracle SQL for the driver's correctness gate.

Each query in ``__spark_entry__.queries()`` has an equivalent ANSI-SQL
string here, one ``sql_*`` function per query (``sql_bm25_topk`` serves
two), runnable by DuckDB over the same parquet inputs. The TPC-H,
documents and events queries read the driver's pre-registered views by
name; the media queries recompute the synthetic payloads from their
generator contract. The transcript table is this repo's deterministic
synthetic input (the driver's pre-registered views don't include
transcripts), addressed via ``read_parquet('<abs path>')``.

Determinism rules baked into every query pair:
- double aggregates go through exact DECIMAL sums, then CAST to DOUBLE
  (summation order differs between engines; decimal makes it exact)
- all orderings carry full deterministic tie-breaks
- window starts are epoch-aligned in both engines
"""

from __future__ import annotations

import math

from .datagen.transcripts import aliases_path, transcripts_path

MENTION_SQL_RE = "@entity:([a-z0-9_]+)"


def transcripts_rel(sf: float) -> str:
    return f"read_parquet('{transcripts_path(sf)}')"


def aliases_rel(sf: float) -> str:
    return f"read_parquet('{aliases_path(sf)}')"


def triples_cte(sf: float) -> str:
    """WITH-clause body producing the exact triple set of
    ``extract_triples`` (columns: subject predicate object object_type
    source ts confidence context seq)."""
    rel = transcripts_rel(sf)
    return f"""
_t AS (SELECT * FROM {rel}),
_b AS (
  SELECT 'test.local.conv.' || conv_id || '.turn.' || CAST(turn_idx AS VARCHAR) AS subject,
         conv_id, turn_idx, role, text, tool, ts
  FROM _t
),
triples AS MATERIALIZED (
  -- MATERIALIZED: the UNNEST branch otherwise streams tiny chunks to the
  -- client, making result fetch pathologically slow (~50x)
  SELECT subject, 'rdf:type' AS predicate, 'conv.turn' AS object, 'string' AS object_type,
         'transcript_extractor' AS source, ts, 1.0::DOUBLE AS confidence, conv_id AS context, CAST(turn_idx AS INT) AS seq FROM _b
  UNION ALL
  SELECT subject, 'conv.turn.role', role, 'string', 'transcript_extractor', ts, 1.0::DOUBLE, conv_id, CAST(turn_idx AS INT) FROM _b
  UNION ALL
  SELECT subject, 'conv.turn.text', text, 'string', 'transcript_extractor', ts, 1.0::DOUBLE, conv_id, CAST(turn_idx AS INT) FROM _b
  UNION ALL
  SELECT subject, 'conv.turn.tool', tool, 'string', 'transcript_extractor', ts, 1.0::DOUBLE, conv_id, CAST(turn_idx AS INT) FROM _b WHERE tool IS NOT NULL
  UNION ALL
  SELECT subject, 'conv.turn.in', 'test.local.graph.kb.conversation.' || conv_id, 'entity_ref', 'transcript_extractor', ts, 1.0::DOUBLE, conv_id, CAST(turn_idx AS INT) FROM _b
  UNION ALL
  SELECT subject, 'conv.turn.mentions',
         'test.local.graph.kb.entity.' || unnest(regexp_extract_all(text, '{MENTION_SQL_RE}', 1)),
         'entity_ref', 'transcript_extractor', ts, 1.0::DOUBLE, conv_id, CAST(turn_idx AS INT) FROM _b
)"""


def sql_triples_extract(sf: float) -> str:
    return f"WITH {triples_cte(sf)} SELECT * FROM triples"


def sql_entity_states(sf: float) -> str:
    return f"""WITH {triples_cte(sf)},
ranked AS (
  SELECT subject, predicate, object, object_type, source, ts, confidence, context,
         ROW_NUMBER() OVER (PARTITION BY subject, predicate ORDER BY ts DESC, seq DESC, object DESC) AS rn
  FROM triples
)
SELECT subject, predicate, object, object_type, source, ts, confidence, context
FROM ranked WHERE rn = 1"""


def sql_graph_nodes(sf: float) -> str:
    return f"""WITH {triples_cte(sf)}
SELECT subject AS id,
       split_part(subject, '.', 5) AS type,
       'active' AS status,
       COUNT(DISTINCT (ts, seq)) AS version,
       MAX(ts) AS updated_at
FROM triples GROUP BY subject"""


_EDGE_TYPE_SQL = (
    "CASE WHEN len(str_split(predicate, '.')) >= 2 THEN "
    "str_split(predicate, '.')[-1] || '_' || str_split(predicate, '.')[-2] "
    "ELSE predicate END"
)


def sql_graph_edges(sf: float) -> str:
    return f"""WITH {triples_cte(sf)},
rel AS (
  SELECT subject AS src, object AS dst, {_EDGE_TYPE_SQL} AS edge_type, confidence, ts
  FROM triples WHERE object_type = 'entity_ref'
)
SELECT src, dst, edge_type,
       arg_max(confidence, ts) AS weight,
       MIN(ts) AS created_at, MAX(ts) AS updated_at,
       COUNT(*) AS n_obs
FROM rel GROUP BY src, dst, edge_type"""


def sql_edges_resolved(sf: float) -> str:
    """Mention edges with dst resolved through the alias dim (J1)."""
    return f"""WITH {triples_cte(sf)},
al AS (SELECT alias, entity_name FROM {aliases_rel(sf)}),
rel AS (
  SELECT subject AS src, object AS dst, {_EDGE_TYPE_SQL} AS edge_type, ts
  FROM triples WHERE object_type = 'entity_ref'
),
res AS (
  SELECT r.src,
         COALESCE('test.local.graph.kb.entity.' || a.entity_name, r.dst) AS dst,
         r.edge_type, r.ts
  FROM rel r LEFT JOIN al a
    ON r.dst = 'test.local.graph.kb.entity.' || a.alias
)
SELECT src, dst, edge_type, MIN(ts) AS created_at, COUNT(*) AS n_obs
FROM res GROUP BY src, dst, edge_type"""


def sql_turn_prior(sf: float) -> str:
    return f"""SELECT conv_id, turn_idx, role, text, ts,
       lag(text) OVER w AS prev_text,
       lag(role) OVER w AS prev_role,
       lag(ts)   OVER w AS prev_ts
FROM {transcripts_rel(sf)}
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)"""


def sql_tool_corr(sf: float) -> str:
    return f"""WITH base AS (
  SELECT conv_id, turn_idx, role, tool, ts,
         last_value(CASE WHEN role <> 'tool' THEN turn_idx END IGNORE NULLS)
           OVER w AS req_turn_idx,
         last_value(CASE WHEN role <> 'tool' THEN role END IGNORE NULLS)
           OVER w AS req_role,
         last_value(CASE WHEN role <> 'tool' THEN ts END IGNORE NULLS)
           OVER w AS req_ts
  FROM {transcripts_rel(sf)}
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT conv_id, turn_idx, tool, ts, req_turn_idx, req_role, req_ts
FROM base WHERE role = 'tool'"""


def sql_sessions(sf: float, gap_minutes: int = 30) -> str:
    gap_s = gap_minutes * 60
    return f"""WITH o AS (
  SELECT conv_id, turn_idx, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {gap_s}::BIGINT * 1000000 THEN 1 ELSE 0 END AS new_session
  FROM {transcripts_rel(sf)}
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
),
s AS (
  SELECT conv_id, ts,
         CAST(SUM(new_session) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM o
)
SELECT conv_id, session_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_turns
FROM s GROUP BY conv_id, session_id"""


def _win_start_sql(col: str, width_s: int) -> str:
    return f"make_timestamp(CAST(floor(epoch({col}) / {width_s}) AS BIGINT) * {width_s} * 1000000)"


def sql_degree_tumbling(sf: float, width_s: int = 300) -> str:
    """In-degree of each mentioned entity per 5-min tumbling window."""
    return f"""WITH {triples_cte(sf)},
m AS (
  SELECT object AS entity, subject AS turn, context AS conv_id, ts
  FROM triples WHERE predicate = 'conv.turn.mentions'
)
SELECT {_win_start_sql('ts', width_s)} AS window_start,
       entity AS src,
       COUNT(*) AS out_degree,
       COUNT(DISTINCT turn) AS distinct_dst
FROM m GROUP BY 1, 2"""


def sql_cooccur(sf: float, width_s: int = 300) -> str:
    return f"""WITH {triples_cte(sf)},
m AS (
  SELECT DISTINCT {_win_start_sql('ts', width_s)} AS window_start,
         context AS conv_id,
         str_split(object, '.')[-1] AS entity
  FROM triples WHERE predicate = 'conv.turn.mentions'
)
SELECT a.window_start, a.entity AS e1, b.entity AS e2, COUNT(*) AS cooccur_count
FROM m a JOIN m b
  ON a.window_start = b.window_start AND a.conv_id = b.conv_id AND a.entity < b.entity
GROUP BY 1, 2, 3"""


_TOKS = "list_filter(str_split_regex(lower(text), '[^a-z0-9_]+'), x -> len(x) > 0)"


def sql_text_lang_id() -> str:
    """Stopword-voting lang id — mirrors textops.lang_id_table exactly
    (occurrence counts, ≥2 threshold, alphabetical tie-break)."""
    from .operators.textops import LANG_STOPWORDS

    counts = []
    for lang, words in sorted(LANG_STOPWORDS.items()):
        arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        counts.append(
            f"len(list_filter({_TOKS}, x -> list_contains({arr}, x))) AS s_{lang}"
        )
    langs = sorted(LANG_STOPWORDS)
    best = "greatest(" + ", ".join(f"s_{x}" for x in langs) + ")"
    case = "CASE " + " ".join(f"WHEN s_{x} = best THEN '{x}'" for x in langs[:-1]) + f" ELSE '{langs[-1]}' END"
    return f"""WITH c AS (SELECT doc_id, {', '.join(counts)} FROM documents),
b AS (SELECT doc_id, {best} AS best, * FROM c)
SELECT doc_id, CASE WHEN best >= 2 THEN {case} ELSE 'und' END AS detected_lang FROM b"""


def sql_doc_fingerprint() -> str:
    return r"""SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
FROM documents"""


def sql_doc_quality() -> str:
    return f"""WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
SELECT doc_id,
       len(toks) AS n_tokens,
       CAST(length(text) AS DOUBLE) / len(toks) AS avg_token_len,
       CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
       CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_token_ratio
FROM t"""


def sql_jaccard_pairs(threshold: float = 0.5) -> str:
    """Word-3-gram Jaccard pairs — mirrors dedup.jaccard_pairs."""
    return f"""WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                ELSE list_transform(range(1, len(toks) - 1),
                                    i -> array_to_string(list_slice(toks, i, i + 2), ' '))
                END) AS shingle
  FROM t
),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common, sa.set_size AS size_a, sb.set_size AS size_b,
       CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= {threshold}"""


def sql_cosine_topk(query_vec: list[float], k: int = 10, exclude_id: int = 0) -> str:
    """Brute-force cosine top-k vs a literal query vector; sequential
    left-fold sums in both engines, rounded to 6dp."""
    dim = len(query_vec)
    qlit = "[" + ", ".join(repr(float(x)) for x in query_vec) + "]::DOUBLE[]"
    return f"""WITH q AS (SELECT {qlit} AS qv),
s AS (
  SELECT vec_id,
         list_sum(list_transform(range(1, {dim + 1}), i -> embedding[i]::DOUBLE * qv[i])) AS dot,
         sqrt(list_sum(list_transform(range(1, {dim + 1}), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS na,
         sqrt(list_sum(list_transform(range(1, {dim + 1}), i -> qv[i] * qv[i]))) AS nb
  FROM embeddings, q
  WHERE vec_id <> {exclude_id}
)
SELECT vec_id, round(dot / (na * nb), 6) AS cosine
FROM s ORDER BY dot / (na * nb) DESC, vec_id ASC LIMIT {k}"""


def _fold_sum(items_expr: str) -> str:
    """Sequential left-fold sum — bit-identical to Spark's F.aggregate
    (0.0 + x1 + x2 + ...; IEEE 0.0+x == x so the missing init is exact)."""
    return f"list_reduce({items_expr}, (a, b) -> a + b)"


def _bucket_sql(col: str, n_planes: int, dim: int = 64, start: int = 0) -> str:
    """Hyperplane sign-bit bucket — mirrors similarity.sign_bits with
    sequential folds so the sign bits are fp-identical across engines.
    `start` offsets the plane family (band i of the banded form uses
    planes [i*r, (i+1)*r) with bit positions 0..r-1)."""
    from .operators.similarity import _hyperplane

    bits = []
    for i in range(n_planes):
        h = _hyperplane(dim, start + i)
        hlit = "[" + ", ".join(repr(v) for v in h) + "]::DOUBLE[]"
        dot = _fold_sum(f"list_transform(range(1, {dim + 1}), j -> {col}[j]::DOUBLE * ({hlit})[j])")
        bits.append(f"(CASE WHEN {dot} >= 0 THEN 1::BIGINT ELSE 0::BIGINT END << {i})")
    return " + ".join(bits)


def sql_ann_topk(query_vec: list[float], k: int = 10, n_planes: int = 12) -> str:
    """Hyperplane-LSH ANN oracle — mirrors similarity.ann_topk_lsh exactly:
    deterministic md5-seeded Gaussian hyperplanes, sign-bit bucket,
    Hamming-1 probe set, exact cosine rerank inside probed buckets."""
    from .operators.similarity import _hyperplane

    dim = min(64, len(query_vec))
    qlit = "[" + ", ".join(repr(float(x)) for x in query_vec) + "]::DOUBLE[]"
    qsig = 0
    for i in range(n_planes):
        h = _hyperplane(dim, i)
        if sum(float(query_vec[j]) * h[j] for j in range(dim)) >= 0:
            qsig |= 1 << i
    probes = [qsig] + [qsig ^ (1 << i) for i in range(n_planes)]
    probe_list = ", ".join(str(p) for p in probes)
    bucket = _bucket_sql("embedding", n_planes, dim)
    qdim = len(query_vec)
    dot_q = _fold_sum(f"list_transform(range(1, {qdim + 1}), j -> embedding[j]::DOUBLE * qv[j])")
    na = f"sqrt({_fold_sum(f'list_transform(range(1, {qdim + 1}), j -> embedding[j]::DOUBLE * embedding[j]::DOUBLE)')})"
    nb = f"sqrt({_fold_sum(f'list_transform(range(1, {qdim + 1}), j -> qv[j] * qv[j])')})"
    return f"""WITH q AS (SELECT {qlit} AS qv),
sig AS (
  SELECT vec_id, embedding, {bucket} AS bucket
  FROM embeddings
),
cand AS (
  SELECT vec_id, {dot_q} / ({na} * {nb}) AS cosine
  FROM sig, q WHERE bucket IN ({probe_list})
)
SELECT vec_id, round(cosine, 6) AS cosine
FROM cand ORDER BY cosine DESC, vec_id ASC LIMIT {k}"""


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


def sql_ivf_topk(
    sf_dir: str,
    query_vec: list[float],
    k: int = 10,
    n_cells: int | None = 16,
    n_probe: int = 4,
    sample_n: int = 1024,
    n_iters: int = 5,
) -> str:
    """IVF ANN oracle — mirrors similarity.ann_topk_ivf: the SAME
    hash-ordered sample (md5(vec_id::varchar), vec_id) and the SAME
    deterministic spherical k-means (train_ivf_centroids) produce
    bit-identical centroid literals; then max-cosine cell assignment with
    min-index tie-break via an ordered list_reduce, driver-identical
    probe selection, exact rerank."""
    import math as _math
    import os as _os

    import duckdb as _duckdb

    from .operators.similarity import train_ivf_centroids

    p = _os.path.join(sf_dir, "embeddings.parquet")
    if n_cells is None:
        (n,) = _duckdb.sql(f"SELECT count(*) FROM read_parquet('{p}')").fetchone()
        n_cells = max(1, _math.isqrt(n))
    rows = _duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{p}') "
        f"ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {sample_n}"
    ).fetchall()
    sample = [[float(x) for x in r[1]] for r in rows]
    centroids = train_ivf_centroids(sample, n_cells, n_iters)
    dim = len(query_vec)

    q = [float(x) for x in query_vec]
    # len(centroids) may be < n_cells on tiny corpora — match ann_topk_ivf
    probe = sorted(range(len(centroids)), key=lambda i: (-_cos_py(q, centroids[i]), i))[:n_probe]

    structs = []
    for ci, cvec in enumerate(centroids):
        clit = "[" + ", ".join(repr(v) for v in cvec) + "]::DOUBLE[]"
        dot = _fold_sum(f"list_transform(range(1, {dim + 1}), j -> embedding[j]::DOUBLE * ({clit})[j])")
        na = f"sqrt({_fold_sum(f'list_transform(range(1, {dim + 1}), j -> embedding[j]::DOUBLE * embedding[j]::DOUBLE)')})"
        nb = _math.sqrt(sum(v * v for v in cvec))
        structs.append(f"{{'s': {dot} / ({na} * {nb!r}), 'ni': {-ci}}}")
    slist = "[" + ", ".join(structs) + "]"
    best = (
        f"list_reduce({slist}, (a, b) -> CASE WHEN b.s > a.s OR (b.s = a.s AND b.ni > a.ni) "
        "THEN b ELSE a END)"
    )
    qlit = "[" + ", ".join(repr(x) for x in q) + "]::DOUBLE[]"
    dot_q = _fold_sum(f"list_transform(range(1, {dim + 1}), j -> embedding[j]::DOUBLE * qv[j])")
    na_q = f"sqrt({_fold_sum(f'list_transform(range(1, {dim + 1}), j -> embedding[j]::DOUBLE * embedding[j]::DOUBLE)')})"
    nb_q = f"sqrt({_fold_sum(f'list_transform(range(1, {dim + 1}), j -> qv[j] * qv[j])')})"
    probe_list = ", ".join(str(c) for c in probe)
    return f"""WITH a AS (
  SELECT vec_id, embedding, -({best}).ni AS cell FROM embeddings
),
q AS (SELECT {qlit} AS qv),
cand AS (
  SELECT vec_id, {dot_q} / ({na_q} * {nb_q}) AS cosine
  FROM a, q WHERE cell IN ({probe_list})
)
SELECT vec_id, round(cosine, 6) AS cosine
FROM cand ORDER BY cosine DESC, vec_id ASC LIMIT {k}"""


def sql_embedding_neardup_lsh(
    threshold: float = 0.95,
    bands: int | None = None,
    rows_per_band: int = 10,
    dim: int = 64,
    plant_cos: tuple[float, ...] = (0.9501, 0.9601, 0.9801),
) -> str:
    """BANDED hyperplane-LSH embedding near-dup oracle — mirrors
    dedup.embedding_near_dups (b bands × r planes, OR-of-ANDs) over a
    corpus with exact-rotation plants: every 10th vector v re-added at
    vec_id+1000000 as v' = ct·v̂ + st·û (û = unit Gram-Schmidt residual
    of roll(v) against v̂ — a per-vector pseudo-random direction, see
    __spark_entry__.planted_neardup_corpus), ct cycling plant_cos by
    (vec_id//10) % 3 — so cos(v, v') == ct exactly (up to one float
    rounding). Candidates = pairs sharing ANY band signature, then exact
    cosine verify.

    Defaults are DERIVED through the same ``lsh_band_params`` call the
    operator uses (``dedup.embedding_near_dups``), so calling both sides
    with defaults can never produce mismatched (b, r) configurations."""
    import math as _math

    if bands is None:
        from .operators.similarity import lsh_band_params

        bands = lsh_band_params(threshold, rows_per_band)
    ct = (
        "CASE (vec_id // 10) % 3 "
        + " ".join(f"WHEN {i} THEN {repr(float(c))}" for i, c in enumerate(plant_cos[:2]))
        + f" ELSE {repr(float(plant_cos[2]))} END"
    )
    st = (
        "CASE (vec_id // 10) % 3 "
        + " ".join(
            f"WHEN {i} THEN {repr(_math.sqrt(1.0 - c * c))}" for i, c in enumerate(plant_cos[:2])
        )
        + f" ELSE {repr(_math.sqrt(1.0 - plant_cos[2] ** 2))} END"
    )
    nv = f"sqrt({_fold_sum(f'list_transform(range(1, {dim + 1}), j -> embedding[j]::DOUBLE * embedding[j]::DOUBLE)')})"
    # u0 = roll(v): u0[j] = v[(j % dim) + 1]; s = u0·v̂; w = u0 - s·v̂
    s_expr = _fold_sum(
        f"list_transform(range(1, {dim + 1}), "
        f"j -> embedding[(j % {dim}) + 1]::DOUBLE * (embedding[j]::DOUBLE / nv))"
    )
    sig_cols = ",\n         ".join(
        f"{_bucket_sql('embedding', rows_per_band, dim, start=b * rows_per_band)} AS s{b}"
        for b in range(bands)
    )
    any_band = " OR ".join(f"l.s{b} = r.s{b}" for b in range(bands))
    dot = _fold_sum(
        f"list_transform(range(1, {dim + 1}), j -> l.embedding[j]::DOUBLE * r.embedding[j]::DOUBLE)"
    )
    nl = f"sqrt({_fold_sum(f'list_transform(range(1, {dim + 1}), j -> l.embedding[j]::DOUBLE * l.embedding[j]::DOUBLE)')})"
    nr = f"sqrt({_fold_sum(f'list_transform(range(1, {dim + 1}), j -> r.embedding[j]::DOUBLE * r.embedding[j]::DOUBLE)')})"
    return f"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
geom AS MATERIALIZED (
  SELECT vec_id, embedding, {ct} AS ct, {st} AS st, {nv} AS nv
  FROM base WHERE vec_id % 10 = 0
),
geom2 AS MATERIALIZED (
  SELECT vec_id, embedding, ct, st, nv, {s_expr} AS s
  FROM geom
),
geom3 AS MATERIALIZED (
  SELECT vec_id, embedding, ct, st, nv,
         list_transform(range(1, {dim + 1}),
           j -> embedding[(j % {dim}) + 1]::DOUBLE - s * (embedding[j]::DOUBLE / nv)) AS w
  FROM geom2
),
geom4 AS MATERIALIZED (
  SELECT vec_id, embedding, ct, st, nv, w,
         sqrt({_fold_sum('list_transform(w, x -> x * x)')}) AS nw
  FROM geom3
),
-- degenerate guard (mirrors __spark_entry__.planted_neardup_corpus):
-- roll(v) parallel to v => nw ~ 0 => fall back to Gram-Schmidt of e1
geom5 AS MATERIALIZED (
  SELECT vec_id, embedding, ct, st, nv,
         CASE WHEN nw >= 1e-12 THEN w
              ELSE list_transform(range(1, {dim + 1}),
                j -> (CASE WHEN j = 1 THEN 1.0 ELSE 0.0 END)
                     - (embedding[1]::DOUBLE / nv) * (embedding[j]::DOUBLE / nv)) END AS w_s,
         CASE WHEN nw >= 1e-12 THEN nw
              ELSE sqrt(1.0 - (embedding[1]::DOUBLE / nv) * (embedding[1]::DOUBLE / nv)) END AS nw_s
  FROM geom4
),
planted AS MATERIALIZED (
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(range(1, {dim + 1}),
           j -> ct * (embedding[j]::DOUBLE / nv)
                + st * (w_s[j] / nw_s))::FLOAT[]
           AS embedding
  FROM geom5
),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
sig AS MATERIALIZED (
  SELECT vec_id, embedding,
         {sig_cols}
  FROM corpus
),
pairs AS (
  SELECT l.vec_id AS vec_a, r.vec_id AS vec_b,
         {dot} / ({nl} * {nr}) AS cosine
  FROM sig l JOIN sig r ON l.vec_id < r.vec_id AND ({any_band})
)
SELECT vec_a, vec_b, round(cosine, 6) AS cosine
FROM pairs WHERE cosine >= {threshold}"""


def sql_bm25_topk(query: str, k: int = 10, lang: str | None = None) -> str:
    """Sparse BM25 scoring — mirrors search.bm25.bm25_search (k1=1.5,
    b=0.75, BM25+1 idf). NB DuckDB log() is base-10: use ln()."""
    qterms = sorted({t for t in query.lower().split() if t})
    qlist = "(" + ", ".join(f"'{t}'" for t in qterms) + ")"
    where = f"WHERE lang = '{lang}'" if lang else ""
    return f"""WITH docs_f AS (SELECT * FROM documents {where}),
toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM docs_f),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM toks WHERE term IN {qlist} GROUP BY 1, 2),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * (1.5 + 1)) / (tf + 1.5 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS score_t
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats
)
SELECT doc_id, round(SUM(score_t), 6) AS score, COUNT(*) AS n_terms_hit
FROM scored GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


_ENTITY_GRAPH_CTE = """
m AS (
  SELECT DISTINCT context AS conv_id, str_split(object, '.')[-1] AS e
  FROM triples WHERE predicate = 'conv.turn.mentions'
),
edges AS (
  SELECT DISTINCT a.e AS src, b.e AS dst
  FROM m a JOIN m b ON a.conv_id = b.conv_id AND a.e < b.e
)"""


def sql_pagerank_entities(
    sf: float,
    max_iter: int = 10,
    k: int = 20,
    scale: int = 10**12,
    damping_num: int = 85,
    damping_den: int = 100,
) -> str:
    """Fixed-point PageRank oracle — mirrors graph.pagerank_exact: all
    arithmetic in BIGINT (order-free sums), max_iter unrolled as chained
    CTEs. Integer div: DuckDB `//` == Spark `div` for positive operands."""
    rem = damping_den - damping_num
    iters = []
    for i in range(max_iter):
        iters.append(f"""
dm{i} AS MATERIALIZED (
  SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT) AS dmass
  FROM r{i} r JOIN dangling d USING (entity)
),
r{i + 1} AS MATERIALIZED (
  SELECT n.entity,
         ({rem}::BIGINT * {scale}) // ({damping_den} * nn.n)
         + ({damping_num} * ((dm{i}.dmass // nn.n) + COALESCE(inf.inflow, 0))) // {damping_den} AS rank
  FROM nodes n
  CROSS JOIN nn CROSS JOIN dm{i}
  LEFT JOIN (
    SELECT e.dst AS entity, CAST(SUM(r.rank // dg.deg) AS BIGINT) AS inflow
    FROM edges e JOIN r{i} r ON e.src = r.entity JOIN deg dg ON dg.src = e.src
    GROUP BY e.dst
  ) inf USING (entity)
)""")
    chain = ",".join(iters)
    return f"""WITH {triples_cte(sf)},{_ENTITY_GRAPH_CTE},
nodes AS (SELECT src AS entity FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT COUNT(*) AS n FROM nodes),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
dangling AS (SELECT entity FROM nodes WHERE entity NOT IN (SELECT src FROM edges)),
r0 AS (SELECT entity, {scale}::BIGINT // nn.n AS rank FROM nodes, nn),{chain}
SELECT entity, rank FROM r{max_iter}
ORDER BY rank DESC, entity ASC LIMIT {k}"""


def _lpa_chain(max_iter: int, und: str = "und", prefix: str = "l") -> str:
    """CTE chain ``{prefix}0 .. {prefix}{max_iter}`` of synchronous
    min-label-tie-break LPA over an undirected edge CTE ``{und}`` —
    mirrors graph.lpa_communities incl. the per-node self-vote (its early
    convergence break stops at a fixed point, so the full unroll yields
    identical labels)."""
    parts = [
        f"{prefix}u AS MATERIALIZED (SELECT src, dst FROM {und} UNION SELECT src, src FROM {und})",
        f"{prefix}0 AS MATERIALIZED (SELECT DISTINCT src AS entity, src AS label FROM {prefix}u)",
    ]
    for i in range(max_iter):
        parts.append(f"""{prefix}{i + 1} AS MATERIALIZED (
  SELECT src AS entity, label FROM (
    SELECT u.src, l.label,
           row_number() OVER (PARTITION BY u.src
                              ORDER BY COUNT(*) DESC, l.label ASC) AS rn
    FROM {prefix}u u JOIN {prefix}{i} l ON u.dst = l.entity
    GROUP BY u.src, l.label
  ) WHERE rn = 1
)""")
    return ",\n".join(parts)


_PARITY_GRAPH_CTE = """
m AS (
  SELECT DISTINCT context AS conv_id, str_split(object, '.')[-1] AS e
  FROM triples WHERE predicate = 'conv.turn.mentions'
),
wpairs AS (
  SELECT a.e AS src, b.e AS dst, COUNT(*) AS w
  FROM m a JOIN m b ON a.conv_id = b.conv_id AND a.e < b.e
  GROUP BY 1, 2
),
edges AS MATERIALIZED (
  SELECT src, dst FROM wpairs
  WHERE (TRY_CAST(str_split(src, '_')[-1] AS INT) % 2
           = TRY_CAST(str_split(dst, '_')[-1] AS INT) % 2 AND w >= 3)
     OR (TRY_CAST(str_split(src, '_')[-1] AS INT) % 2
           <> TRY_CAST(str_split(dst, '_')[-1] AS INT) % 2 AND w >= 300)
)"""


def sql_lpa_hierarchy(sf: float, levels: int = 2, max_iter: int = 8) -> str:
    """Hierarchical LPA oracle — mirrors graph.lpa_hierarchy over the
    structured parity co-mention graph (dense intra-cohort ties, sparse
    strong cross-cohort ties): level 0 = LPA over the raw graph, level
    k+1 = LPA over the community graph (distinct cross-community edges),
    isolated communities keep their id. Each level-v output branch
    requires every ce1..cev non-empty, mirroring the Spark side's
    empty-community-graph break."""
    parts = [
        "und0 AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges)",
        _lpa_chain(max_iter, "und0", "lv0_"),
        f"mem0 AS MATERIALIZED (SELECT entity, label AS community FROM lv0_{max_iter})",
    ]
    for v in range(1, levels):
        parts.append(f"""ce{v} AS MATERIALIZED (
  SELECT DISTINCT ma.community AS src, mb.community AS dst
  FROM edges e
  JOIN mem{v - 1} ma ON e.src = ma.entity
  JOIN mem{v - 1} mb ON e.dst = mb.entity
  WHERE ma.community <> mb.community
)""")
        parts.append(f"und{v} AS (SELECT src, dst FROM ce{v} UNION SELECT dst, src FROM ce{v})")
        parts.append(_lpa_chain(max_iter, f"und{v}", f"lv{v}_"))
        parts.append(f"""mem{v} AS MATERIALIZED (
  SELECT m.entity, COALESCE(s.label, m.community) AS community
  FROM mem{v - 1} m
  LEFT JOIN lv{v}_{max_iter} s ON m.community = s.entity
)""")
    branches = ["SELECT entity, 0 AS level, community FROM mem0"]
    for v in range(1, levels):
        guards = " AND ".join(f"EXISTS (SELECT 1 FROM ce{u})" for u in range(1, v + 1))
        branches.append(f"SELECT entity, {v} AS level, community FROM mem{v} WHERE {guards}")
    union = "\nUNION ALL ".join(branches)
    return f"""WITH {triples_cte(sf)},{_PARITY_GRAPH_CTE},
{",".join(parts)}
{union}"""


# latest-mention-context text per entity (LWW on (ts, seq, text)) —
# mirrors extract.triples.mention_context_texts
_NODE_TEXTS_CTE = """
men AS (
  SELECT str_split(object, '.')[-1] AS entity, subject, ts, seq
  FROM triples WHERE predicate = 'conv.turn.mentions'
),
txt AS (SELECT subject, object AS text FROM triples WHERE predicate = 'conv.turn.text'),
node_texts AS MATERIALIZED (
  SELECT entity, text FROM (
    SELECT men.entity, txt.text,
           row_number() OVER (PARTITION BY men.entity
                              ORDER BY men.ts DESC, men.seq DESC, txt.text DESC) AS rn
    FROM men JOIN txt USING (subject)
  ) WHERE rn = 1
)"""


def _match_count_sql(col: str, terms: list[str]) -> str:
    """Number of query terms contained in lower(col) — mirrors
    graphrag._match_count (NULL text scores 0)."""
    return " + ".join(
        f"(CASE WHEN contains(lower({col}), '{t}') THEN 1 ELSE 0 END)" for t in terms
    )


def sql_graphrag_global(
    sf: float,
    query: str,
    max_iter: int = 6,
    top_communities: int = 3,
    k_terms: int = 5,
) -> str:
    """Full GraphRAG global-search oracle — mirrors the gate pipeline
    end-to-end: LPA communities (unrolled), latest-mention-context node
    texts (LWW on (ts, seq, text)), TF-keyword community summaries,
    2.0/1.5-weighted community scoring, member rerank."""
    from .graph.summarize import STOPWORDS

    terms = sorted({t for t in query.lower().split() if t})
    sw = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"
    return f"""WITH {triples_cte(sf)},{_ENTITY_GRAPH_CTE},
edges_f AS (SELECT * FROM edges WHERE starts_with(src, 'ent_') AND starts_with(dst, 'ent_')),
und AS (SELECT src, dst FROM edges_f UNION SELECT dst, src FROM edges_f),
{_lpa_chain(max_iter)},
members AS (SELECT entity, label AS community FROM l{max_iter}),
{_NODE_TEXTS_CTE},
jt AS (
  SELECT mem.community, nt.text
  FROM members mem LEFT JOIN node_texts nt USING (entity)
  WHERE nt.text IS NOT NULL
),
tt AS (
  SELECT community, term, COUNT(*) AS tf
  FROM (SELECT community, unnest({_TOKS}) AS term FROM jt)
  WHERE term NOT IN {sw}
  GROUP BY community, term
),
topt AS (
  SELECT community, term,
         row_number() OVER (PARTITION BY community ORDER BY tf DESC, term ASC) AS rank
  FROM tt
),
kw AS (
  SELECT community, string_agg(term, ', ' ORDER BY rank) AS keywords
  FROM topt WHERE rank <= {k_terms} GROUP BY community
),
sizes AS (SELECT community, COUNT(*) AS n_members FROM members GROUP BY community),
summ AS (
  SELECT s.community, s.n_members,
         COALESCE(kw.keywords, '') AS keywords,
         printf('Community %s: %d members; key terms: %s',
                s.community, s.n_members, COALESCE(kw.keywords, 'none')) AS summary
  FROM sizes s LEFT JOIN kw USING (community)
),
cs AS (
  SELECT community,
         2.0 * ({_match_count_sql('summary', terms)})
         + 1.5 * ({_match_count_sql('keywords', terms)}) AS community_score
  FROM summ
),
top_c AS (
  SELECT community, community_score FROM cs
  WHERE community_score > 0
  ORDER BY community_score DESC, community ASC LIMIT {top_communities}
),
cohort AS (
  SELECT mem.entity, mem.community, t.community_score
  FROM members mem JOIN top_c t USING (community)
)
SELECT c.entity, c.community, c.community_score,
       {_match_count_sql('nt.text', terms)} AS entity_score
FROM cohort c LEFT JOIN node_texts nt USING (entity)
ORDER BY entity_score DESC, community_score DESC, entity ASC LIMIT 10000"""


def sql_paths_2hop(
    sf: float, start: str = "ent_000", decay: float = 0.85, max_paths: int = 500
) -> str:
    """Path-enumeration oracle — mirrors graph.traversal_paths at depth 2:
    simple paths as node sequences, (score desc, path asc) top-max_paths,
    truncated flag when the budget trims. Ordering is on the LIST (same
    lexicographic semantics both engines); the gate projects the joined
    string."""
    return f"""WITH {triples_cte(sf)},{_ENTITY_GRAPH_CTE},
und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
p0 AS (SELECT ['{start}'] AS path, 0 AS depth, 1.0::DOUBLE AS score),
p1 AS (
  SELECT ['{start}', dst] AS path, 1 AS depth, 1.0::DOUBLE * {decay} AS score
  FROM und WHERE src = '{start}'
),
p2 AS (
  SELECT list_append(p1.path, u.dst) AS path, 2 AS depth, p1.score * {decay} AS score
  FROM p1 JOIN und u ON u.src = p1.path[-1]
  WHERE NOT list_contains(p1.path, u.dst)
),
allp AS MATERIALIZED (
  SELECT * FROM p0 UNION ALL SELECT * FROM p1 UNION ALL SELECT * FROM p2
),
tot AS (SELECT COUNT(*) AS c FROM allp)
SELECT array_to_string(path, '->') AS path, depth, score, (tot.c > {max_paths}) AS truncated
FROM allp, tot
ORDER BY score DESC, allp.path ASC LIMIT {max_paths}"""


def sql_sliding_degree(sf: float, width_s: int = 600, slide_s: int = 300) -> str:
    """Sliding-window (10min/5min) mention in-degree per entity — each
    event lands in width/slide windows."""
    n_win = width_s // slide_s
    return f"""WITH {triples_cte(sf)},
m AS (
  SELECT object AS entity, ts FROM triples WHERE predicate = 'conv.turn.mentions'
),
w AS (
  SELECT entity,
         make_timestamp((CAST(floor(epoch(ts) / {slide_s}) AS BIGINT) - k.k) * {slide_s} * 1000000) AS window_start
  FROM m, (SELECT unnest(range(0, {n_win})) AS k) k
)
SELECT window_start,
       window_start + INTERVAL {width_s} SECOND AS window_end,
       entity AS src, COUNT(*) AS out_degree
FROM w GROUP BY 1, 2, 3"""


def sql_minhash_pairs(threshold: float = 0.5, k: int = 32, bands: int = 8) -> str:
    """Full MinHash-LSH dedup oracle: portable base hash, k modular affine
    minhashes, banded candidates (band = raw signature slice), exact
    Jaccard verify — mirrors dedup.minhash_dedup exactly."""
    p = 2147483647
    rpb = k // bands
    mins = ", ".join(
        f"min(({(2 * i + 1) % p} * hv + {(i * 0x9E3779B9) % p}) % {p})" for i in range(k)
    )
    return f"""WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                ELSE list_transform(range(1, len(toks) - 1),
                                    i -> array_to_string(list_slice(toks, i, i + 2), ' '))
                END) AS shingle
  FROM t
),
hv AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {p} AS hv FROM sh),
sig AS (SELECT doc_id, [{mins}] AS sig FROM hv GROUP BY doc_id),
b AS (
  SELECT doc_id, k.band, sig[k.band * {rpb} + 1 : k.band * {rpb} + {rpb}] AS bv
  FROM sig, (SELECT unnest(range(0, {bands})) AS band) k
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
  FROM b a JOIN b c ON a.band = c.band AND a.bv = c.bv AND a.doc_id < c.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
common AS (
  SELECT cand.doc_a, cand.doc_b, COUNT(*) AS n_common
  FROM cand
  JOIN sh sa ON sa.doc_id = cand.doc_a
  JOIN sh sb ON sb.doc_id = cand.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_common AS DOUBLE) / (za.set_size + zb.set_size - n_common) AS jaccard
FROM common
JOIN sizes za ON za.doc_id = doc_a
JOIN sizes zb ON zb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / (za.set_size + zb.set_size - n_common) >= {threshold}"""


def sql_simhash_pairs(max_hamming: int = 14) -> str:
    """Exact SimHash near-dup oracle — mirrors dedup.simhash +
    dedup.simhash_near_dups bit-for-bit: portable md5 hash per token,
    60 sign-summed bits, pigeonhole chunk bucketing, bit_count verify."""
    n_chunks = max_hamming + 1
    chunk_bits = 60 // n_chunks
    bit_sums = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN w ELSE -w END) AS b{i}" for i in range(60)
    )
    fp = " + ".join(f"(CASE WHEN b{i} > 0 THEN 1::BIGINT ELSE 0::BIGINT END << {i})" for i in range(60))
    chunk_structs = ", ".join(
        f"{{'chunk': {i}, 'cv': (simhash >> {i * chunk_bits}) & {(1 << chunk_bits) - 1}}}"
        for i in range(n_chunks)
    )
    return f"""WITH t AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
tw AS (
  SELECT doc_id, tok, COUNT(*) AS w,
         ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
  FROM t GROUP BY doc_id, tok
),
sums AS (
  SELECT doc_id,
         {bit_sums}
  FROM tw GROUP BY doc_id
),
fp AS (SELECT doc_id, {fp} AS simhash FROM sums),
chunks AS (
  SELECT doc_id, simhash, u.c.chunk AS chunk, u.c.cv AS cv
  FROM fp, unnest([{chunk_structs}]) AS u(c)
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         bit_count(xor(l.simhash, r.simhash)) AS hamming
  FROM chunks l JOIN chunks r
    ON l.chunk = r.chunk AND l.cv = r.cv AND l.doc_id < r.doc_id
)
SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= {max_hamming}"""


def sql_top_terms(k: int = 20) -> str:
    """TF term ranking with stopwords — mirrors graph.summarize.top_terms."""
    from .graph.summarize import STOPWORDS

    sw = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"
    return f"""WITH t AS (SELECT unnest({_TOKS}) AS term FROM documents)
SELECT term, COUNT(*) AS tf FROM t
WHERE term NOT IN {sw}
GROUP BY term ORDER BY tf DESC, term ASC LIMIT {k}"""


def sql_rule_events(sf: float) -> str:
    """CEP rules over latest entity state (R1-R4): see rules/engine.py
    DEFAULT_RULES — keep in sync."""
    return f"""WITH {triples_cte(sf)},
ranked AS (
  SELECT subject, predicate, object, ts,
         ROW_NUMBER() OVER (PARTITION BY subject, predicate ORDER BY ts DESC, seq DESC, object DESC) AS rn
  FROM triples
),
st AS (SELECT subject, predicate, object, ts FROM ranked WHERE rn = 1)
SELECT 'tool_calc_used' AS rule_id, subject AS entity_id, ts
FROM st WHERE predicate = 'conv.turn.tool' AND object = 'calc'
UNION ALL
SELECT 'invoke_in_text', subject, ts
FROM st WHERE predicate = 'conv.turn.text' AND contains(object, 'invoke')
UNION ALL
SELECT 'assistant_regex', subject, ts
FROM st WHERE predicate = 'conv.turn.role' AND regexp_matches(object, '^(assistant|system)$')"""


def sql_entity_delete(
    sf: float,
    late_ts: str = "2025-03-01 00:00:00",
    early_ts: str = "2024-12-01 00:00:00",
) -> str:
    """Tombstone-merge oracle — mirrors q_entity_delete: mention-target
    nodes with delete-wins-ties status, version bump per tombstone, and
    live-edge counts after edge cleanup (mutations.py semantics)."""
    suffix_mod = "TRY_CAST(str_split({c}, '_')[-1] AS INT) % 7"
    return f"""WITH {triples_cte(sf)},
men AS (
  SELECT object AS id, ts, seq FROM triples WHERE predicate = 'conv.turn.mentions'
),
nodes AS (
  SELECT id, str_split(id, '.')[5] AS type,
         COUNT(DISTINCT (ts, seq)) AS version, MAX(ts) AS updated_at
  FROM men GROUP BY id
),
ents AS (SELECT DISTINCT id AS entity_id FROM men),
dels AS (
  SELECT entity_id, TIMESTAMP '{late_ts}' AS ts FROM ents
  WHERE {suffix_mod.format(c='entity_id')} = 0
  UNION ALL
  SELECT entity_id, TIMESTAMP '{early_ts}' FROM ents
  WHERE {suffix_mod.format(c='entity_id')} = 3
),
ld AS (SELECT entity_id, MAX(ts) AS deleted_at, COUNT(*) AS n_deletes FROM dels GROUP BY entity_id),
rel AS (
  SELECT subject AS src, object AS dst, {_EDGE_TYPE_SQL} AS edge_type, ts
  FROM triples WHERE object_type = 'entity_ref'
),
e AS (SELECT src, dst, edge_type, MAX(ts) AS updated_at FROM rel GROUP BY 1, 2, 3),
live AS (
  SELECT e.dst AS id, COUNT(*) AS n_live
  FROM e
  LEFT JOIN ld ls ON e.src = ls.entity_id
  LEFT JOIN ld ldd ON e.dst = ldd.entity_id
  WHERE (ls.deleted_at IS NULL OR e.updated_at > ls.deleted_at)
    AND (ldd.deleted_at IS NULL OR e.updated_at > ldd.deleted_at)
  GROUP BY e.dst
)
SELECT n.id, n.type,
       CASE WHEN ld.deleted_at IS NOT NULL AND ld.deleted_at >= n.updated_at
            THEN 'deleted' ELSE 'active' END AS status,
       n.version + COALESCE(ld.n_deletes, 0) AS version,
       n.updated_at, ld.deleted_at,
       COALESCE(live.n_live, 0) AS n_live_edges
FROM nodes n
LEFT JOIN ld ON n.id = ld.entity_id
LEFT JOIN live ON n.id = live.id"""


def sql_entity_semantic_topk(sf: float, query: str, k: int = 10, dim: int = 384) -> str:
    """Entity semantic search oracle — mirrors search.embedder.embed_texts
    over latest-mention-context node texts (hashed-TF buckets, L2
    normalize, sequential folds) + cosine top-k vs the driver-side query
    embedding."""
    from .search.embedder import embed_text_py

    qv = embed_text_py(query, dim)
    qlit = "[" + ", ".join(repr(float(x)) for x in qv) + "]::DOUBLE[]"
    sq = _fold_sum("list_transform(vec, x -> x * x)")
    dot = _fold_sum(f"list_transform(range(1, {dim + 1}), j -> embedding[j] * qv[j])")
    na = f"sqrt({_fold_sum(f'list_transform(range(1, {dim + 1}), j -> embedding[j] * embedding[j])')})"
    nb = f"sqrt({_fold_sum(f'list_transform(range(1, {dim + 1}), j -> qv[j] * qv[j])')})"
    return f"""WITH {triples_cte(sf)},
{_NODE_TEXTS_CTE},
toks AS (SELECT entity, unnest({_TOKS}) AS tok FROM node_texts),
b AS (
  SELECT entity,
         CAST(('0x' || substr(md5(tok), 1, 15))::BIGINT % {dim} AS INT) AS bucket
  FROM toks
),
g AS (SELECT entity, list(bucket) AS buckets FROM b GROUP BY entity),
v AS (
  SELECT entity,
         list_transform(range(0, {dim}), i -> CAST(len(list_filter(buckets, x -> x = i)) AS DOUBLE)) AS vec
  FROM g
),
n AS (SELECT entity, vec, sqrt({sq}) AS nrm FROM v),
e AS (
  SELECT entity,
         CASE WHEN nrm > 0 THEN list_transform(vec, x -> x / nrm) ELSE vec END AS embedding
  FROM n
),
q AS (SELECT {qlit} AS qv),
s AS (SELECT entity, {dot} / ({na} * {nb}) AS cosine FROM e, q)
SELECT entity, round(cosine, 6) AS cosine
FROM s ORDER BY cosine DESC, entity ASC LIMIT {k}"""


def sql_graphrag_local(
    sf: float, entity: str, query: str, max_iter: int = 6
) -> str:
    """GraphRAG LocalSearch oracle (``querymanager/graphrag_search.go:
    43-106``) — entity's community cohort, text-match scoring, mirrors
    graphrag.local_search over the same LPA membership + node texts as
    the global gate."""
    terms = sorted({t for t in query.lower().split() if t})
    return f"""WITH {triples_cte(sf)},{_ENTITY_GRAPH_CTE},
edges_f AS (SELECT * FROM edges WHERE starts_with(src, 'ent_') AND starts_with(dst, 'ent_')),
und AS (SELECT src, dst FROM edges_f UNION SELECT dst, src FROM edges_f),
{_lpa_chain(max_iter)},
members AS (SELECT entity, label AS community FROM l{max_iter}),
{_NODE_TEXTS_CTE},
comm AS (SELECT community FROM members WHERE entity = '{entity}'),
cohort AS (SELECT m.entity, m.community FROM members m JOIN comm USING (community)),
scored AS (
  SELECT c.entity, c.community, {_match_count_sql('nt.text', terms)} AS score
  FROM cohort c LEFT JOIN node_texts nt USING (entity)
)
SELECT entity, community, score FROM scored WHERE score > 0"""


def sql_spatial_bbox(
    sf: float,
    min_lat: float,
    max_lat: float,
    min_lon: float,
    max_lon: float,
) -> str:
    """QuerySpatial oracle — mirrors textops.synthetic_coords (hash-derived
    exact coordinates) + the bbox predicates of
    __spark_entry__.q_spatial_bbox + textops.geo_bin's precision-7 key."""
    h = "('0x' || substr(md5({x}), 1, 15))::BIGINT"
    h_lat = h.format(x="id || ':lat'")
    h_lon = h.format(x="id || ':lon'")
    lat = f"({h_lat} % 1800000) / 10000.0 - 90.0"
    lon = f"({h_lon} % 3600000) / 10000.0 - 180.0"
    return f"""WITH {triples_cte(sf)},
ents AS (SELECT DISTINCT object AS id FROM triples WHERE predicate = 'conv.turn.mentions'),
coords AS (SELECT id, {lat} AS lat, {lon} AS lon FROM ents)
SELECT id, lat, lon,
       'geo_7_' || CAST(CAST(floor((lat + 90.0) * 300) AS BIGINT) AS VARCHAR)
         || '_' || CAST(CAST(floor((lon + 180.0) * 300) AS BIGINT) AS VARCHAR) AS geo7
FROM coords
WHERE lat >= {min_lat} AND lat <= {max_lat} AND lon >= {min_lon} AND lon <= {max_lon}"""


def sql_query_temporal(sf: float, start: str, end: str) -> str:
    """Temporal range scan oracle — mirrors __spark_entry__.q_query_temporal."""
    return f"""WITH {triples_cte(sf)}
SELECT * FROM triples
WHERE ts >= TIMESTAMP '{start}' AND ts < TIMESTAMP '{end}'"""


def sql_rels_in(sf: float, entity_id: str) -> str:
    """Reverse-edge lookup oracle — the edge table filtered on dst."""
    return f"""WITH {triples_cte(sf)},
rel AS (
  SELECT subject AS src, object AS dst, {_EDGE_TYPE_SQL} AS edge_type, confidence, ts
  FROM triples WHERE object_type = 'entity_ref'
)
SELECT src, dst, edge_type,
       arg_max(confidence, ts) AS weight,
       MIN(ts) AS created_at, MAX(ts) AS updated_at,
       COUNT(*) AS n_obs
FROM rel WHERE dst = '{entity_id}'
GROUP BY src, dst, edge_type"""


def sql_rule_and_events(sf: float) -> str:
    """Multi-condition AND rule oracle: subjects matching BOTH conditions
    over latest state, ts = greatest of the two contributing predicates."""
    return f"""WITH {triples_cte(sf)},
ranked AS (
  SELECT subject, predicate, object, ts,
         ROW_NUMBER() OVER (PARTITION BY subject, predicate ORDER BY ts DESC, seq DESC, object DESC) AS rn
  FROM triples
),
st AS (SELECT subject, predicate, object, ts FROM ranked WHERE rn = 1),
a AS (SELECT subject, ts FROM st WHERE predicate = 'conv.turn.role' AND object = 'tool'),
b AS (SELECT subject, ts FROM st WHERE predicate = 'conv.turn.tool' AND object = 'calc')
SELECT 'tool_role_calc' AS rule_id, a.subject AS entity_id, greatest(a.ts, b.ts) AS ts
FROM a JOIN b USING (subject)"""


def sql_tool_interval_join(sf: float, window_s: int = 60) -> str:
    """Interval-join oracle — tool turns joined to same-conv non-tool
    turns within the preceding window."""
    rel = transcripts_rel(sf)
    return f"""WITH t AS (SELECT * FROM {rel}),
tools AS (SELECT conv_id, turn_idx, tool, ts FROM t WHERE role = 'tool'),
reqs AS (SELECT conv_id, turn_idx AS req_turn_idx, ts AS req_ts FROM t WHERE role <> 'tool')
SELECT tools.conv_id, tools.turn_idx, tools.tool, tools.ts, reqs.req_turn_idx, reqs.req_ts
FROM tools JOIN reqs
  ON tools.conv_id = reqs.conv_id
 AND reqs.req_ts <= tools.ts
 AND reqs.req_ts > tools.ts - INTERVAL {window_s} SECOND"""


def sql_salted_conv_stats(sf: float) -> str:
    """Plain per-conversation aggregate — the salted two-phase plan in
    q_salted_conv_stats must be result-identical (salting only reshapes
    the shuffle, never the answer)."""
    return f"""SELECT conv_id,
       COUNT(*) AS n_turns,
       CAST(SUM(length(text)) AS BIGINT) AS n_chars,
       MAX(ts) AS last_ts
FROM {transcripts_rel(sf)} GROUP BY conv_id"""


def sql_context_flags(sf: float, start: str = "ent_005", hub_threshold: int = 2000) -> str:
    """Context-flags oracle (R8): 2-hop neighborhood of `start` over the
    co-mention entity graph; flags = any neighbor matching each rule
    (mention count > threshold with numeric coercion; name starts_with
    ghost) — mirrors q_context_flags."""
    return f"""WITH {triples_cte(sf)},{_ENTITY_GRAPH_CTE},
und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
d1 AS (SELECT DISTINCT dst AS entity FROM und WHERE src = '{start}'),
d2 AS (
  SELECT DISTINCT u.dst AS entity
  FROM und u JOIN d1 ON u.src = d1.entity
  WHERE u.dst <> '{start}' AND u.dst NOT IN (SELECT entity FROM d1)
),
hood AS MATERIALIZED (
  SELECT '{start}' AS entity UNION SELECT entity FROM d1 UNION SELECT entity FROM d2
),
mc AS (
  SELECT str_split(object, '.')[-1] AS entity, COUNT(*) AS n
  FROM triples WHERE predicate = 'conv.turn.mentions' GROUP BY 1
)
SELECT 'hub_nearby' AS rule_id,
       EXISTS (SELECT 1 FROM mc JOIN hood USING (entity)
               WHERE TRY_CAST(CAST(n AS VARCHAR) AS DOUBLE) > {hub_threshold}) AS flag
UNION ALL
SELECT 'mega_hub',
       EXISTS (SELECT 1 FROM mc JOIN hood USING (entity)
               WHERE TRY_CAST(CAST(n AS VARCHAR) AS DOUBLE) > 1000000000)
UNION ALL
SELECT 'ghost_nearby',
       EXISTS (SELECT 1 FROM hood WHERE starts_with(entity, 'ghost_'))"""


def sql_graph_snapshot(sf: float, start: str, end: str, max_entities: int) -> str:
    """GraphSnapshot oracle — mirrors merge.graph_snapshot: type + updated_at
    bounds, id-ordered MaxEntities truncation, truncated flag."""
    return f"""WITH {triples_cte(sf)},
nodes AS (
  SELECT subject AS id, split_part(subject, '.', 5) AS type, 'active' AS status,
         COUNT(DISTINCT (ts, seq)) AS version, MAX(ts) AS updated_at
  FROM triples GROUP BY subject
),
f AS MATERIALIZED (
  SELECT * FROM nodes
  WHERE type = 'turn'
    AND updated_at >= TIMESTAMP '{start}' AND updated_at < TIMESTAMP '{end}'
),
tot AS (SELECT COUNT(*) AS c FROM f)
SELECT id, type, status, version, updated_at, (tot.c > {max_entities}) AS truncated
FROM f, tot ORDER BY id LIMIT {max_entities}"""


def sql_q1_pricing() -> str:
    """TPC-H Q1 pricing summary over the driver's ``lineitem`` view, with
    exact DECIMAL sums."""
    return """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(1.0 - l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(1.0 - l_discount AS DECIMAL(18,6)) * CAST(1.0 + l_tax AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_price,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """


def sql_parts_no_sales() -> str:
    """Parts with no ``lineitem`` row: the NOT EXISTS anti-join."""
    return """
            SELECT p_partkey, p_name, p_brand FROM part
            WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        """


def sql_dedup_exact() -> str:
    """Exact duplicate documents: one keeper (min doc_id) per text md5."""
    return """
            SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_doc_id,
                   COUNT(*) AS n_copies
            FROM documents GROUP BY 1
        """


def sql_json_filter_events() -> str:
    """Events whose JSON ``props.k`` is ≥ 80 and whose value is > 50."""
    return """
            SELECT event_id, event_type, value FROM events
            WHERE TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) >= 80
              AND value > 50
        """


def sql_json_map_events() -> str:
    """Events projected with an upper-cased type and a constant pipeline tag."""
    return """
            SELECT event_id, ts, user_id, upper(event_type) AS etype,
                   value, 'p1' AS pipeline
            FROM events
        """


def sql_media_wav_decode() -> str:
    """Stdlib-wave decode of the synthetic WAV payloads (44-byte PCM
    header + 2 bytes/frame, ``synth_wav_bytes``): every output field is
    exact integer math over the generator contract."""
    return """
            SELECT i AS media_id,
                   CAST(8000 * (1 + (i % 9) // 3) AS INT) AS sample_rate,
                   1 AS n_channels,
                   2 AS sampwidth,
                   CAST(400 + (i % 5) * 80 AS INT) AS n_frames,
                   (400 + (i % 5) * 80) * 1000 // (8000 * (1 + (i % 9) // 3)) AS duration_ms,
                   CAST(list_sum(list_transform(range(0, 400 + (i % 5) * 80),
                        j -> ((i * 131 + j * 197) % 65536) - 32768)) AS BIGINT) AS sum_samples
            FROM range(0, 64) t(i) WHERE i % 3 = 1
        """


def sql_media_png_decode() -> str:
    """Stdlib PNG decode: width/height and exact per-channel pixel sums
    recomputed analytically from the ``synth_png_bytes`` contract."""
    return """
            WITH g AS (
              SELECT i, CAST(8 + (i % 4) * 8 AS INT) AS w,
                        CAST(8 + (i % 3) * 8 AS INT) AS h
              FROM range(0, 64) t(i)
            ),
            px AS (SELECT i, w, h, unnest(range(0, w * h * 3)) AS p FROM g)
            SELECT i AS media_id, w AS width, h AS height,
                   CAST(SUM(CASE WHEN p % 3 = 0 THEN (i * 131 + p * 197) % 256 END) AS BIGINT) AS sum_r,
                   CAST(SUM(CASE WHEN p % 3 = 1 THEN (i * 131 + p * 197) % 256 END) AS BIGINT) AS sum_g,
                   CAST(SUM(CASE WHEN p % 3 = 2 THEN (i * 131 + p * 197) % 256 END) AS BIGINT) AS sum_b,
                   CAST(SUM((i * 131 + p * 197) % 256) AS BIGINT) AS sum_all
            FROM px GROUP BY 1, 2, 3
        """


def sql_media_mp4_metadata() -> str:
    """MP4 box metadata recomputed from the ``synth_mp4_bytes`` generator
    contract: duration_ms = 1000 + 250·i, tracks = 1 + i % 2."""
    return """
            SELECT i AS media_id,
                   'isom' AS brand,
                   CAST(1000 AS INT) AS timescale,
                   CAST(1000 + 250 * i AS BIGINT) AS duration_ms,
                   CAST(1 + (i % 2) AS INT) AS n_tracks,
                   CASE WHEN i % 2 = 0 THEN 'avc1' ELSE 'avc1,mp4a' END AS codecs,
                   CASE WHEN i % 2 = 0 THEN 'vide' ELSE 'vide,soun' END AS handlers
            FROM range(0, 48) t(i)
        """


def sql_metrics_rollup() -> str:
    """Per-event-type count, exact DECIMAL sum and mean, min/max and
    interpolated p50/p95/p99."""
    return """
            SELECT event_type,
                   COUNT(*) AS cnt,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_v,
                   MIN(value) AS min_v,
                   MAX(value) AS max_v,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.95), 6) AS p95,
                   round(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY event_type
        """


def sql_alert_cooldown() -> str:
    """Greedy-from-last-fire cooldown scan, expressed as a per-key
    recursive walk over event rank — independent of the Spark
    implementation (no lag/window trick shared between the two sides)."""
    return """
            WITH RECURSIVE alerts AS (
              SELECT 'high_value' AS rule_id, CAST(user_id AS VARCHAR) AS entity_id, ts
              FROM events WHERE value > 180
            ),
            ev AS (
              SELECT rule_id, entity_id, ts,
                     row_number() OVER (PARTITION BY rule_id, entity_id ORDER BY ts) AS rn
              FROM alerts
            ),
            scan AS (
              SELECT rule_id, entity_id, rn, ts, ts AS last_fire, TRUE AS fired
              FROM ev WHERE rn = 1
              UNION ALL
              SELECT e.rule_id, e.entity_id, e.rn, e.ts,
                     CASE WHEN epoch(e.ts) - epoch(s.last_fire) >= 3600
                          THEN e.ts ELSE s.last_fire END,
                     epoch(e.ts) - epoch(s.last_fire) >= 3600
              FROM scan s JOIN ev e
                ON e.rule_id = s.rule_id AND e.entity_id = s.entity_id
               AND e.rn = s.rn + 1
            )
            SELECT rule_id, entity_id, ts FROM scan WHERE fired
        """
