"""Emit PLANS.md: plan-quality audit of the headline queries.

For each audited query: run it (so AQE finalizes), grab the executed
plan, and check the properties that decide 100 TB viability — filter
pushdown, column pruning, broadcast vs shuffle joins, whole-stage
codegen, and absence of cartesian products. The table + excerpts land in
PLANS.md so plan quality is reviewable without a Spark session.

Usage: python tools/plan_audit.py [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")

AUDIT = [
    # name -> note on what to look for
    ("triples_extract", "single scan + codegen explode; no Python eval"),
    ("entity_states", "r6 source-clustered winners: scan-side compute, no aggregation exchange"),
    ("graph_edges", "r6 source-clustered: per-row in-edge + distinct-mention counts in the scan task"),
    ("edges_resolved", "alias dim must broadcast"),
    ("cooccur_5min", "JVM pair expansion — no self-join, no cartesian"),
    ("minhash_pairs", "banded bucket equi-joins only"),
    ("bm25_topk", "postings + broadcast terms; the one BNLJ is the 1-row (n_docs, avgdl) scalar cross-join — benign"),
    ("embedding_neardup_lsh", "bucket equi-join, NOT all-pairs"),
    ("spatial_bbox", "coords are derived in-query (synthetic_coords) so bbox predicates can't reach the scan: a Filter over the projected coords"),
    ("entity_semantic_topk", "r6 embed_texts Arrow kernel (declared mapInPandas, not row-eval); broadcast query vector"),
    ("rule_events", "one scan, fired-rules array explode"),
    ("ivf_topk", "r6 numpy assignment/rerank kernels (declared mapInPandas); probe filter, no all-pairs"),
    ("query_temporal", "ts range predicates on the triple scan"),
    ("entity_delete", "tombstone dims broadcast against state/edges"),
    ("media_wav_decode", "binary decode is the declared Arrow mapInPandas path; metadata pruning upstream"),
]


def props(plan: str) -> dict[str, bool]:
    return {
        # at least one NON-EMPTY pushed-filter list (text right after the
        # marker must not be the immediate close bracket)
        "pushdown": any(
            seg.lstrip() and not seg.lstrip().startswith("]")
            for seg in plan.split("PushedFilters: [")[1:]
        ),
        "codegen": "*(" in plan or "WholeStageCodegen" in plan,
        "broadcast_join": "BroadcastHashJoin" in plan,
        "sortmerge_join": "SortMergeJoin" in plan,
        "cartesian": "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan,
        "python_eval": "BatchEvalPython" in plan or ("ArrowEvalPython" in plan),
        "arrow_map": "MapInPandas" in plan or "FlatMapGroupsInPandas" in plan,
    }


def main() -> int:
    import __spark_entry__ as entrymod
    from semstreams_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark("plan_audit")
    qs = entrymod.queries()

    lines = [
        "# PLANS — executed-plan audit of headline queries (sf0.01)",
        "",
        "Generated by `python tools/plan_audit.py` after an actual run of",
        "each query (AQE-finalized plans). Columns: pushdown = a NON-EMPTY",
        "PushedFilters list on a parquet scan ('-' is correct for",
        "scan-everything queries with no source predicate — e.g. full-table",
        "extraction/aggregation — and for predicates over columns derived",
        "in-query, which cannot reach the scan by construction);",
        "codegen = whole-stage-codegen markers (NB AQE-finalized plan strings elide `*(N)` wrappers, so '-' here does not mean no codegen — the non-AQE plan check lives in tests/test_plans.py)",
        "present; bcast/smj = join strategies; cart = cartesian or",
        "nested-loop join present (only acceptable where documented);",
        "py = row/Arrow Python eval in the plan (0 except declared",
        "Arrow-batched operators).",
        "",
        "| query | pushdown | codegen | bcast | smj | cart | py | note |",
        "|---|---|---|---|---|---|---|---|",
    ]
    excerpts = []
    for name, note in AUDIT:
        if only and name not in only:
            continue
        df = qs[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        p = props(plan)
        lines.append(
            f"| {name} | {'y' if p['pushdown'] else '-'} | {'y' if p['codegen'] else '-'} | "
            f"{'y' if p['broadcast_join'] else '-'} | {'y' if p['sortmerge_join'] else '-'} | "
            f"{'!' if p['cartesian'] else '-'} | {'!' if p['python_eval'] else '-'} | {note} |"
        )
        head = "\n".join(plan.splitlines()[:30])
        excerpts.append(f"## {name}\n\n```\n{head}\n```\n")
    out = "\n".join(lines) + "\n\n" + "\n".join(excerpts)
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(out)
    print(f"wrote PLANS.md ({len(excerpts)} plans)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
