#!/usr/bin/env python
"""Supplementary scale measurements (bench.py is FROZEN for the driver's
metric — this file only produces evidence cited in OPTIMIZATION_r06.md /
BASELINE.md):

1. --graph-dist: pagerank_entities + lpa_hierarchy at a larger sf with the
   adaptive local solve ON (default) and OFF
   (SPARK_GRAFT_LOCAL_GRAPH_MAX_EDGES=0 → the distributed join+agg loop,
   the 100 TB path) — round-5 verdict #5: every generator scale point
   saturates at ~31k co-mention edges, so the distributed loop's wall was
   otherwise unmeasured since r4.
2. --dedup-big: the dedup/ANN family at a larger sf — round-5 verdict #7.
   The fixed testdata documents/embeddings tables only exist at
   sf≤0.1, so the big point runs the SAME operators over
   transcript-derived inputs: minhash_dedup over per-CONVERSATION
   concatenated texts (per-turn texts are 3-6 tokens — a degenerate
   3-gram corpus whose LSH buckets explode quadratically; conversation
   texts are 100+ tokens, a realistic dedup corpus) and
   embedding_near_dups over 64-dim hashed-TF conversation embeddings
   with scale-appropriate band params (r sized to the corpus per the
   operator's own doc: r ≈ log2(N / target bucket size); b derived from
   the recall target) plus the max_bucket_size hot-bucket guard — the
   documented 100 TB levers, exercised at a scale where they matter.

Prints ONE JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=float(os.environ.get("SPARK_GRAFT_BIG_SF", "0.3")))
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--skip-graph-dist", action="store_true")
    ap.add_argument("--skip-dedup-big", action="store_true")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from semstreams_spark.datagen import ensure_transcripts, transcripts_path
    from semstreams_spark.session import get_spark

    ensure_transcripts(args.sf)
    spark = get_spark("bench_extra", cores=args.cores, shuffle_partitions=args.cores)
    sf_dir = f"sf{args.sf:g}"
    out: dict = {"sf": args.sf, "cores": args.cores, "loadavg_start": round(os.getloadavg()[0], 2)}

    def timed(fn):
        t0 = time.monotonic()
        fn()
        return round(time.monotonic() - t0, 3)

    if not args.skip_graph_dist:
        res: dict[str, dict[str, list[float]]] = {}
        for mode, env in (("local", None), ("distributed", "0")):
            prev = os.environ.pop("SPARK_GRAFT_LOCAL_GRAPH_MAX_EDGES", None)
            if env is not None:
                os.environ["SPARK_GRAFT_LOCAL_GRAPH_MAX_EDGES"] = env
            try:
                for name in ("pagerank_entities", "lpa_hierarchy"):
                    walls = res.setdefault(name, {}).setdefault(mode, [])
                    # one distributed rep is enough: the point is the
                    # local-vs-distributed gap, and the distributed loop
                    # pays max_iter rounds of fixed cost by design
                    for _ in range(args.reps if mode == "local" else 1):
                        spark.sparkContext.setJobDescription(f"extra:{name}:{mode}")
                        walls.append(timed(lambda: _noop(entry.queries()[name](spark, sf_dir))))
                        spark.catalog.clearCache()
            finally:
                os.environ.pop("SPARK_GRAFT_LOCAL_GRAPH_MAX_EDGES", None)
                if prev is not None:
                    os.environ["SPARK_GRAFT_LOCAL_GRAPH_MAX_EDGES"] = prev
        out["graph_dist"] = res

    if not args.skip_dedup_big:
        import math

        from pyspark.sql import functions as F

        from semstreams_spark.operators.dedup import embedding_near_dups, minhash_dedup
        from semstreams_spark.search.embedder import embed_texts

        t = spark.read.parquet(transcripts_path(args.sf))
        docs = (
            t.groupBy("conv_id")
            .agg(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("turn_idx", "text"))),
                        lambda s: s["text"],
                    ),
                    " ",
                ).alias("text")
            )
            .select(F.col("conv_id").alias("doc_id"), "text")
            .localCheckpoint(eager=True)
        )
        n_docs = docs.count()
        mh = [timed(lambda: _noop(minhash_dedup(docs))) for _ in range(args.reps)]
        emb = (
            embed_texts(docs, id_col="doc_id", dim=64)
            .select(F.col("doc_id").alias("vec_id"), F.col("embedding"))
            .localCheckpoint(eager=True)
        )
        # r sized to the corpus (≈ log2(N / 8-vector target buckets)),
        # hot-bucket guard on — the operator's documented scale levers
        r = max(6, int(math.log2(max(n_docs, 2) / 8)))
        nd = [
            timed(
                lambda: _noop(
                    embedding_near_dups(emb, rows_per_band=r, max_bucket_size=256)
                )
            )
            for _ in range(args.reps)
        ]
        out["dedup_big"] = {
            "n_docs": n_docs,
            "rows_per_band": r,
            "minhash_pairs_walls": mh,
            "embedding_neardup_walls": nd,
        }

    out["loadavg_end"] = round(os.getloadavg()[0], 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
