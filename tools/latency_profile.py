#!/usr/bin/env python
"""Per-trigger latency profile of the streaming ingest.

Runs the e2e ingest as N micro-batches (maxFilesPerTrigger=1) and prints
each StreamingQueryProgress's durationMs breakdown plus the stateful
operator's commit/update times — the feedback loop for driving down the
north metric's triple-emit p95. ``st_rows`` is the state operator's
numRowsUpdated: the merge's state is keyed by hash bucket, so it counts
buckets written per trigger, not conversations.

Usage: python tools/latency_profile.py [--sf 0.1] [--files 20] [--cores N]
(--cores defaults to $SPARK_GRAFT_CPUS, else the host's CPU count)
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--files", type=int, default=20)
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()))
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--workdir", default=None)
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        metavar="K=V",
        help="extra SparkSession conf (repeatable), e.g. "
        "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows=false",
    )
    ap.add_argument(
        "--shuffled",
        action="store_true",
        help="stage a RANDOM file split (every micro-batch touches "
        "~every conversation's state — adversarial worst case) instead "
        "of the default event-time-ordered slices bench.py's latency "
        "stream uses (a stream's real arrival pattern)",
    )
    ap.add_argument(
        "--watermark",
        default="90 days",
        help="bench.py's latency stream uses '90 days' (the staged input "
        "is a RANDOM repartition, so every file spans the full event-time "
        "range — a short watermark silently drops most rows as late and "
        "the profile measures near-empty state batches)",
    )
    ap.add_argument(
        "--rules",
        action="store_true",
        help="run the FULL pipeline (ingest + streaming rule stage in "
        "the same foreachBatch, DEFAULT_RULES) — the soak configuration: "
        "the rule stage holds the per-trigger ledger/seed reads whose "
        "boundedness the slope stats evidence",
    )
    ap.add_argument(
        "--warmup",
        action="store_true",
        help="run one big-batch ingest first (bench.py conditions: warm "
        "JVM + python worker pool before the latency stream starts)",
    )
    args = ap.parse_args()

    from semstreams_spark.datagen import ensure_transcripts, transcripts_path
    from semstreams_spark.session import get_spark
    from semstreams_spark.streaming import build_ingest_stream, read_transcript_stream

    ensure_transcripts(args.sf)
    spark = get_spark(
        "latency_profile",
        cores=args.cores,
        shuffle_partitions=args.shuffle_partitions or args.cores,
        # keep every trigger's progress for long soaks (default cap 100)
        extra_conf={
            "spark.sql.streaming.numRecentProgressUpdates": str(max(200, 2 * args.files)),
            **dict(kv.split("=", 1) for kv in args.conf),
        },
    )
    workdir = args.workdir or tempfile.mkdtemp(prefix="semspark_latprof_")

    from bench import stage_stream_input

    ordered = not args.shuffled
    indir = os.path.join(workdir, f"in_{'ord_' if ordered else ''}{args.files}")
    stage_stream_input(spark, transcripts_path(args.sf), indir, args.files, ordered)

    if args.warmup:
        wdir = os.path.join(workdir, "warm")
        for d in (os.path.join(wdir, "out"), os.path.join(wdir, "ckpt")):
            if os.path.exists(d):
                shutil.rmtree(d)
        wq, _ = build_ingest_stream(
            read_transcript_stream(spark, indir, max_files_per_trigger=args.files),
            os.path.join(wdir, "out"),
            checkpoint_dir=os.path.join(wdir, "ckpt"),
            watermark=args.watermark,
            once=True,
        )
        wq.awaitTermination()

    outdir = os.path.join(workdir, "out")
    ckpt = os.path.join(workdir, "ckpt")
    for d in (outdir, ckpt):
        if os.path.exists(d):
            shutil.rmtree(d)

    stream = read_transcript_stream(spark, indir, max_files_per_trigger=1)
    t0 = time.monotonic()
    if args.rules:
        from semstreams_spark.rules.engine import DEFAULT_RULES
        from semstreams_spark.streaming.rules_stage import build_ingest_with_rules

        q, _, _ = build_ingest_with_rules(
            stream, outdir, DEFAULT_RULES, checkpoint_dir=ckpt, watermark=args.watermark
        )
    else:
        q, _ = build_ingest_stream(stream, outdir, checkpoint_dir=ckpt, watermark=args.watermark)
    q.awaitTermination()
    wall = time.monotonic() - t0

    rows = []
    for j in q.recentProgress:
        p = json.loads(j.json)
        if p.get("numInputRows", 0) == 0:
            continue
        d = p.get("durationMs", {})
        obs = (p.get("observedMetrics") or {}).get("ingest_source", {})
        st = (p.get("stateOperators") or [{}])[0]
        cm = st.get("customMetrics", {})
        rows.append(
            {
                "batch": p["batchId"],
                "rows": p["numInputRows"],
                "trigger": d.get("triggerExecution"),
                "addBatch": d.get("addBatch"),
                "getBatch": d.get("getBatch"),
                "latestOffset": d.get("latestOffset"),
                "queryPlanning": d.get("queryPlanning"),
                "walCommit": d.get("walCommit"),
                "commitOffsets": d.get("commitOffsets"),
                "st_commit": st.get("allUpdatesTimeMs"),
                "st_commitTime": st.get("commitTimeMs"),
                "st_rows": st.get("numRowsUpdated"),
                "ev_min": obs.get("min_event_ts"),
                "ev_max": obs.get("max_event_ts"),
                "rocks_commit": cm.get("rocksdbCommitTotalLatency"),
                "rocks_load": cm.get("loadedMapCacheHitCount"),
            }
        )
    print(json.dumps(rows, indent=1))
    trig = sorted(r["trigger"] for r in rows)

    # stream-age growth stats (the soak's point): an always-on stream
    # must NOT get slower as history accumulates. OLS slope of trigger
    # wall on batch index over the steady region, plus the noise-robust
    # first-half vs second-half medians.
    steady = [r["trigger"] for r in rows[4:] if r["trigger"] is not None]
    slope = None
    med1 = med2 = None
    if len(steady) >= 8:
        n = len(steady)
        xbar = (n - 1) / 2.0
        ybar = sum(steady) / n
        sxy = sum((i - xbar) * (y - ybar) for i, y in enumerate(steady))
        sxx = sum((i - xbar) ** 2 for i in range(n))
        slope = round(sxy / sxx, 3)
        h1, h2 = sorted(steady[: n // 2]), sorted(steady[n // 2 :])
        med1, med2 = h1[len(h1) // 2], h2[len(h2) // 2]
    print(
        json.dumps(
            {
                "wall_s": round(wall, 2),
                "n_batches": len(rows),
                "trigger_min_ms": trig[0] if trig else None,
                "trigger_med_ms": trig[len(trig) // 2] if trig else None,
                "trigger_p95_ms": trig[min(len(trig) - 1, int(round(0.95 * (len(trig) - 1))))]
                if trig
                else None,
                "sum_addBatch_ms": sum(r["addBatch"] or 0 for r in rows),
                "sum_trigger_ms": sum(r["trigger"] or 0 for r in rows),
                "trigger_slope_ms_per_batch": slope,
                "med_first_half_ms": med1,
                "med_second_half_ms": med2,
                "rules_stage": bool(args.rules),
            }
        )
    )


if __name__ == "__main__":
    main()
