#!/usr/bin/env python
"""Checkpoint-restart cost of the streaming ingest.

North-rule resume evidence beyond correctness (the kill/resume tests):
how much does a restart COST once real history exists? Protocol:

1. stage a time-ordered file split; drain the FIRST HALF as 1-file
   micro-batches (building RocksDB state + sink ledger history);
2. stop the query, stage the second half, rebuild the SAME stream on
   the SAME checkpoint in a FRESH session (a restart is a new driver);
3. report restart-to-first-commit wall and the per-trigger stats of the
   resumed run vs the pre-restart steady state.

Bounded-restart claim under test: the resumed first trigger pays ledger
checkpoint + suffix reads (≤ 1 + compact_every metadata opens,
sink.py), RocksDB state reload for the touched partitions, and one
batch of work — NOT O(stream history) scans.

Usage: python tools/restart_bench.py [--sf 0.1] [--files 80] [--cores N]
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


def per_batch(q):
    return [
        json.loads(j.json)["durationMs"].get("triggerExecution", 0)
        for j in q.recentProgress
        if json.loads(j.json).get("numInputRows", 0) > 0
    ]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--files", type=int, default=80, help="total; half per phase")
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()))
    ap.add_argument("--state-partitions", type=int, default=8)
    args = ap.parse_args()

    from bench import stage_stream_input

    from semstreams_spark.datagen import ensure_transcripts, transcripts_path
    from semstreams_spark.session import get_spark
    from semstreams_spark.streaming import build_ingest_stream, read_transcript_stream

    ensure_transcripts(args.sf)
    workdir = tempfile.mkdtemp(prefix="semspark_restart_")
    staged = os.path.join(workdir, "staged")
    indir = os.path.join(workdir, "in")
    outdir, ckpt = os.path.join(workdir, "out"), os.path.join(workdir, "ckpt")
    os.makedirs(indir)

    def session():
        return get_spark(
            "restart_bench",
            cores=args.cores,
            shuffle_partitions=args.state_partitions,
            extra_conf={"spark.sql.streaming.numRecentProgressUpdates": str(2 * args.files)},
        )

    spark = session()
    stage_stream_input(spark, transcripts_path(args.sf), staged, args.files, time_ordered=True)
    files = sorted(
        (f for f in os.listdir(staged) if f.endswith(".parquet")),
        key=lambda f: os.path.getmtime(os.path.join(staged, f)),
    )
    half = len(files) // 2

    def reveal(names):
        for f in names:
            shutil.copy2(os.path.join(staged, f), os.path.join(indir, f))

    # phase 1: drain first half as 1-file micro-batches
    reveal(files[:half])
    q, _ = build_ingest_stream(
        read_transcript_stream(spark, indir, max_files_per_trigger=1),
        outdir,
        checkpoint_dir=ckpt,
        watermark="90 days",
    )
    q.awaitTermination()
    pre = per_batch(q)
    n_turns_pre = sum(json.loads(j.json)["numInputRows"] for j in q.recentProgress)

    # phase 2: RESTART — fresh session (new driver), same checkpoint
    spark.stop()
    spark = session()
    reveal(files[half:])
    t0 = time.monotonic()
    q, _ = build_ingest_stream(
        read_transcript_stream(spark, indir, max_files_per_trigger=1),
        outdir,
        checkpoint_dir=ckpt,
        watermark="90 days",
    )
    # first-commit wall: poll the progress stream
    first_commit_s = None
    while q.isActive:
        if q.recentProgress and json.loads(q.recentProgress[-1].json).get("numInputRows", 0) > 0:
            first_commit_s = time.monotonic() - t0
            break
        time.sleep(0.2)
    q.awaitTermination()
    if first_commit_s is None:
        first_commit_s = time.monotonic() - t0
    post = per_batch(q)

    def med(v):
        return sorted(v)[len(v) // 2] if v else None

    print(
        json.dumps(
            {
                "sf": args.sf,
                "files_per_phase": half,
                "turns_phase1": n_turns_pre,
                "pre_med_ms": med(pre[4:]),
                "restart_to_first_commit_s": round(first_commit_s, 2),
                "post_first_trigger_ms": post[0] if post else None,
                "post_med_ms": med(post[4:]),
                "n_pre": len(pre),
                "n_post": len(post),
                "loadavg_1m": round(os.getloadavg()[0], 2),
            }
        )
    )


if __name__ == "__main__":
    main()
