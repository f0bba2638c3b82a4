#!/usr/bin/env python
"""Cluster deployment entrypoint for the streaming ingest pipeline.

Run via spark-submit (north-rule deployment shape):

  zip -r semstreams_spark.zip semstreams_spark
  spark-submit --py-files semstreams_spark.zip jobs/ingest_job.py \\
      --input  <directory of transcript parquet files> \\
      --output <graph table root> \\
      --checkpoint <checkpoint dir> \\
      --watermark "10 minutes" \\
      [--max-files-per-trigger 32] [--continuous]

On a real cluster the session comes from spark-submit's conf
(--num-executors N etc.); this main only sets pipeline-level options.
Exactly-once, lineage, and resume semantics are identical to the test
pipeline — same code path (streaming/pipeline.py).

Scale configuration cheat-sheet (1000-executor, 10^12-turn deployment):
  spark.sql.shuffle.partitions        ≈ 2-3x total cores (state partition
                                        count is FIXED at first checkpoint)
  spark.sql.adaptive.enabled          true (batch stages; stateful
                                        exchanges are excluded by Spark)
  spark.sql.streaming.stateStore.providerClass  RocksDB provider
  maxFilesPerTrigger / maxOffsetsPerTrigger      backpressure to keep
                                        per-batch state commits < trigger
  conv_id salting (operators/joins.py::salt_conv_key) for groupBys that
  don't need whole-conversation state; the keyed-state merge itself
  shards by conv_id hash and hot conversations stay single-task — their
  per-batch row count is bounded by the trigger size.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--watermark", default="10 minutes")
    ap.add_argument("--max-files-per-trigger", type=int, default=32)
    ap.add_argument(
        "--continuous",
        action="store_true",
        help="keep running (processingTime trigger); default drains available data and exits",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from semstreams_spark.streaming import build_ingest_stream, read_transcript_stream

    spark = SparkSession.builder.appName("semstreams-ingest").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    stream = read_transcript_stream(spark, args.input, args.max_files_per_trigger)
    q, sink = build_ingest_stream(
        stream,
        args.output,
        checkpoint_dir=args.checkpoint,
        watermark=args.watermark,
        available_now=not args.continuous,
    )
    q.awaitTermination()
    ledger = sink.ledger()
    rows = sum(e["rows"] for e in ledger)
    print(f"committed {len(ledger)} batches, {rows} delta rows -> {args.output}")


if __name__ == "__main__":
    main()
