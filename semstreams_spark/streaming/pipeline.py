"""End-to-end streaming ingest pipeline.

SURVEY §3.1 restated: readStream(transcripts) → watermark →
per-conversation stateful accept (bucketed ``applyInPandasWithState``) →
Catalyst triple fan-out (the ``extract.triples`` builders) → exactly-once
sink; windowed aggregates and session windows run as parallel stages off
the same source.

Local tests drive it with file-source micro-batches
(``maxFilesPerTrigger``) + ``trigger(availableNow=True)``; on a real
cluster the same code points at Iceberg/Kafka sources — only
``read_transcript_stream`` changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..extract.triples import mention_names
from .sink import ExactlyOnceParquetSink
from .state_merge import conversation_graph_deltas, pin_state_engine

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def read_transcript_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-based micro-batch source over a directory of parquet files.

    ``maxFilesPerTrigger`` bounds each micro-batch (backpressure, W4 —
    lossless, unlike the reference's drop-oldest buffers).
    """
    raw = (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    return _validate(raw)


def read_transcript_stream_from_table(
    spark: SparkSession, table: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Catalog-table micro-batch source: the north-star's "read
    micro-batches from an Iceberg table" shape. The table is resolved by
    NAME through the session catalog (bind it with
    ``plans.catalog.bind_published_tables`` — on a lakehouse-equipped
    cluster the same call streams an Iceberg table's snapshot feed; on
    this runtime it is the file-source table incarnation). Validation
    is identical to the path source, so downstream parity holds by
    construction (test-asserted)."""
    raw = (
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
        .table(table)
    )
    return _validate(raw)


def _validate(raw: DataFrame) -> DataFrame:
    # message validation (reference Validate(), message/message.go:20-44):
    # rows missing identity or event time are dropped, not propagated —
    # also guards against foreign parquet files in the input directory
    return raw.filter(
        F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull() & F.col("ts").isNotNull()
    )


def build_ingest_stream(
    transcripts: DataFrame,
    out_dir: str,
    checkpoint_dir: str | None = None,
    watermark: str = "10 minutes",
    available_now: bool = True,
    once: bool = False,
    fail_at_batch: int | None = None,
    commit_mode: str = "rename",
) -> tuple[StreamingQuery, ExactlyOnceParquetSink]:
    """Wire the full pipeline and start it.

    fail_at_batch: inject a crash AFTER writing batch N's output (and
    its manifest, in manifest mode) but BEFORE its ledger commit — the
    checkpoint-recovery test asserts exactly-once output across the
    restart.

    commit_mode: "rename" (POSIX atomic dir rename) or "manifest"
    (object-store-safe manifest-listing commit, no renames) — see
    sink.ExactlyOnceParquetSink.
    """
    # observed source metrics (rows + event-time bounds per micro-batch):
    # surfaces in StreamingQueryProgress.observedMetrics alongside the
    # sink ledger's per-partition lineage — together the "lineage +
    # metrics" contract; event-time min vs watermark exposes late-data
    # pressure without touching the hot path (metrics ride the same scan)
    transcripts = transcripts.observe(
        "ingest_source",
        F.count(F.lit(1)).alias("rows"),
        F.min("ts").alias("min_event_ts"),
        F.max("ts").alias("max_event_ts"),
        F.approx_count_distinct("conv_id").alias("approx_convs"),
    )
    n_buckets = pin_state_engine(checkpoint_dir, transcripts.sparkSession)
    deltas = conversation_graph_deltas(transcripts, n_buckets, watermark=watermark)
    sink = ExactlyOnceParquetSink(os.path.join(out_dir, "graph_deltas"), commit_mode=commit_mode)

    if fail_at_batch is not None:
        inner = sink

        def crashing(batch_df, batch_id):
            if batch_id == fail_at_batch and not inner.committed(batch_id):
                # simulate executor/driver failure mid-commit: data (and
                # manifest, in manifest mode) written, ledger not —
                # replay must not double-write
                inner._simulate_partial_commit(batch_df, batch_id)
                raise RuntimeError(f"injected failure at batch {batch_id}")
            inner(batch_df, batch_id)

        fn = crashing
    else:
        fn = sink

    writer = deltas.writeStream.foreachBatch(fn).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if once:
        # single batch, no trailing empty batch — used by the throughput
        # bench where the fixed cost of the final no-data batch would
        # pollute the measurement
        writer = writer.trigger(once=True)
    elif available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start(), sink


def windowed_degree_stream(
    transcripts: DataFrame, watermark: str = "10 minutes", width: str = "5 minutes"
) -> DataFrame:
    """Streaming tumbling-window mention in-degree (A6) off the raw stream —
    pure built-ins end-to-end (no Python in this branch)."""
    mentions = transcripts.select("conv_id", "ts", F.explode(mention_names()).alias("entity"))
    return (
        mentions.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "entity")
        .agg(F.count(F.lit(1)).alias("in_degree"), F.approx_count_distinct("conv_id").alias("approx_convs"))
        .select(F.col("w.start").alias("window_start"), "entity", "in_degree", "approx_convs")
    )
