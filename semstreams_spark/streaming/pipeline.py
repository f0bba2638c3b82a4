"""End-to-end streaming ingest pipeline.

SURVEY §3.1 restated: readStream(transcripts) → watermark →
per-conversation stateful accept (bucketed ``applyInPandasWithState``) →
Catalyst triple fan-out (the ``extract.triples`` builders) → exactly-once
sink, and with rules the streaming rule stage fanned out of the same
micro-batch (``rules_stage``). The window, session and interval-join
operators have no streaming form of their own: the registry's operators
(``operators.windows``, ``operators.sessions``, ``operators.joins``) run
unchanged on ``read_transcript_stream(...).withWatermark("ts", ...)``.

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

from ..rules.engine import Rule
from .rules_stage import StreamingRuleStage
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
    rules: list[Rule] | None = None,
) -> tuple[StreamingQuery, ExactlyOnceParquetSink]:
    """Wire the full pipeline and start it; returns the query and the
    ``graph_deltas`` sink.

    With ``rules``, the streaming rule stage runs in the SAME
    foreachBatch: the batch persists, the deltas commit first, then the
    rules evaluate on the persisted batch and commit to
    ``<out_dir>/rule_events`` (read it through an
    ``ExactlyOnceParquetSink`` on that directory). A crash between the
    two commits replays the batch; the delta sink only drains it (ledger)
    and only the rule stage commits — no duplicate output on either
    table."""
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
    sink = ExactlyOnceParquetSink(os.path.join(out_dir, "graph_deltas"), checkpoint_dir)
    if rules is None:
        batch_fn = sink
    else:
        rule_stage = StreamingRuleStage(out_dir, rules, checkpoint_dir)

        def batch_fn(batch_df, batch_id):
            # two consumers of one micro-batch: persist so the stateful
            # upstream runs once (A5 fan-out)
            batch_df.persist()
            try:
                sink(batch_df, batch_id)
                rule_stage(batch_df, batch_id)
            finally:
                batch_df.unpersist()

    writer = deltas.writeStream.foreachBatch(batch_fn).outputMode("append")
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
