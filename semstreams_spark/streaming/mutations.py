"""Streaming entity-delete (tombstone) ingestion.

Reference: delete mutations arrive on the same event bus as upserts and
flow through the graph processor (``processor/graph/mutations.go:169``),
with the rule processor reacting to DELETED changes
(``processor/rule/entity_watcher.go:60-109``).

Spark shape: tombstones are their own micro-batched stream
``(entity_id, ts)`` written through the SAME exactly-once ledger sink as
graph deltas — so replays after failure never double-count a tombstone's
version bump. Readers compose the committed deltas + deletes tables with
``operators.mutations`` (apply_deletes / nodes_with_status /
edges_after_deletes); the DELETED rule event stream is
``deletion_events`` over each committed micro-batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .sink import ExactlyOnceParquetSink

DELETE_DDL = "entity_id string, ts timestamp"


def read_delete_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-based micro-batch source of tombstone events."""
    raw = (
        spark.readStream.schema(DELETE_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    return raw.filter(F.col("entity_id").isNotNull() & F.col("ts").isNotNull())


def build_delete_stream(
    deletes: DataFrame,
    out_dir: str,
    checkpoint_dir: str | None = None,
) -> tuple[StreamingQuery, ExactlyOnceParquetSink]:
    """Tombstone stream → exactly-once committed deletes table.

    Within-batch duplicate tombstones collapse (same guard class as the
    turn stream's intra-batch dedup); cross-batch replay is handled by the
    sink's batch ledger."""
    sink = ExactlyOnceParquetSink(os.path.join(out_dir, "deletes"), checkpoint_dir)

    def commit(batch_df, batch_id):
        sink(batch_df.dropDuplicates(["entity_id", "ts"]), batch_id)

    writer = (
        deletes.writeStream.foreachBatch(commit)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start(), sink
