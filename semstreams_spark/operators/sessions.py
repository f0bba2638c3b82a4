"""Sessionization of conversations.

The reference has no explicit sessionization (entity lifetime ≈ session,
KV TTL 7d, ``rule/entity_watcher.go:30``); the north-star mandates
session windows keyed by conv_id. Two equivalent forms:

- batch: gap-based sessions via lag(ts) + cumulative sum (the classic
  Spark idiom; also the DuckDB oracle form)
- streaming: ``F.session_window(ts, gap)`` under a watermark
  (``session_window_streaming`` below)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# the registry's session gap
GAP_MINUTES = 30


def sessionize(transcripts: DataFrame) -> DataFrame:
    """Gap-based sessions per conversation, ordered by event time: a gap
    of more than ``GAP_MINUTES`` starts a new session.

    Ordering contract: (ts, turn_idx) — stable under out-of-order input.
    Output: (conv_id, session_id, session_start, session_end, n_turns).
    """
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    gap_us = GAP_MINUTES * 60 * 1_000_000
    prev_ts = F.lag("ts").over(w)
    # microsecond-exact gap test (works for TIMESTAMP and TIMESTAMP_NTZ;
    # second-granularity diffs would disagree with the oracle at sub-second
    # boundaries)
    diff_us = F.timestamp_diff("MICROSECOND", prev_ts, F.col("ts"))
    flagged = transcripts.withColumn(
        "new_session",
        F.when(diff_us > F.lit(gap_us), F.lit(1)).otherwise(F.lit(0)),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return flagged.groupBy("conv_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_turns"),
    )


def session_window_streaming(transcripts: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes") -> DataFrame:
    """Streaming-native session windows keyed by conv_id (north-star W3)."""
    return (
        transcripts.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "conv_id")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            "conv_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_turns",
        )
    )
