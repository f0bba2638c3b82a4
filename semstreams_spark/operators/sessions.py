"""Sessionization of conversations.

The reference has no explicit sessionization (entity lifetime ≈ session,
KV TTL 7d, ``rule/entity_watcher.go:30``); the north-star mandates
session windows keyed by conv_id. ``sessionize`` is one
``F.session_window`` aggregation: the same operator on a batch frame and
on a watermarked stream (the caller puts the watermark on the stream).
The DuckDB oracle computes the same sessions by lag(ts) + cumulative sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the registry's session gap
GAP_MINUTES = 30


def sessionize(transcripts: DataFrame) -> DataFrame:
    """Gap-based sessions per conversation, in event time: a gap of more
    than ``GAP_MINUTES`` between two turns starts a new session, a gap of
    exactly ``GAP_MINUTES`` does not. Independent of input order.

    Output: (conv_id, session_start, session_end, n_turns), where
    session_end is the session's last turn.
    """
    return (
        transcripts.groupBy("conv_id", F.session_window("ts", f"{GAP_MINUTES} minutes"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_turns"),
        )
        .drop("session_window")
    )
