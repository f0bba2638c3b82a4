"""Join patterns: alias resolution (broadcast), turn→prior-turn,
turn→tool-invocation correlation.

Reference patterns generalized (SURVEY §2.4):
- J1 alias resolution = broadcast hash join with the small ALIAS_INDEX dim
  (``indexmanager/indexes.go:509-809``); unresolvable aliases pass through
  unchanged (``messagemanager/processor.go:192-196``).
- J3 turn→prior-turn = lag() over (conv_id, turn_idx) in batch; keyed
  state in streaming (streaming/state_merge.py).
- J4 turn→tool correlation, two forms:
  - each tool turn is attributed to the most recent preceding non-tool
    turn in the same conversation (the turn whose request triggered the
    tool), via last(ignorenulls) — no shuffle beyond the single
    per-conversation sort;
  - an interval join: each tool turn joined to every non-tool turn of the
    same conversation within the preceding 60 s. It is the same operator
    on a batch frame and on a watermarked stream (the caller puts the
    watermark on the stream), where the range condition lets Spark evict
    join state older than the watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def resolve_aliases(df: DataFrame, aliases: DataFrame) -> DataFrame:
    """Map df's ``dst`` through the alias dim (alias -> canonical) into
    ``dst_resolved``; unresolved pass through.

    aliases: (alias string, canonical string). Broadcast — the dim is tiny.
    """
    dim = aliases.select(F.col("alias"), F.col("canonical"))
    return (
        df.join(F.broadcast(dim), df["dst"] == dim["alias"], "left")
        .withColumn("dst_resolved", F.coalesce(F.col("canonical"), df["dst"]))
        .drop("alias", "canonical")
    )


def turn_with_prior(transcripts: DataFrame) -> DataFrame:
    """Attach the previous turn's text/role per conversation (stable order
    by turn_idx — the engine's documented ordering contract)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "ts",
        F.lag("text").over(w).alias("prev_text"),
        F.lag("role").over(w).alias("prev_role"),
        F.lag("ts").over(w).alias("prev_ts"),
    )


def tool_invocation_correlation(transcripts: DataFrame) -> DataFrame:
    """For each tool turn: the most recent preceding non-tool turn (the
    'requesting' turn) in the same conversation.

    Output: (conv_id, turn_idx, tool, ts, req_turn_idx, req_role, req_ts).
    """
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    req_idx = F.last(
        F.when(F.col("role") != "tool", F.col("turn_idx")), ignorenulls=True
    ).over(w)
    req_role = F.last(
        F.when(F.col("role") != "tool", F.col("role")), ignorenulls=True
    ).over(w)
    req_ts = F.last(
        F.when(F.col("role") != "tool", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        transcripts.select(
            "conv_id",
            "turn_idx",
            "role",
            "tool",
            "ts",
            req_idx.alias("req_turn_idx"),
            req_role.alias("req_role"),
            req_ts.alias("req_ts"),
        )
        .filter(F.col("role") == "tool")
        .drop("role")
    )


def tool_request_interval_join(transcripts: DataFrame) -> DataFrame:
    """Each tool turn joined to every non-tool turn of the same
    conversation within the preceding 60 s — equi-join on conv_id plus a
    range predicate (no cartesian).

    Output: (conv_id, turn_idx, tool, ts, req_turn_idx, req_ts).
    """
    tools = transcripts.filter(F.col("role") == "tool").select(
        "conv_id", "turn_idx", "tool", "ts"
    )
    reqs = transcripts.filter(F.col("role") != "tool").select(
        F.col("conv_id").alias("r_conv"),
        F.col("turn_idx").alias("req_turn_idx"),
        F.col("ts").alias("req_ts"),
    )
    return (
        tools.join(
            reqs,
            (tools["conv_id"] == reqs["r_conv"])
            & (reqs["req_ts"] <= tools["ts"])
            & (reqs["req_ts"] > tools["ts"] - F.expr("INTERVAL 60 SECOND")),
        )
        .select("conv_id", "turn_idx", "tool", "ts", "req_turn_idx", "req_ts")
    )


# salts per conversation key
N_SALTS = 8


def salt_conv_key(df: DataFrame) -> DataFrame:
    """Hot-conversation skew mitigation (J7): salted composite key, one of
    ``N_SALTS`` per conversation, for shuffle-heavy per-conv aggregations
    that don't need total per-conv state. Use with a two-phase agg (partial per salted key, final per
    conv_id). AQE skew-join handles the join side; this handles groupBy.
    """
    return df.withColumn(
        "conv_salt",
        F.concat(
            F.col("conv_id"),
            F.lit("#"),
            F.pmod(F.hash("turn_idx"), F.lit(N_SALTS)).cast("string"),
        ),
    )
