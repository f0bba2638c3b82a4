"""Plain per-conversation reference for the stateful merge, and a
Spark-free driver for the bucketed operator.

``reference_merge`` is the merge's contract written as loops over one
conversation at a time: each conversation's rows of a micro-batch in
``(ts, turn_idx)`` order, the first copy of an unseen ``turn_idx``
accepted, prior-turn and requesting-turn (J4) links, a version counter,
a timer at ``max(watermark, last_ts) + 1h`` and a ``session_end`` row once
the timer is strictly below the watermark of a batch without rows for it.

``run_bucketed`` drives ``state_merge._accept_turns`` the way Spark's
event-time-timeout ``applyInPandasWithState`` does: one data call per
bucket with rows, then one timed-out call per other bucket whose timeout
is strictly below the watermark.

``nodes_table`` is the node table as one aggregate per subject over the
triples: the parity twin of ``operators.merge.nodes_table_source_clustered``.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semstreams_spark.extract.triples import node_type

HOUR_MS = 3_600_000


class FakeGroupState:
    """GroupState stand-in: one state tuple, one timeout. Like Spark, the
    timeout is cleared before each call and a timeout older than the
    watermark is rejected."""

    def __init__(self):
        self._t, self.timeout = None, None
        self.hasTimedOut, self._wm = False, 0

    def begin(self, wm: int, timed_out: bool = False) -> FakeGroupState:
        self._wm, self.hasTimedOut, self.timeout = wm, timed_out, None
        return self

    @property
    def exists(self):
        return self._t is not None

    @property
    def get(self):
        return self._t

    def update(self, t):
        self._t = tuple(t)

    def remove(self):
        self._t = None

    def getCurrentWatermarkMs(self):
        return self._wm

    def setTimeoutTimestamp(self, ms):
        assert ms >= self._wm, "timeout older than the watermark"
        self.timeout = ms


def bucket_of(conv: str, n_buckets: int) -> int:
    return zlib.crc32(conv.encode()) % n_buckets


def frame(rows) -> pd.DataFrame:
    """rows: (conv_id, turn_idx, role, text, tool, ts_us) → a transcript chunk."""
    cols = list(zip(*rows)) if rows else [[]] * 6
    return pd.DataFrame(
        {
            "conv_id": pd.Series(cols[0], dtype=object),
            "turn_idx": np.array(cols[1], dtype=np.int32),
            "role": pd.Series(cols[2], dtype=object),
            "text": pd.Series(cols[3], dtype=object),
            "tool": pd.Series(cols[4], dtype=object),
            "ts": np.array(cols[5], dtype=np.int64).astype("datetime64[us]"),
        }
    )


def _opt_int(v):
    return None if pd.isna(v) else int(v)


def _opt_ts(v):
    return None if pd.isna(v) else int(pd.Timestamp(v).value // 1000)


def out_rows(frames) -> list[tuple]:
    """Accepted-row frames → comparable tuples (nulls as None, ts as µs)."""
    rows = []
    for f in frames:
        for r in f.itertuples(index=False):
            rows.append(
                (
                    r.kind, r.conv_id, _opt_int(r.turn_idx), r.role, r.text, r.tool,
                    _opt_ts(r.ts), _opt_int(r.prev_turn_idx), _opt_ts(r.prev_ts),
                    _opt_int(r.req_turn_idx), int(r.version),
                )
            )
    return rows


def reference_merge(batches):
    """batches: [(rows, watermark_ms)] → (per-batch output rows, final
    per-conversation state {conv: dict})."""
    state: dict[str, dict] = {}
    outs = []
    for rows, wm in batches:
        out = []
        by_conv: dict[str, list] = {}
        for r in rows:
            by_conv.setdefault(r[0], []).append(r)
        for conv, rs in by_conv.items():
            st = state.setdefault(
                conv,
                {"version": 0, "last_idx": None, "last_ts": None, "n_turns": 0,
                 "seen": set(), "last_req": None, "timer": None},
            )
            for _, idx, role, text, tool, ts in sorted(rs, key=lambda r: (r[5], r[1])):
                if idx in st["seen"]:
                    continue
                st["seen"].add(idx)
                st["version"] += 1
                st["n_turns"] += 1
                out.append(("turn", conv, idx, role, text, tool, ts, st["last_idx"],
                            st["last_ts"], st["last_req"], st["version"]))
                st["last_idx"], st["last_ts"] = idx, ts
                if role != "tool":
                    st["last_req"] = idx
            st["timer"] = max(wm, st["last_ts"] // 1000) + HOUR_MS
        for conv in [c for c, st in state.items() if c not in by_conv and st["timer"] < wm]:
            st = state.pop(conv)
            out.append(("session_end", conv, st["last_idx"], None, str(st["n_turns"]), None,
                        st["last_ts"], None, None, None, st["version"]))
        outs.append(out)
    return outs, state


def run_bucketed(batches, n_buckets: int, split_chunks: bool = False):
    """Drive the bucketed operator over the same batches. Returns
    (per-batch output rows, {bucket: FakeGroupState})."""
    from semstreams_spark.streaming.state_merge import _accept_turns

    states: dict[int, FakeGroupState] = {}
    outs = []
    for rows, wm in batches:
        out = []
        by_bucket: dict[int, list] = {}
        for r in rows:
            by_bucket.setdefault(bucket_of(r[0], n_buckets), []).append(r)
        for b, rs in by_bucket.items():
            gs = states.setdefault(b, FakeGroupState()).begin(wm)
            half = len(rs) // 2 if split_chunks else len(rs)
            chunks = [frame(rs[:half]), frame(rs[half:])]
            out += out_rows(_accept_turns((b,), iter(chunks), gs))
        for b, gs in states.items():
            if b not in by_bucket and gs.exists and gs.timeout < wm:
                out += out_rows(_accept_turns((b,), iter([]), gs.begin(wm, timed_out=True)))
        for b in [b for b, gs in states.items() if not gs.exists]:
            del states[b]
        outs.append(out)
    return outs, states


def nodes_table(triples: DataFrame) -> DataFrame:
    """Node per distinct subject: id, type, status, version, updated_at.

    version = number of distinct update events (ts, seq) that touched the
    subject, mirroring the reference's per-update Version increment
    (``datamanager/manager.go:693-743`` CAS version bump).
    """
    return (
        triples.groupBy(F.col("subject").alias("id"))
        .agg(
            F.count_distinct("ts", "seq").alias("version"),
            F.max("ts").alias("updated_at"),
        )
        .withColumn("type", node_type(F.col("id")))
        .withColumn("status", F.lit("active"))
        .select("id", "type", "status", "version", "updated_at")
    )
