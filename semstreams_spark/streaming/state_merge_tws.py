"""Conversation merge on Spark 4's transformWithStateInPandas — the
DEFAULT stateful engine when the runtime supports it (round-5 worklist
item: ride the maintained API).

Same per-conversation semantics as ``state_merge.py``'s
``applyInPandasWithState`` operator — (ts, turn_idx)-ordered acceptance,
cross- and intra-batch turn dedup, prior-turn linkage, tool-turn
request correlation (J4), monotone version counter, session_end on
event-time timeout (W6) — because BOTH operators call the SAME kernel
(``state_merge.merge_turns`` / ``expire``), this one with a single
conversation per call: parity is by construction, and
``tests/test_streaming.py::test_tws_matches_applyinpandaswithstate``
pins it end-to-end wherever the TWS runtime exists.

Engine selection (``state_merge.accepted_turns``): TWS when
``tws_supported()`` (protobuf importable — Spark's Python state-server
protocol needs it) and not overridden; ``SPARK_GRAFT_STATE_ENGINE=legacy``
pins applyInPandasWithState, ``=tws`` forces TWS (errors loudly where
unsupported). This image lacks protobuf, so local tests exercise the
legacy path and the TWS parity test env-skips; on a protobuf-equipped
cluster the default flips to TWS automatically.

State layout (unchanged since this engine's first checkpoints): scalars
+ the accepted turn_idx list + a conv-level props JSON, keyed by
conv_id; each call folds them into a one-conversation
``state_merge.Frontier``. Timers replace the legacy bucket timeout — one
timer per conversation at max(watermark, last event time) + 1h, replaced
on each update (deleteTimer of the previous expiry, registerTimer of the
new).
Reference semantics anchor: entity upsert + session lifecycle,
``processor/graph/messagemanager/processor.go:183-298``.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

from .state_merge import ACCEPTED_SCHEMA, EMPTY_FRONTIER, Frontier, expire, fold_seen, merge_turns

_SCALARS_SCHEMA = "version long, last_idx int, last_ts long, n_turns long, last_req_idx int"


def tws_supported() -> bool:
    """transformWithStateInPandas needs google.protobuf (the Python
    state-server wire protocol); absent → the legacy operator backs the
    pipeline.

    Probes a real protobuf module, not the bare package: under
    spark-submit the JVM jars land on the python path and
    spark-core_*.jar's Java-side ``google/protobuf`` resource directory
    imports as an EMPTY namespace package — ``import google.protobuf``
    succeeds there with no protobuf runtime behind it, which selected
    TWS on a runtime that cannot run it (measured: the job then dies in
    the TWS pre-init runner)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


class ConvMergeProcessor(StatefulProcessor):
    """Per-conversation accept/dedup/linkage on the TWS API — a thin
    stateful shell around the shared ``state_merge.merge_turns`` kernel."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._scalars = handle.getValueState("scalars", _SCALARS_SCHEMA)
        self._seen = handle.getListState("seen", "turn_idx int")
        self._props = handle.getValueState("props", "props_json string")

    def _load(self, conv_id) -> Frontier:
        if not self._scalars.exists():
            return EMPTY_FRONTIER
        version, last_idx, last_ts, n_turns, last_req_idx = self._scalars.get()
        seen = np.asarray([r[0] for r in self._seen.get()], dtype=np.int32)
        contig, exc_owner, exc_val = fold_seen(
            np.full(1, -1, np.int32), np.zeros(len(seen), np.int64), seen
        )
        one = lambda v, t: np.array([v], t)  # noqa: E731
        return Frontier(
            one(conv_id, object), one(version, np.int64), one(last_idx, np.int32),
            one(last_ts, np.int64), one(n_turns, np.int64),
            one(last_req_idx or 0, np.int32), one(last_req_idx is not None, bool),
            contig, exc_owner, exc_val, one(0, np.int64),
        )

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        chunks = [pdf for pdf in rows if len(pdf)]
        if not chunks:
            return
        wm = timerValues.getCurrentWatermarkInMs()
        out, fr = merge_turns(self._load(conv_id), pd.concat(chunks, ignore_index=True), wm)
        if out is not None:
            last_ts, last_idx = int(fr.last_ts[0]), int(fr.last_idx[0])
            props = json.loads(self._props.get()[0]) if self._props.exists() else {}
            cur = props.get("conv.last_activity")
            cand = [last_ts, last_idx]
            if cur is None or cand > cur:
                props["conv.last_activity"] = cand
            self._scalars.update(
                (
                    int(fr.version[0]), last_idx, last_ts, int(fr.n_turns[0]),
                    int(fr.last_req[0]) if fr.has_req[0] else None,
                )
            )
            self._props.update((json.dumps(props),))
            self._seen.appendList([(int(i),) for i in out["turn_idx"]])

        # evict idle conversations at the kernel's timer, max(watermark,
        # last event time) + 1h — the legacy operator's rule; timers
        # REPLACE, so drop the prior one (at most one exists per
        # conversation by this invariant)
        new_expiry = int(fr.timer_ms[0])
        for expiry in list(self._handle.listTimers()):
            if expiry != new_expiry:
                self._handle.deleteTimer(expiry)
        self._handle.registerTimer(new_expiry)

        if out is not None:
            yield out

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        if not self._scalars.exists():
            return
        fr = self._load(conv_id)
        self._scalars.clear()
        self._seen.clear()
        self._props.clear()
        yield expire(fr, np.ones(1, bool))[0]

    def close(self) -> None:
        pass


def accepted_turns_tws(transcripts: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming accepted-turn stream on transformWithStateInPandas —
    output-identical to state_merge's legacy operator (shared kernel)."""
    return (
        transcripts.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .transformWithStateInPandas(
            statefulProcessor=ConvMergeProcessor(),
            outputStructType=ACCEPTED_SCHEMA,
            outputMode="Append",
            timeMode="EventTime",
        )
    )
