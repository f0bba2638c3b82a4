"""Stateful conversation merge — the streaming heart.

``applyInPandasWithState`` holding per-conversation graph frontiers
(north-star A1/J3): the streaming re-expression of the reference's
entity upsert path (``processor/graph/messagemanager/processor.go:183-298``)
where state lived in NATS JetStream KV; here it lives in Spark's
(RocksDB) state store.

Keying. The operator is grouped by ``bucket = pmod(xxhash64(conv_id),
B)``, not by ``conv_id``: Spark's per-group machinery (state load/store,
Arrow slicing, one Python call) costs milliseconds per key while the
merge itself is microseconds per conversation, so one call serves every
conversation of a bucket. ``merge_turns`` is one vectorized
kernel over all of them: a lexsort on ``(conv, ts, turn_idx)``, then
per-segment shift and forward-fill for the prior-turn and requesting-turn
links and per-conversation version offsets. The Python function does the
MINIMUM stateful work — re-delivery dedup, prior-turn linkage, version
counters, session tracking — and emits one row per *accepted turn*; the
5-7x triple fan-out happens DOWNSTREAM in pure Catalyst expressions.

Bucket count. B = ``BUCKETS_PER_PARTITION`` (8) × the state partitions
(``spark.sql.shuffle.partitions`` when the checkpoint is created), and
the checkpoint records it (``pin_state_engine``). A group call spends
about 6 ms in pyspark's per-group state and pandas handling against
about 2 ms in ``merge_turns`` (local[2], sf0.002), so B follows the
partitions, each of which runs one task per trigger: a constant 64 makes
64 calls per data trigger at 2 partitions and leaves 147 of 200
partitions without a bucket. At 2 partitions, B=16 against 64 on the
perfbench bulk ingest (seed 2001, per run): 32 group calls against 128,
the stateful node's Python time 792 ms against 1445 and its state
update time 1593 ms against 2002, with the same rows out of Python. A
sweep of a constant B over 32-256 at 2 partitions, two rounds each, had
not resolved these counts.

State layout. A bucket's state is one Arrow IPC blob (``_FRONTIER``)
with one row per live conversation, O(conversations) not O(turns):
- ``version``: monotonically incremented per accepted turn (reference CAS
  version bump, ``datamanager/manager.go:693-743``); ``n_turns`` counts them
- ``last_idx``/``last_ts``: the latest accepted turn — the turn→prior-turn
  join without a shuffle join
- ``last_req_idx``: the latest accepted non-tool turn (J4), null if none
- ``contig`` + ``exceptions``: the accepted ``turn_idx`` set as "every
  turn 0..contig" plus the out-of-order rest (re-delivery dedup; the
  exception list is empty for in-order streams)
- ``timer_ms``: the conversation's event-time timeout

Timer rule. A conversation's timer is ``max(watermark, last_ts) + 1h``,
re-armed whenever it receives rows (duplicates included); it fires on
Spark's strict ``timer < watermark`` rule, emitting one ``session_end``
summary row and evicting the conversation (W6). The bucket's own Spark
timeout is the minimum over its conversations. A call with data also
expires the bucket's idle conversations whose timer has passed, since
Spark would have timed them out in that batch under per-conversation
keying.

Determinism contract: within a micro-batch, each conversation's turns
are processed in ``(ts, turn_idx)`` order (the first copy of a duplicated
``turn_idx`` in that order wins); across batches LWW ordering makes the
final merged state independent of batch boundaries.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pandas.arrays import IntegerArray
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import BinaryType, StructField, StructType

from ..extract.triples import CONVERSATION_ID, MENTION_TRIPLES, PROPERTY_TRIPLES, SOURCE, TURN_SUBJECT

ACCEPTED_SCHEMA = (
    "kind string, conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp, prev_turn_idx int, prev_ts timestamp, "
    "req_turn_idx int, version long"
)

# Buckets per state partition; a checkpoint records its bucket count at
# creation (see pin_state_engine), since the count decides which state row
# holds a conversation.
BUCKETS_PER_PARTITION = 8

SESSION_TIMEOUT_MS = 3_600_000

STATE_SCHEMA = StructType([StructField("frontier", BinaryType())])

_FRONTIER = pa.schema(
    [
        ("conv_id", pa.string()),
        ("version", pa.int64()),
        ("last_idx", pa.int32()),
        ("last_ts", pa.int64()),  # µs epoch
        ("n_turns", pa.int64()),
        ("last_req_idx", pa.int32()),
        ("contig", pa.int32()),
        ("exceptions", pa.list_(pa.int32())),
        ("timer_ms", pa.int64()),
    ]
)


class Frontier(NamedTuple):
    """Per-conversation merge state, one array element per conversation.
    Exceptions are (owner row, turn_idx) pairs sorted by owner."""

    conv_id: np.ndarray  # object
    version: np.ndarray  # int64
    last_idx: np.ndarray  # int32
    last_ts: np.ndarray  # int64, µs epoch
    n_turns: np.ndarray  # int64
    last_req: np.ndarray  # int32, valid where has_req
    has_req: np.ndarray  # bool
    contig: np.ndarray  # int32: turns 0..contig all accepted (-1: none)
    exc_owner: np.ndarray  # int64
    exc_val: np.ndarray  # int32
    timer_ms: np.ndarray  # int64


EMPTY_FRONTIER = Frontier(
    np.empty(0, object),
    *(np.empty(0, t) for t in (np.int64, np.int32, np.int64, np.int64, np.int32, bool, np.int32)),
    np.empty(0, np.int64),
    np.empty(0, np.int32),
    np.empty(0, np.int64),
)


def encode_frontier(fr: Frontier) -> bytes:
    """The bucket's state blob: one Arrow IPC batch of ``_FRONTIER``."""
    offsets = np.zeros(len(fr.conv_id) + 1, np.int32)
    np.cumsum(np.bincount(fr.exc_owner, minlength=len(fr.conv_id)), out=offsets[1:])
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(fr.conv_id, pa.string()),
            *(pa.array(a) for a in (fr.version, fr.last_idx, fr.last_ts, fr.n_turns)),
            pa.array(fr.last_req, mask=~fr.has_req),
            pa.array(fr.contig),
            pa.ListArray.from_arrays(pa.array(offsets), pa.array(fr.exc_val)),
            pa.array(fr.timer_ms),
        ],
        schema=_FRONTIER,
    )
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, _FRONTIER) as w:
        w.write_batch(batch)
    return sink.getvalue().to_pybytes()


def decode_frontier(blob: bytes) -> Frontier:
    """Inverse of ``encode_frontier``; the arrays may be read-only views."""
    b = pa.ipc.open_stream(blob).read_next_batch()
    req, exc = b.column("last_req_idx"), b.column("exceptions")
    return Frontier(
        b.column("conv_id").to_numpy(zero_copy_only=False),
        *(b.column(c).to_numpy() for c in ("version", "last_idx", "last_ts", "n_turns")),
        req.fill_null(0).to_numpy(),
        req.is_valid().to_numpy(zero_copy_only=False),
        b.column("contig").to_numpy(),
        pc.list_parent_indices(exc).to_numpy().astype(np.int64),
        pc.list_flatten(exc).to_numpy(),
        b.column("timer_ms").to_numpy(),
    )


def _subset(fr: Frontier, keep: np.ndarray) -> Frontier:
    """The conversations where keep is set, exceptions re-pointed."""
    row = np.cumsum(keep) - 1
    ek = keep[fr.exc_owner]
    return Frontier(
        *(a[keep] for a in fr[:8]), row[fr.exc_owner[ek]], fr.exc_val[ek], fr.timer_ms[keep]
    )


def fold_seen(contig, owner, val):
    """Merge accepted turns (owner row, turn_idx) — distinct, and outside
    each owner's accepted set — into (contig, exceptions): each owner's run
    0..contig extends while its next turn_idx is present; the rest stays
    an exception. Returns (contig, exc_owner, exc_val), owner-sorted."""
    o = np.lexsort((val, owner))
    owner, val = owner[o], val[o]
    base = contig[owner].astype(np.int64)
    cand = np.flatnonzero(val > base)
    oc = owner[cand]
    pos = np.arange(len(cand))
    first = np.ones(len(cand), bool)
    first[1:] = oc[1:] != oc[:-1]
    rank = pos - np.maximum.accumulate(np.where(first, pos, 0)) + 1
    # candidates ascend strictly, so val - rank is non-decreasing and the
    # ones still on the run (val - rank == contig) are a prefix
    on_run = val[cand] - rank == base[cand]
    keep = np.ones(len(owner), bool)
    keep[cand[on_run]] = False
    contig = (contig + np.bincount(oc[on_run], minlength=len(contig))).astype(np.int32)
    return contig, owner[keep], val[keep]


def _shift(a: np.ndarray) -> np.ndarray:
    out = np.empty_like(a)
    out[1:] = a[:-1]
    out[:1] = 0
    return out


def merge_turns(fr: Frontier, pdf: pd.DataFrame, wm_ms: int):
    """Accept one batch of transcript rows (any number of conversations)
    into the frontier and re-arm the timers of the conversations that
    received rows. Returns (accepted-turn frame or None, new frontier)."""
    n_old = len(fr.conv_id)
    codes, uniq = pd.factorize(np.concatenate([fr.conv_id, pdf["conv_id"].to_numpy(dtype=object)]))
    n = len(uniq)
    c = codes[n_old:]
    idx = pdf["turn_idx"].to_numpy(dtype=np.int32)
    ts_us = pdf["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
    touched = np.zeros(n, bool)
    touched[c] = True

    def grow(a, fill):
        return np.concatenate([a, np.full(n - n_old, fill, a.dtype)])

    version, last_idx, last_ts = grow(fr.version, 0), grow(fr.last_idx, 0), grow(fr.last_ts, 0)
    n_turns, last_req, has_req = grow(fr.n_turns, 0), grow(fr.last_req, 0), grow(fr.has_req, False)
    contig, timer_ms = grow(fr.contig, -1), grow(fr.timer_ms, 0)

    order = np.lexsort((idx, ts_us, c))
    c, idx, ts_us = c[order], idx[order], ts_us[order]
    pair = (c.astype(np.int64) << 32) | (idx.astype(np.int64) & 0xFFFFFFFF)
    seen = (idx >= 0) & (idx <= contig[c])
    seen |= np.isin(pair, (fr.exc_owner << 32) | (fr.exc_val.astype(np.int64) & 0xFFFFFFFF))
    # intra-batch redelivery guard: of two copies of one (conv, turn_idx)
    # the first in (ts, turn_idx) order is accepted (np.unique's index is
    # the first occurrence)
    acc = np.zeros(len(pair), bool)
    acc[np.unique(pair, return_index=True)[1]] = True
    acc &= ~seen
    sel = order[acc]
    c, idx, ts_us = c[acc], idx[acc], ts_us[acc]
    k = len(c)

    out = None
    if k:
        pos = np.arange(k)
        start = np.ones(k, bool)
        start[1:] = c[1:] != c[:-1]
        end = np.ones(k, bool)
        end[:-1] = start[1:]
        seg0 = np.maximum.accumulate(np.where(start, pos, 0))
        prev_idx = np.where(start, last_idx[c], _shift(idx))
        prev_null = start & (c >= n_old)  # a conversation's first turn
        prev_ts = np.where(start, last_ts[c], _shift(ts_us)).astype("datetime64[us]")
        prev_ts[prev_null] = np.datetime64("NaT")
        # J4 streaming: requesting turn = most recent preceding non-tool
        # turn of the same conversation (forward-fill via positional
        # maximum.accumulate, seeded from state; validity carried in a
        # mask, never a value sentinel)
        roles = pdf["role"].to_numpy(dtype=object)[sel]
        nontool = roles != "tool"
        shifted = np.where(start, last_req[c], _shift(idx))
        valid = np.where(start, has_req[c], _shift(nontool))
        ff = np.maximum.accumulate(np.where(valid, pos, -1))
        out = pd.DataFrame(
            {
                "kind": "turn",
                "conv_id": uniq[c],
                "turn_idx": idx,
                "role": roles,
                "text": pdf["text"].to_numpy(dtype=object)[sel],
                "tool": pdf["tool"].to_numpy(dtype=object)[sel],
                "ts": ts_us.astype("datetime64[us]"),
                "prev_turn_idx": IntegerArray(prev_idx, prev_null),
                "prev_ts": prev_ts,
                "req_turn_idx": IntegerArray(shifted[np.maximum(ff, 0)], ff < seg0),
                "version": version[c] + (pos - seg0 + 1),
            },
            copy=False,
        )
        cnt = np.bincount(c, minlength=n)
        version += cnt
        n_turns += cnt
        last_idx[c[end]] = idx[end]
        last_ts[c[end]] = ts_us[end]
        cn, in_ = c[nontool], idx[nontool]
        last_nt = np.ones(len(cn), bool)
        last_nt[:-1] = cn[1:] != cn[:-1]
        last_req[cn[last_nt]] = in_[last_nt]
        has_req[cn[last_nt]] = True

    contig, exc_owner, exc_val = fold_seen(
        contig, np.concatenate([fr.exc_owner, c.astype(np.int64)]), np.concatenate([fr.exc_val, idx])
    )
    timer_ms[touched] = np.maximum(wm_ms, last_ts[touched] // 1000) + SESSION_TIMEOUT_MS
    new = Frontier(
        uniq, version, last_idx, last_ts, n_turns, last_req, has_req,
        contig, exc_owner, exc_val, timer_ms,
    )
    return out, new


def expire(fr: Frontier, mask: np.ndarray):
    """Evict the conversations where mask is set. Returns (their
    session_end summary rows or None, the remaining frontier)."""
    if not mask.any():
        return None, fr
    m = np.flatnonzero(mask)
    null = np.ones(len(m), bool)
    ends = pd.DataFrame(
        {
            "kind": "session_end",
            "conv_id": fr.conv_id[m],
            "turn_idx": fr.last_idx[m],
            "role": None,
            "text": fr.n_turns[m].astype(str).astype(object),  # summary payload
            "tool": None,
            "ts": fr.last_ts[m].astype("datetime64[us]"),
            "prev_turn_idx": IntegerArray(np.zeros(len(m), np.int32), null),
            "prev_ts": np.full(len(m), np.datetime64("NaT"), "datetime64[us]"),
            "req_turn_idx": IntegerArray(np.zeros(len(m), np.int32), null.copy()),
            "version": fr.version[m],
        }
    )
    return ends, _subset(fr, ~mask)


def _accept_turns(
    key: tuple[int],
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """One bucket's call: merge its rows (a data call), then evict every
    conversation whose timer passed."""
    fr = decode_frontier(state.get[0]) if state.exists else EMPTY_FRONTIER
    wm = state.getCurrentWatermarkMs()
    outputs = []
    if not state.hasTimedOut:
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
            out, fr = merge_turns(fr, pdf, wm)
            outputs.append(out)
    # a conversation that just received rows has a timer past wm
    ends, fr = expire(fr, fr.timer_ms < wm)
    outputs.append(ends)
    if len(fr.conv_id):
        state.update((encode_frontier(fr),))
        state.setTimeoutTimestamp(int(fr.timer_ms.min()))
    else:
        state.remove()
    yield from (o for o in outputs if o is not None)


_MARKER = "bucketed:"


def pin_state_engine(checkpoint_dir: str | None, spark: SparkSession) -> int:
    """Check the checkpoint's merge-state layout, record it next to the
    checkpoint (``_state_engine``) and return its bucket count.

    - fresh checkpoint (or none) → ``BUCKETS_PER_PARTITION`` × the
      session's ``spark.sql.shuffle.partitions``, the state partitions
      Spark fixes for the checkpoint; written as ``bucketed:<count>``;
    - marker ``bucketed:<count>`` → that count, whatever the session's
      partition setting is now;
    - any other marker (``tws``, ``legacy``: per-conversation state of
      earlier versions; ``legacy-bucketed``: a constant 64 buckets, before
      the count was recorded), or no marker but ``offsets/`` (written before
      markers existed) → raise, leaving the marker as found: that state
      cannot be read as buckets.
    """
    fresh = BUCKETS_PER_PARTITION * int(spark.conf.get("spark.sql.shuffle.partitions"))
    if checkpoint_dir is None:
        return fresh
    marker = os.path.join(checkpoint_dir, "_state_engine")
    if os.path.exists(marker):
        with open(marker) as fh:
            found = fh.read().strip()
    elif os.path.isdir(os.path.join(checkpoint_dir, "offsets")):
        found = "unmarked"
    else:
        os.makedirs(checkpoint_dir, exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(f"{_MARKER}{fresh}")
        os.replace(tmp, marker)
        return fresh
    count = found.removeprefix(_MARKER)
    if found.startswith(_MARKER) and count.isdigit() and int(count) > 0:
        return int(count)
    raise RuntimeError(
        f"checkpoint {checkpoint_dir} holds merge state of layout {found!r}, "
        "which this version cannot read (it keys state by hash bucket) — "
        "restart from a fresh checkpoint and a fresh output directory"
    )


def accepted_turns(transcripts: DataFrame, n_buckets: int, watermark: str = "10 minutes") -> DataFrame:
    """Streaming transform: transcript stream → accepted-turn stream
    (deduped, prior-turn-linked, versioned), with merge state in
    ``n_buckets`` hash buckets (``pin_state_engine``'s count)."""
    return (
        transcripts.withWatermark("ts", watermark)
        .withColumn("bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)))
        .groupBy("bucket")
        .applyInPandasWithState(
            _accept_turns,
            outputStructType=ACCEPTED_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def conversation_graph_deltas(
    transcripts: DataFrame, n_buckets: int, watermark: str = "10 minutes"
) -> DataFrame:
    """Full streaming transform: transcript stream → graph-delta stream.

    Stateful accept (Python, minimal) → triple fan-out (pure Catalyst,
    whole-stage codegen): an accepted turn emits the ``extract.triples``
    contract, a ``session_end`` row one ``conv.session.n_turns`` summary
    triple on its conversation id. State is per conv_id hash bucket in the RocksDB
    state store; note AQE does not re-plan stateful exchanges — the shuffle-partition
    count fixed at first checkpoint is the scale lever, and sets ``n_buckets``
    (``pin_state_engine``).
    """
    return triple_fanout(accepted_turns(transcripts, n_buckets, watermark=watermark))


def triple_fanout(acc: DataFrame) -> DataFrame:
    """Accepted-turn rows → delta rows, in one projection."""
    end = "kind = 'session_end'"
    summary = "array(struct('conv.session.n_turns' as predicate, text as object, 'string' as object_type))"
    return acc.selectExpr(
        f"case when {end} then 'session_end' else 'triple' end as kind",
        "conv_id",
        "turn_idx",
        f"case when {end} then {CONVERSATION_ID} else {TURN_SUBJECT} end as subject",
        f"inline(case when {end} then {summary} else concat({PROPERTY_TRIPLES}, {MENTION_TRIPLES}) end)",
        "ts",
        "prev_turn_idx",
        "prev_ts",
        "req_turn_idx",
        "version",
    )


def deltas_to_entity_states(deltas: DataFrame) -> DataFrame:
    """Batch view over accumulated delta rows: final LWW entity states
    (used to verify stream output == batch oracle)."""
    from ..operators.merge import entity_states

    t = deltas.filter(F.col("kind") == "triple").select(
        "subject",
        "predicate",
        "object",
        "object_type",
        F.lit(SOURCE).alias("source"),
        "ts",
        F.lit(1.0).alias("confidence"),
        F.col("conv_id").alias("context"),
        F.col("turn_idx").alias("seq"),
    )
    return entity_states(t)
