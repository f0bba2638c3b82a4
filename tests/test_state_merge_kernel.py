"""The bucketed merge kernel against the plain per-conversation reference
(tests/merge_reference.py), without a SparkSession: many conversations
per bucket, out-of-order turns that later fill the gap, redeliveries
across and within batches, tool runs across batch boundaries, idle
conversations timing out in a batch where their bucket gets rows for
another conversation, and a timer equal to the watermark."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from merge_reference import HOUR_MS, reference_merge, run_bucketed

from semstreams_spark.streaming.state_merge import decode_frontier, fold_seen

T0_US = int(pd.Timestamp(dt.datetime(2025, 1, 1)).value // 1000)
ROLES = ("user", "assistant", "tool")


@st.composite
def merge_batches(draw):
    """Up to 6 conversations over up to 5 batches. Turn i of a conversation
    sits at base + 20 s * i, shifted on some copies: +5 s (a redelivered
    copy can sort first), -20 s (ties turn i-1's ts) or -30 s (sorts before
    turn i-1). The watermark moves forward by 0, a minute, or hours."""
    n_conv = draw(st.integers(1, 6))
    bases = [T0_US + draw(st.integers(0, 3)) * 600_000_000 for _ in range(n_conv)]
    roles = {}
    batches, wm = [], 0
    for _ in range(draw(st.integers(1, 5))):
        rows = []
        for _ in range(draw(st.integers(0, 14))):
            c = draw(st.integers(0, n_conv - 1))
            i = draw(st.integers(-1, 11))
            role = roles.setdefault((c, i), draw(st.sampled_from(ROLES)))
            late = draw(st.sampled_from((0, 0, 5_000_000, -20_000_000, -30_000_000)))
            ts = bases[c] + 20_000_000 * i + late
            tool = "calc" if role == "tool" else None
            rows.append((f"c{c}", i, role, f"t{i}+{late}", tool, ts))
        step = draw(st.sampled_from((0, 60_000, 2 * HOUR_MS, 30 * HOUR_MS)))
        wm = max(wm, T0_US // 1000 - HOUR_MS) + step if step else wm
        batches.append((rows, wm))
    return batches


def _seen_sets(states):
    """{conv: accepted turn set} decoded from every bucket's frontier."""
    out = {}
    for gs in states.values():
        fr = decode_frontier(gs.get[0])
        for r, conv in enumerate(fr.conv_id):
            exc = fr.exc_val[fr.exc_owner == r]
            out[conv] = set(range(int(fr.contig[r]) + 1)) | set(exc.tolist())
    return out


@given(merge_batches(), st.sampled_from((1, 2, 64)), st.booleans())
@settings(max_examples=300, deadline=None)
def test_bucket_kernel_matches_per_conversation_reference(batches, n_buckets, split):
    want, ref_state = reference_merge(batches)
    got, states = run_bucketed(batches, n_buckets, split_chunks=split)
    for g, w in zip(got, want):
        assert sorted(g, key=repr) == sorted(w, key=repr)
    assert _seen_sets(states) == {c: s["seen"] for c, s in ref_state.items()}
    # each bucket's Spark timeout is its earliest conversation timer
    for gs in states.values():
        fr = decode_frontier(gs.get[0])
        assert gs.timeout == fr.timer_ms.min()
        assert {c: int(t) for c, t in zip(fr.conv_id, fr.timer_ms)} == {
            c: ref_state[c]["timer"] for c in fr.conv_id
        }


def _turns(conv, idxs, base=T0_US, role="user"):
    return [(conv, i, role, f"t{i}", None, base + 20_000_000 * i) for i in idxs]


def test_idle_conversation_expires_in_data_call_for_its_bucket():
    """One bucket: c0 goes idle, c1 keeps sending; when the watermark
    passes c0's timer, the data call for c1 emits c0's session_end."""
    late = T0_US + 3 * HOUR_MS * 1000
    batches = [
        (_turns("c0", [0, 1, 2]) + _turns("c1", [0]), 0),
        (_turns("c1", [1], base=late), T0_US // 1000 + 2 * HOUR_MS),
    ]
    got, states = run_bucketed(batches, n_buckets=1)
    assert got == reference_merge(batches)[0]
    ends = [r for r in got[1] if r[0] == "session_end"]
    assert [(r[1], r[4], r[10]) for r in ends] == [("c0", "3", 3)]
    assert list(decode_frontier(states[0].get[0]).conv_id) == ["c1"]


def test_timer_equal_to_watermark_does_not_fire():
    """Spark times a key out on timer < watermark, strictly: c0's timer
    equals the watermark in a data call for c1 (same bucket), then in a
    timed-out call; it fires one millisecond later."""
    last_ts_ms = (T0_US + 20_000_000 * 2) // 1000
    timer = last_ts_ms + HOUR_MS
    late = T0_US + 2 * HOUR_MS * 1000
    batches = [
        (_turns("c0", [0, 1, 2]) + _turns("c1", [0], base=late), 0),
        (_turns("c1", [1], base=late), timer),
        ([], timer),
        ([], timer + 1),
    ]
    got, states = run_bucketed(batches, n_buckets=1)
    assert got == reference_merge(batches)[0]
    assert [r[1] for r in got[1]] == ["c1"] and got[2] == []
    assert [(r[0], r[1]) for r in got[3]] == [("session_end", "c0")]
    assert list(decode_frontier(states[0].get[0]).conv_id) == ["c1"]


def test_out_of_order_turns_fill_the_gap_and_leave_no_exceptions():
    batches = [
        (_turns("c0", [0, 1, 4, 6]), 0),
        (_turns("c0", [5, 2, 3]) + _turns("c0", [4]), 0),  # 4 is a redelivery
    ]
    got, states = run_bucketed(batches, n_buckets=1)
    assert got == reference_merge(batches)[0]
    fr = decode_frontier(states[0].get[0])
    assert int(fr.contig[0]) == 6 and len(fr.exc_val) == 0
    assert [r[2] for r in got[1]] == [2, 3, 5]


@given(st.lists(st.sets(st.integers(-3, 40)), min_size=1, max_size=4))
@settings(max_examples=200, deadline=None)
def test_fold_seen_keeps_exactly_the_accepted_set(chunks):
    contig = np.full(1, -1, np.int32)
    owner, val = np.empty(0, np.int64), np.empty(0, np.int32)
    seen: set[int] = set()
    for s in chunks:
        new = sorted(s - seen)
        seen |= s
        contig, owner, val = fold_seen(
            contig, np.concatenate([owner, np.zeros(len(new), np.int64)]),
            np.concatenate([val, np.array(new, np.int32)]),
        )
        assert set(range(int(contig[0]) + 1)) | set(val.tolist()) == seen
        assert int(contig[0]) + 1 not in seen
        assert not (set(range(int(contig[0]) + 1)) & set(val.tolist()))
