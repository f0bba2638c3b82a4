"""Differential fuzz of the window/sessionization family (W1/W3).

The fixed gates (degree_tumbling, sliding_degree, cooccur_5min,
sessions) pin one input distribution; Hypothesis here generates random
event streams built to sit ON the semantic boundaries — timestamps at
exact window-start multiples and ±1 µs around them, duplicate
timestamps, gap spans exactly equal to the session gap — and asserts
Spark == DuckDB row-for-row. Pinned semantics: window starts are
epoch-aligned and START-INCLUSIVE / END-EXCLUSIVE; a session breaks
only on gap STRICTLY greater than the threshold, microsecond-exact;
sliding windows assign each event to width/slide windows; co-occurrence
pairs are per-(window, conv) DISTINCT-entity sets oriented e1 < e2.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from semstreams_spark.operators.sessions import sessionize
from semstreams_spark.operators.windows import (
    entity_cooccurrence,
    node_degree_sliding,
    node_degree_tumbling,
)

T0 = dt.datetime(2025, 1, 1)  # 2025-01-01 00:00:00 is a 600s multiple
# the operators' constants: windows.WIDTH, windows.SLIDING_WIDTH,
# windows.SLIDE and sessions.GAP_MINUTES
WIDTH_S = 300
SLIDING_WIDTH_S = 600
SLIDE_S = 300
GAP_MIN = 30

# offsets engineered to land on boundaries: exact multiples of the
# window width / slide, ±1 µs around them, duplicates, and the exact
# session gap (1800 s = 30 min — strictly-greater must NOT split)
_BOUNDARY_US = []
for mult in (0, 1, 2, 3, 4, 6):
    base = mult * WIDTH_S * 1_000_000
    _BOUNDARY_US += [base, base + 1, max(0, base - 1)]
_BOUNDARY_US += [GAP_MIN * 60 * 1_000_000, GAP_MIN * 60 * 1_000_000 + 1]

offset_us = st.one_of(
    st.sampled_from(_BOUNDARY_US),
    st.integers(min_value=0, max_value=2 * GAP_MIN * 60 * 1_000_000),
)

events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # conv
        st.integers(min_value=0, max_value=5),  # entity
        offset_us,
    ),
    min_size=1,
    max_size=50,
)

_WIN = (
    "make_timestamp(CAST(floor(epoch({c}) / {w}) AS BIGINT) * {w} * 1000000)"
)


def _pdf(rows):
    return pd.DataFrame(
        {
            "conv_id": [f"c{c}" for c, _, _ in rows],
            "entity": [f"ent_{e}" for _, e, _ in rows],
            "ts": pd.Series(
                [T0 + dt.timedelta(microseconds=off) for _, _, off in rows],
                dtype="datetime64[us]",
            ),
        }
    )


def _duck(pdf, sql):
    con = duckdb.connect()
    con.register("ev", pdf)
    out = set(map(tuple, con.execute(sql).fetchall()))
    con.close()
    return out


@given(rows=events)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_tumbling_degree_differential(spark, rows):
    pdf = _pdf(rows)
    edges = spark.createDataFrame(pdf).selectExpr("entity as src", "conv_id as dst", "ts")
    got = set(map(tuple, node_degree_tumbling(edges).collect()))
    win = _WIN.format(c="ts", w=WIDTH_S)
    want = _duck(
        pdf,
        f"""SELECT {win} AS window_start, entity AS src,
                   COUNT(*) AS out_degree, COUNT(DISTINCT conv_id) AS distinct_dst
            FROM ev GROUP BY 1, 2""",
    )
    assert got == want


@given(rows=events)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_sliding_degree_differential(spark, rows):
    pdf = _pdf(rows)
    edges = spark.createDataFrame(pdf).selectExpr("entity as src", "conv_id as dst", "ts")
    got = set(map(tuple, node_degree_sliding(edges).collect()))
    n_win = SLIDING_WIDTH_S // SLIDE_S
    want = _duck(
        pdf,
        f"""WITH w AS (
              SELECT entity,
                     make_timestamp((CAST(floor(epoch(ts) / {SLIDE_S}) AS BIGINT) - k.k)
                                    * {SLIDE_S} * 1000000) AS window_start
              FROM ev, (SELECT unnest(range(0, {n_win})) AS k) k)
            SELECT window_start, window_start + INTERVAL {SLIDING_WIDTH_S} SECOND AS window_end,
                   entity AS src, COUNT(*) AS out_degree
            FROM w GROUP BY 1, 2, 3""",
    )
    assert got == want


@given(rows=events)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_cooccurrence_differential(spark, rows):
    pdf = _pdf(rows)
    mentions = spark.createDataFrame(pdf)
    got = set(map(tuple, entity_cooccurrence(mentions).collect()))
    win = _WIN.format(c="ts", w=WIDTH_S)
    want = _duck(
        pdf,
        f"""WITH m AS (SELECT DISTINCT {win} AS window_start, conv_id, entity FROM ev)
            SELECT a.window_start, a.entity AS e1, b.entity AS e2, COUNT(*) AS cooccur_count
            FROM m a JOIN m b
              ON a.window_start = b.window_start AND a.conv_id = b.conv_id
             AND a.entity < b.entity
            GROUP BY 1, 2, 3""",
    )
    assert got == want


@given(rows=events)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_sessionize_differential(spark, rows):
    # turn_idx = arrival order; the ordering contract is (ts, turn_idx)
    pdf = _pdf(rows)
    pdf["turn_idx"] = range(len(pdf))
    got = set(map(tuple, sessionize(spark.createDataFrame(pdf)).collect()))
    gap_s = GAP_MIN * 60
    want = _duck(
        pdf,
        f"""WITH o AS (
              SELECT conv_id, turn_idx, ts,
                     CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                               > {gap_s}::BIGINT * 1000000 THEN 1 ELSE 0 END AS new_session
              FROM ev WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)),
            s AS (
              SELECT conv_id, ts,
                     CAST(SUM(new_session) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
              FROM o)
            SELECT conv_id, MIN(ts) AS session_start,
                   MAX(ts) AS session_end, COUNT(*) AS n_turns
            FROM s GROUP BY conv_id, session_id""",
    )
    assert got == want


def test_window_boundary_semantics_exact(spark):
    """Deterministic companion: an event AT a window start belongs to
    that window (start-inclusive), one at start-1µs to the previous
    (end-exclusive); a session gap EXACTLY equal to the threshold does
    NOT split (strictly-greater), gap+1µs does."""
    rows = [
        (0, 0, WIDTH_S * 1_000_000),       # exactly at window 1 start
        (0, 1, WIDTH_S * 1_000_000 - 1),   # 1µs before -> window 0
        (1, 2, 0),
        (1, 2, GAP_MIN * 60 * 1_000_000),      # gap == threshold: same session
        (2, 3, 0),
        (2, 3, GAP_MIN * 60 * 1_000_000 + 1),  # gap > threshold: split
    ]
    pdf = _pdf(rows)
    edges = spark.createDataFrame(pdf).selectExpr("entity as src", "conv_id as dst", "ts")
    wins = {
        r["src"]: r["window_start"]
        for r in node_degree_tumbling(edges).collect()
    }
    assert wins["ent_0"] == T0 + dt.timedelta(seconds=WIDTH_S)
    assert wins["ent_1"] == T0
    pdf["turn_idx"] = range(len(pdf))
    sess = sessionize(spark.createDataFrame(pdf))
    counts = {r["conv_id"]: r["n_turns"] for r in sess.collect() if r["conv_id"] in ("c1", "c2")}
    n_sessions = sess.filter("conv_id = 'c1'").count(), sess.filter("conv_id = 'c2'").count()
    assert n_sessions == (1, 2) and counts["c1"] == 2
