"""The registry's window, session and interval-join operators run
unchanged on a watermarked stream, and write coalescing (reference: 20
rapid updates → <10 writes, processor_performance_test.go:164 — here:
one coalesced sink commit per micro-batch regardless of per-entity
update count)."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from semstreams_spark.extract.triples import mention_edges
from semstreams_spark.operators.joins import tool_request_interval_join
from semstreams_spark.operators.sessions import sessionize
from semstreams_spark.operators.windows import node_degree_sliding
from semstreams_spark.streaming import build_ingest_stream, read_transcript_stream
from semstreams_spark.streaming.pipeline import TRANSCRIPT_DDL
from tests.test_streaming import _mk_rows, _write_file

T0 = dt.datetime(2025, 1, 1)

OPERATORS = {
    "interval_join": tool_request_interval_join,
    "sessions": sessionize,
    "sliding_degree": lambda t: node_degree_sliding(mention_edges(t)),
}


def _turns():
    """Two conversations: tool turns 20 s, 50 s, exactly 60 s and 90 s
    after a request; a 61-minute gap; mentions across several windows."""
    m, s = dt.timedelta(minutes=1), dt.timedelta(seconds=1)
    return [
        ("c1", 0, "user", "ask @entity:ent_x", None, T0),
        ("c1", 1, "assistant", "will call @entity:ent_y", None, T0 + 30 * s),
        ("c1", 2, "tool", "result", "calc", T0 + 50 * s),
        ("c1", 3, "user", "later @entity:ent_x", None, T0 + 61 * m),
        ("c1", 4, "tool", "late result", "search", T0 + 61 * m + 90 * s),
        ("c2", 0, "user", "@entity:ent_x and @entity:ent_x", None, T0 + 4 * m),
        ("c2", 1, "tool", "r", "calc", T0 + 5 * m),
        ("c2", 2, "assistant", "@entity:ent_y", None, T0 + 7 * m),
    ]


@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_stream_equals_batch(spark, tmp_path, op):
    """The registry operator on a watermarked file stream gives exactly
    its rows on a batch read of the first file: a closing file hours later
    (no tool turn) moves the watermark past every window, session and join
    range of the first, and leaves its own windows and sessions open."""
    indir = str(tmp_path / "in")
    _write_file(indir, "f1.parquet", _turns())
    _write_file(indir, "f2.parquet", _mk_rows("c9", 2, T0 + dt.timedelta(hours=5)))
    stream = read_transcript_stream(spark, indir).withWatermark("ts", "1 minute")
    q = (
        OPERATORS[op](stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(f"stream_{op}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(f"select * from stream_{op}")
    batch = spark.read.schema(TRANSCRIPT_DDL).parquet(os.path.join(indir, "f1.parquet"))
    want = OPERATORS[op](batch)
    # the stream's event-time column carries watermark metadata
    assert got.schema.simpleString() == want.schema.simpleString()
    want_rows = sorted(map(tuple, want.collect()))
    assert want_rows and sorted(map(tuple, got.collect())) == want_rows


def test_write_coalescing_one_commit_per_batch(spark, tmp_path):
    """Many updates inside one micro-batch coalesce to exactly one sink
    commit (ledger entry) — the micro-batch IS the reference's 50ms
    flush window (datamanager/config.go:76-99)."""
    indir, outdir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_file(indir, "f1.parquet", _mk_rows("hot", 20, T0))  # 20 rapid updates, 1 conv
    stream = read_transcript_stream(spark, indir, max_files_per_trigger=10)
    q, sink = build_ingest_stream(stream, outdir, checkpoint_dir=ckpt, watermark="2 days")
    q.awaitTermination()
    committed = [e for e in sink.ledger() if e["rows"] > 0]
    assert len(committed) == 1  # 20 updates -> 1 write batch
    assert committed[0]["rows"] >= 20 * 4  # all triples present, coalesced
