"""Stream-stream interval join."""

from __future__ import annotations

import datetime as dt


from semstreams_spark.streaming.joins import tool_request_interval_join
from tests.test_streaming import T0, _mk_rows, _write_file


def test_interval_join_streaming(spark, tmp_path):
    indir = str(tmp_path / "in")
    rows = [
        ("c1", 0, "user", "ask", None, T0),
        ("c1", 1, "assistant", "will call", None, T0 + dt.timedelta(seconds=30)),
        ("c1", 2, "tool", "result", "calc", T0 + dt.timedelta(seconds=50)),
        # requester outside the 120s lag window:
        ("c2", 0, "user", "old ask", None, T0),
        ("c2", 1, "tool", "late result", "search", T0 + dt.timedelta(seconds=600)),
    ]
    _write_file(indir, "f1.parquet", rows)
    _write_file(indir, "f2.parquet", _mk_rows("c9", 2, T0 + dt.timedelta(hours=3)))

    from semstreams_spark.streaming import read_transcript_stream

    stream = read_transcript_stream(spark, indir, max_files_per_trigger=1)
    joined = tool_request_interval_join(stream, watermark="1 minute", max_lag_seconds=120)
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("sj_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("select * from sj_out").collect()
    c1 = [(r["tool_turn_idx"], r["req_turn_idx"]) for r in out if r["conv_id"] == "c1"]
    assert sorted(c1) == [(2, 0), (2, 1)]  # both candidates within 120s
    assert not [r for r in out if r["conv_id"] == "c2"]  # outside lag window
