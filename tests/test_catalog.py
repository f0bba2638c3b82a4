"""Catalog-table source: ingest reads micro-batches from a table the
session catalog resolves by name, and commits the same triples as the
path source over the same files."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

T0 = dt.datetime(2025, 1, 1, 0, 0, 0)


def test_catalog_table_stream_source_parity(spark, tmp_path):
    """North-star source shape: ingest reads micro-batches from a
    CATALOG TABLE (``readStream.table``) rather than a raw path. The
    table-source pipeline must produce byte-identical triples to the
    path-source pipeline over the same files."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from semstreams_spark.streaming import (
        build_ingest_stream,
        read_transcript_stream,
        read_transcript_stream_from_table,
    )

    indir = str(tmp_path / "in")
    os.makedirs(indir)
    for fi in range(3):
        rows = {
            "conv_id": [f"c{fi}"] * 4,
            "turn_idx": pa.array(range(4), type=pa.int32()),
            "role": ["user", "assistant"] * 2,
            "text": [f"msg {i} @entity:ent_{fi}" for i in range(4)],
            "tool": pa.array([None] * 4, type=pa.string()),
            "ts": pa.array(
                [pd.Timestamp(T0 + dt.timedelta(hours=fi, seconds=20 * i)) for i in range(4)],
                type=pa.timestamp("us"),
            ),
        }
        path = os.path.join(indir, f"f{fi}.parquet")
        pq.write_table(pa.table(rows), path)
        os.utime(path, (1_700_000_000 + 10 * fi,) * 2)

    spark.sql("CREATE DATABASE IF NOT EXISTS semstreams_src")
    spark.sql(
        "CREATE TABLE IF NOT EXISTS semstreams_src.transcripts ("
        "conv_id string, turn_idx int, role string, text string, "
        f"tool string, ts timestamp) USING parquet LOCATION '{indir}'"
    )

    key = ["subject", "predicate", "object", "object_type", "ts"]
    outs = []
    for tag, src in (
        ("path", read_transcript_stream(spark, indir, max_files_per_trigger=1)),
        (
            "table",
            read_transcript_stream_from_table(
                spark, "semstreams_src.transcripts", max_files_per_trigger=1
            ),
        ),
    ):
        out, ckpt = str(tmp_path / f"out_{tag}"), str(tmp_path / f"ckpt_{tag}")
        q, sink = build_ingest_stream(src, out, checkpoint_dir=ckpt, watermark="2 days")
        q.awaitTermination()
        triples = sink.read(spark).filter(F.col("kind") == "triple")
        outs.append(sorted(map(tuple, triples.select(*key).collect())))
    assert outs[0] == outs[1] and len(outs[0]) > 0
