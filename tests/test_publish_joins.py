"""Stream-stream interval join + spatial partition pruning."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

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


def test_spatial_partition_pruning(spark, tmp_path):
    """A geo-binned node table + bbox query = partition pruning, the Spark
    analogue of the reference's SPATIAL_INDEX bin scan
    (indexmanager/manager.go:1223-1281)."""
    from semstreams_spark.operators.textops import geo_bin, geo_bins_for_bbox, synthetic_coords
    from semstreams_spark.plans.api import GraphQueryAPI

    ents = spark.createDataFrame([(f"ent_{i:03d}",) for i in range(300)], "id string")
    nodes = synthetic_coords(ents, "id").withColumn(
        "geo4", geo_bin(F.col("lat"), F.col("lon"), 4)
    )
    out = str(tmp_path / "spatial_nodes")
    nodes.write.partitionBy("geo4").parquet(out)

    t = spark.read.parquet(out)
    # 2x2-degree box around one real node, precision 4 -> few hundred bins
    anchor = nodes.orderBy("id").first()
    bbox = (anchor["lat"] - 1, anchor["lat"] + 1, anchor["lon"] - 1, anchor["lon"] + 1)
    api = GraphQueryAPI(nodes=t, edges=None, triples=None)
    sub = api.query_spatial(*bbox, bin_col="geo4", bin_precision=4)

    plan = sub._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "geo4" in plan.split("PartitionFilters")[1][:400]
    got = {r["id"] for r in sub.collect()}
    # same answer as the unpruned bbox filter
    want = {
        r["id"]
        for r in nodes.filter(
            (F.col("lat") >= bbox[0]) & (F.col("lat") <= bbox[1])
            & (F.col("lon") >= bbox[2]) & (F.col("lon") <= bbox[3])
        ).collect()
    }
    assert anchor["id"] in got and got == want
    # the bin cover is sound: every matching bin key is in the cover list
    bins = set(geo_bins_for_bbox(*bbox, precision=4))
    assert {r["geo4"] for r in nodes.filter(F.col("id").isin(list(want))).collect()} <= bins
