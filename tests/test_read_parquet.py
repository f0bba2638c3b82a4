"""session.read_parquet: a repeat read of an unchanged file infers no
schema (no Spark job), a replaced file is inferred again, directories
fall back to plain inference, and frames equal spark.read.parquet's."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from semstreams_spark.session import read_parquet


def _jobs(spark, fn):
    """Result of fn() and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_repeat_read_runs_no_job_and_equals_plain_read(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", None, "z"]}), p)

    first, n_first = _jobs(spark, lambda: read_parquet(spark, p))
    again, n_again = _jobs(spark, lambda: read_parquet(spark, p))
    assert n_first >= 1  # schema inference: the job the cache saves
    assert n_again == 0
    plain = spark.read.parquet(p)
    for df in (first, again):
        assert df.schema == plain.schema
        assert _rows(df) == _rows(plain)


def test_replaced_file_is_inferred_again(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), p)
    assert read_parquet(spark, p).columns == ["a"]
    tmp = str(tmp_path / "t.parquet.tmp")
    pq.write_table(pa.table({"a": [5], "c": [1.5]}), tmp)
    os.replace(tmp, p)
    df = read_parquet(spark, p)
    assert df.schema == spark.read.parquet(p).schema
    assert df.columns == ["a", "c"]
    assert _rows(df) == [(5, 1.5)]


def test_directory_reads_with_plain_inference(spark, tmp_path):
    d = tmp_path / "dir"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d / "part-0.parquet"))
    pq.write_table(pa.table({"a": [2]}), str(d / "part-1.parquet"))
    df = read_parquet(spark, str(d))
    plain = spark.read.parquet(str(d))
    assert df.schema == plain.schema
    assert _rows(df) == _rows(plain) == [(1,), (2,)]
