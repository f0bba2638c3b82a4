"""bench.py prints its one-line JSON even when a section raises; Spark-free
(the session, the ingest and the queries are stubbed)."""

from __future__ import annotations

import json
import sys

import pytest

import __spark_entry__ as entry
import bench
import semstreams_spark.datagen as datagen
import semstreams_spark.session as session


class _FakeSpark:
    class catalog:  # noqa: N801 - mirrors spark.catalog
        @staticmethod
        def clearCache():
            pass

    def stop(self):
        pass


@pytest.mark.parametrize("failing", ["ingest", "query_suite", "latency", "big_sf"])
def test_failing_section_still_prints_json(failing, monkeypatch, capsys, tmp_path):
    calls = []

    def fake_ingest(spark, transcripts_file, workdir, n_files, mfpt, **kw):
        calls.append(n_files)
        # the ingest section is the first 1 + reps calls (warm-up, then one per pass)
        if failing == "ingest" and len(calls) <= 3:
            raise RuntimeError("ingest broke")
        if failing == "latency" and n_files == 40:
            raise RuntimeError("latency broke")
        if failing == "big_sf" and "big_sf" in workdir:
            raise RuntimeError("big-sf broke")
        return 2.0, 100, [50] * 40

    def fake_query(name):
        def run(spark, sf_dir):
            # mid-suite: the fault hits the fifth headline query
            if failing == "query_suite" and name == bench.HEADLINE_QUERIES[4]:
                raise ValueError("query broke")
            return name

        return run

    monkeypatch.setattr(session, "get_spark", lambda *a, **k: _FakeSpark())
    monkeypatch.setattr(datagen, "ensure_transcripts", lambda sf: None)
    monkeypatch.setattr(datagen, "transcripts_path", lambda sf: f"sf{sf}.parquet")
    monkeypatch.setattr(bench, "stream_ingest", fake_ingest)
    monkeypatch.setattr(bench, "_noop_write", lambda df: None)
    names = set(bench.HEADLINE_QUERIES) | set(bench.BIG_SF_QUERIES)
    monkeypatch.setattr(entry, "queries", lambda: {n: fake_query(n) for n in names})
    monkeypatch.setattr(
        sys, "argv", ["bench.py", "--sf-dir", "sf0.01", "--cores", "2", "--reps", "2",
                      "--big-sf", "0.02", "--workdir", str(tmp_path)]
    )

    bench.main()
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 1
    out = json.loads(lines[0])
    assert list(out["errors"]) == [failing]
    assert "broke" in out["errors"][failing]

    assert (out["turns_per_sec"] is None) == (failing == "ingest")
    assert (out["batch_p95_ms"] is None) == (failing == "latency")
    assert (out["big"] is None) == (failing == "big_sf")
    queries_run = set(out["queries"]) - {"ingest_e2e"}
    if failing == "query_suite":
        assert queries_run == set(bench.HEADLINE_QUERIES[:4])
    else:
        assert queries_run == set(bench.HEADLINE_QUERIES)
