"""Tests of the benchmark's Spark-free helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import harness as H  # noqa: E402
import run as R  # noqa: E402
import workloads as W  # noqa: E402

# -- the percentile rule ------------------------------------------------------


def test_p95_needs_ten_samples_beyond_it():
    xs = list(range(1, 201))  # 200 samples: rank 190, 10 beyond
    assert H.percentile(xs, 0.95) == 190
    assert H.percentile(xs[:-1], 0.95) is None  # 199 samples: 9 beyond


def test_percentile_of_empty_or_short_sample_is_none_not_a_crash():
    assert H.percentile([], 0.95) is None
    assert H.percentile([5.0], 0.5) is None
    assert H.median([]) is None
    assert H.median([3, 1, 2]) == 2
    assert H.median([4, 1, 2, 3]) == 2.5


# -- freshness: file -> batch -> ledger commit ----------------------------------


def _source_log(ckpt, batch, files, name=None):
    d = os.path.join(ckpt, "sources", "0")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name or str(batch)), "w") as fh:
        fh.write("v1\n")
        for f, b in files:
            fh.write(json.dumps({"path": f"file:///in/{f}", "timestamp": 0, "batchId": b}) + "\n")


def _ledger(table, batch, mtime):
    d = os.path.join(table, "_ledger")
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, f"{batch}.json")
    with open(p, "w") as fh:
        json.dump({"batch_id": batch, "rows": 1}, fh)
    os.utime(p, (mtime, mtime))


def test_file_latency_maps_through_source_log_and_ledger(tmp_path):
    ckpt, table = str(tmp_path / "ckpt"), str(tmp_path / "out")
    # batches 0-9 folded into a compact file, batch 10 a plain log entry
    _source_log(ckpt, 9, [("a%20b.parquet", 0), ("c.parquet", 9)], name="9.compact")
    _source_log(ckpt, 10, [("d.parquet", 10)])
    _ledger(table, 0, 1000.5)
    _ledger(table, 9, 1003.0)
    _ledger(table, 10, 1010.0)
    with open(os.path.join(table, "_ledger", "_checkpoint.json"), "w") as fh:
        fh.write("{}")  # the sink's compact index is not a batch
    fb = H.read_source_log(ckpt)
    assert fb == {"a b.parquet": 0, "c.parquet": 9, "d.parquet": 10}
    commits = H.ledger_commit_times(table)
    assert commits == {0: 1000.5, 9: 1003.0, 10: 1010.0}
    due = {"a b.parquet": 1000.0, "c.parquet": 1001.0, "d.parquet": 1002.0, "e.parquet": 1002.5}
    lat = H.file_latencies(due, fb, commits, deadline=1005.0)
    assert lat["a b.parquet"] == pytest.approx(500.0)
    assert lat["c.parquet"] == pytest.approx(2000.0)
    assert lat["d.parquet"] is None  # committed after the deadline
    assert lat["e.parquet"] is None  # never read by the stream
    done = {"a b.parquet": 1000.5, "c.parquet": 1003.0, "d.parquet": None}
    pub = {"a b.parquet": 1000.0, "c.parquet": 1001.0, "d.parquet": 1002.0}
    assert H.backlog_max(pub, done) == 2


# -- failure accounting ---------------------------------------------------------


def _fake_run(report, ops):
    run = types.SimpleNamespace(report=report, ops=ops)
    run.put = lambda name, value, unit: report.__setitem__(name, (value, unit))
    return run


def test_failed_operations_make_the_result_incorrect_but_parseable():
    ops = H.Ops()
    ops.record(10)
    ops.record(1, failed=1, error="query x: digest differs")
    report = {"setup_raw_s": (3.0, "s"), "host.setup_probe_rate": (H.PROBE_REF_RATE / 2, "1/ms"),
              "host.probe_rate": (H.PROBE_REF_RATE / 2, "1/ms"),
              "ingest_turns_per_s": (2000.0, "1/s"), "bulk_run_ms": (3000.0, "ms")}
    run = _fake_run(report, ops)
    R._derive(run)
    res = R._result(run, trace=False)
    assert res["attempted"] == 11 and res["failed"] == 1 and res["correct"] is False
    assert set(res["metrics"]) == set(R.E2E)
    # a host at half the reference speed: twice the turns/s, half the latency
    assert res["metrics"]["turns_per_s_norm"] == {"value": 4000.0, "unit": "1/s"}
    assert report["op_p50_ms_norm"] == (1500.0, "ms")
    assert res["metrics"]["setup_s"] == {"value": 1.5, "unit": "s"}
    assert report["turns_per_s"] == (2000.0, "1/s")
    json.dumps(res)


def test_unmeasured_metric_counts_as_failed():
    ops = H.Ops()
    ops.record(2)
    # no verified run left a throughput: reported as a failure, not a crash
    report = {"setup_raw_s": (1.5, "s"), "host.setup_probe_rate": (H.PROBE_REF_RATE, "1/ms"),
              "host.probe_rate": (H.PROBE_REF_RATE, "1/ms"),
              "ingest_turns_per_s": (None, "1/s"), "bulk_run_ms": (None, "ms")}
    run = _fake_run(report, ops)
    R._derive(run)
    res = R._result(run, trace=False)
    assert res["correct"] is False and res["failed"] == 1
    assert set(res["metrics"]) == {"setup_s"}


def test_crashed_workload_still_reports_attempted():
    ops = H.Ops()
    ops.fail("ingest: RuntimeError('boom')")
    res = R._result(_fake_run({}, ops), trace=False)
    assert res["attempted"] >= 1 and res["failed"] >= 1 and res["correct"] is False


# -- result digests -----------------------------------------------------------


def test_digest_ignores_row_order_and_engine_dtypes():
    import numpy as np
    import pandas as pd

    a = pd.DataFrame({
        "k": ["x", "y", None],
        "n": np.array([1, 2, 3], dtype="int32"),
        "v": [0.1 + 0.2, 2.0, np.nan],
        "ts": pd.to_datetime(["2025-01-01 00:00:01.5", "2025-01-02 00:00:00.0", None]).astype("datetime64[ns]"),
    })
    b = pd.DataFrame({
        "ts": pd.to_datetime([None, "2025-01-02 00:00:00.0", "2025-01-01 00:00:01.5"]).astype("datetime64[us]"),
        "v": [None, 2, 0.3],
        "n": np.array([3.0, 2.0, 1.0]),
        "k": [None, "y", "x"],
    })
    assert H.frame_digest(a) == H.frame_digest(b)
    c = b.copy()
    c.loc[1, "k"] = "z"
    assert H.frame_digest(c) != H.frame_digest(b)
    assert H.frame_digest(b.iloc[:2]) != H.frame_digest(b)


# -- spans ----------------------------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "name": "sink.call", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "stream.compute", "parent": 0, "start": 1.0, "end": 5.0},
        {"id": 2, "name": "sink.publish", "parent": 0, "start": 4.0, "end": 8.0},
    ]
    st = H.self_times_ms(spans)
    assert st["sink.call"] == pytest.approx(3000.0)
    assert st["stream.compute"] == pytest.approx(4000.0)


def test_disabled_tracer_records_nothing():
    t = H.Tracer(False)
    with t.span("x"):
        pass
    assert t.spans == []
    t = H.Tracer(True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [(s["name"], s["parent"]) for s in t.spans] == [("outer", None), ("inner", 0)]


# -- seed -> corpus determinism -----------------------------------------------------


def test_same_seed_same_corpus_other_seed_other_corpus(tmp_path):
    from semstreams_spark.datagen.transcripts import generate_transcripts

    a, _ = generate_transcripts(0.0002, 7)
    b, _ = generate_transcripts(0.0002, 7)
    c, _ = generate_transcripts(0.0002, 8)
    assert a.equals(b)
    assert not a.equals(c)

    p1, p2, p3 = (str(tmp_path / f"e{i}.parquet") for i in range(3))
    W.write_events(p1, 0.001, 7)
    W.write_events(p2, 0.001, 7)
    W.write_events(p3, 0.001, 8)
    import pyarrow.parquet as pq

    assert pq.read_table(p1).equals(pq.read_table(p2))
    assert not pq.read_table(p1).equals(pq.read_table(p3))


def test_bulk_split_ends_with_the_latest_turn(tmp_path):
    import pyarrow.parquet as pq

    from semstreams_spark.datagen.transcripts import generate_transcripts

    tbl, _ = generate_transcripts(0.0002, 5)
    path = str(tmp_path / "t.parquet")
    pq.write_table(tbl, path)
    run = types.SimpleNamespace(sf_dir=str(tmp_path), cores=2, seed=5)
    d = W.bulk_files(run, path)
    files = sorted(os.listdir(d))
    assert len(files) == W.BULK_TRIGGERS * 2
    parts = [pq.read_table(os.path.join(d, f)) for f in files]
    assert sum(p.num_rows for p in parts) == tbl.num_rows
    latest = max(tbl.column("ts").to_pylist())
    assert latest in parts[-1].column("ts").to_pylist()
    mtimes = [os.stat(os.path.join(d, f)).st_mtime for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)


def test_ledger_rows_sums_committed_batches(tmp_path):
    led = tmp_path / "_ledger"
    led.mkdir()
    for b, rows in ((0, 5), (1, 7)):
        (led / f"{b}.json").write_text(json.dumps({"batch_id": b, "rows": rows}))
    (led / "_index.json").write_text("{}")
    assert H.ledger_rows(str(tmp_path)) == 12


def test_fresh_slices_are_consecutive_in_event_time(tmp_path):
    import pyarrow.parquet as pq

    from semstreams_spark.datagen.transcripts import generate_transcripts

    tbl, _ = generate_transcripts(0.0002, 3)
    path = str(tmp_path / "t.parquet")
    pq.write_table(tbl, path)
    slices = W.fresh_slices(path, 5)
    assert [s.num_rows for s in slices] == [W.FRESH_TURNS_PER_FILE] * 5
    ends = [s.column("ts").to_pylist() for s in slices]
    for prev, nxt in zip(ends, ends[1:]):
        assert max(prev) <= min(nxt)


def test_a_crash_mid_run_still_prints_one_parseable_result(monkeypatch, tmp_path, capsys):
    def boom(run, workload):
        run.ops.record(3)
        raise RuntimeError("injected")

    monkeypatch.setattr(R, "_host_env", lambda cores: None)
    monkeypatch.setattr(R, "WORK", str(tmp_path))
    monkeypatch.setattr(W, "run_workload", boom)
    assert R.main(["--workload", "ingest_bulk", "--seed", "1", "--seconds", "1"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is False and res["attempted"] >= 4 and res["failed"] >= 1
