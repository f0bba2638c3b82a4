"""Transform family (P1-P4), graph snapshot and temporal range (§2.11),
summarizer (G5),
multimodal plumbing."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from semstreams_spark.extract import extract_triples
from semstreams_spark.graph.summarize import community_summaries, top_terms
from semstreams_spark.operators.merge import graph_snapshot, nodes_table_source_clustered
from semstreams_spark.operators.multimodal import synthesize_media
from semstreams_spark.operators.transforms import FilterRule, json_filter, json_map

T0 = dt.datetime(2025, 1, 1)


@pytest.fixture(scope="module")
def events_df(spark):
    return spark.createDataFrame(
        [
            (1, "signup", 10.5, '{"k": 87, "tag": "vip"}'),
            (2, "purchase", 99.0, '{"k": 3, "tag": "std"}'),
            (3, "error", 0.0, '{"k": 87}'),
        ],
        "event_id long, event_type string, value double, props string",
    )


def test_json_filter_nested_and_coercion(events_df):
    out = json_filter(
        events_df,
        [FilterRule("props.k", "eq", "87"), FilterRule("value", "gt", "1")],
    ).collect()
    assert [r["event_id"] for r in out] == [1]  # implicit AND; numeric coercion on JSON string


def test_json_filter_contains(events_df):
    out = json_filter(events_df, [FilterRule("event_type", "contains", "up")]).collect()
    assert {r["event_id"] for r in out} == {1}


def test_json_map(events_df):
    out = json_map(
        events_df,
        rename={"event_type": "etype"},
        transforms={"etype": "uppercase"},
        add_fields={"env": "prod"},
        remove_fields=["props"],
    )
    r = out.filter(F.col("event_id") == 1).collect()[0]
    assert r["etype"] == "SIGNUP" and r["env"] == "prod"
    assert "props" not in out.columns


def test_snapshot_truncation(transcripts_small):
    nodes = nodes_table_source_clustered(transcripts_small)
    # every node is a turn and every ts falls in these bounds
    start = F.lit("2000-01-01 00:00:00").cast("timestamp_ntz")
    end = F.lit("2100-01-01 00:00:00").cast("timestamp_ntz")
    snap, truncated = graph_snapshot(nodes, start, end, ["turn"], 10)
    assert snap.count() == 10 and truncated
    snap2, truncated2 = graph_snapshot(nodes, start, end, ["nope"], 10)
    assert snap2.count() == 0 and not truncated2


def test_temporal_range(spark, transcripts_small):
    import __spark_entry__ as entry

    sub = entry.q_query_temporal(spark, "sf0.001")
    assert 0 < sub.count() < extract_triples(transcripts_small).count()


def test_top_terms_and_summaries(spark):
    docs = spark.createDataFrame(
        [("e1", "alpha beta alpha gamma"), ("e2", "alpha delta"), ("e3", "zeta zeta zeta")],
        "entity string, text string",
    )
    members = spark.createDataFrame(
        [("e1", "c1"), ("e2", "c1"), ("e3", "c2")], "entity string, community string"
    )
    terms = top_terms(docs, k=2).collect()
    assert terms[0]["term"] == "alpha" and terms[0]["tf"] == 3  # ties break term-asc
    summ = {r["community"]: r for r in community_summaries(members, docs).collect()}
    assert summ["c1"]["n_members"] == 2
    assert "alpha" in summ["c1"]["keywords"]
    assert summ["c2"]["summary"].startswith("Community c2: 1 members")


def test_multimodal_features_and_pruning(spark, tmp_path):
    media = synthesize_media(spark)
    # column pruning: a metadata-only projection over the parquet table
    # must not read the binary column (check the scan's ReadSchema)
    pq_dir = str(tmp_path / "media_pq")
    media.write.mode("overwrite").parquet(pq_dir)
    meta_only = spark.read.parquet(pq_dir).select("kind", "meta.width").groupBy("kind").count()
    scan = meta_only._jdf.queryExecution().executedPlan().toString()
    read_schema = scan.split("ReadSchema:")[-1]
    assert "binary" not in read_schema
    assert "kind" in read_schema


def test_graphrag_local_and_global(spark, monkeypatch):
    from semstreams_spark.graph import graphrag
    from semstreams_spark.graph.graphrag import global_search, local_search

    members = spark.createDataFrame(
        [("e1", "c1"), ("e2", "c1"), ("e3", "c2"), ("e4", "c2")],
        "entity string, community string",
    )
    texts = spark.createDataFrame(
        [
            ("e1", "spark streaming engine"),
            ("e2", "cooking recipes"),
            ("e3", "spark batch engine"),
            ("e4", "gardening"),
        ],
        "entity string, text string",
    )
    summaries = spark.createDataFrame(
        [
            ("c1", "Community c1: about spark streaming", "spark, streaming"),
            ("c2", "Community c2: mixed topics", "spark, garden"),
        ],
        "community string, summary string, keywords string",
    )

    loc = local_search(members, texts, "e2", "spark engine").collect()
    assert [r["entity"] for r in loc] == ["e1"]  # e2's community, text-matched

    monkeypatch.setattr(graphrag, "TOP_COMMUNITIES", 1)
    glob = global_search(members, summaries, texts, "spark streaming").collect()
    # c1 scores 2*2 + 1.5*2 = 7 vs c2 2*1+1.5*1=3.5 -> only c1's members
    assert {r["community"] for r in glob} == {"c1"}
    assert glob[0]["entity"] == "e1" and glob[0]["entity_score"] == 2


def test_wav_decode_real_path(spark):
    """Real (not stubbed) audio decode: stdlib wave reads the synthetic
    WAV payloads back; header fields and the int16 sample sum match the
    generator contract exactly."""
    from semstreams_spark.operators.multimodal import (
        N_MEDIA,
        decode_wav_features,
        synth_wav_bytes,
        synthesize_media,
    )

    media = synthesize_media(spark)
    out = {r["media_id"]: r for r in decode_wav_features(media).collect()}
    assert sorted(out) == list(range(1, N_MEDIA, 3))  # audio rows: i % 3 == 1
    for i, r in out.items():
        wav, rate, n_frames = synth_wav_bytes(i)
        assert (r["sample_rate"], r["n_channels"], r["sampwidth"], r["n_frames"]) == (
            rate, 1, 2, n_frames,
        )
        assert r["duration_ms"] == n_frames * 1000 // rate
        assert r["sum_samples"] == sum(
            ((i * 131 + j * 197) % 65536) - 32768 for j in range(n_frames)
        )
        assert len(wav) == 44 + 2 * n_frames  # the oracle's byte contract


def test_png_decode_real_path(spark):
    """Real (not stubbed) image decode: the stdlib zlib PNG decoder
    round-trips the synthetic PNGs (all five scanline filter types) and
    the Spark mapInPandas path reproduces the analytic pixel-sum
    contract the gate's oracle recomputes."""
    import numpy as np

    from semstreams_spark.operators.multimodal import (
        N_MEDIA,
        decode_png_features,
        decode_png_pixels,
        encode_png,
        synth_png_bytes,
        synthesize_png_media,
    )

    # codec roundtrip, RGB + RGBA: 11 scanlines use every filter type
    rng = np.random.default_rng(3)
    for ch in (3, 4):
        px = rng.integers(0, 256, size=(11, 7, ch), dtype=np.uint8)
        assert np.array_equal(decode_png_pixels(encode_png(px)), px)

    # corrupt inputs raise ValueError (quarantine, never garbage)
    good, _, _ = synth_png_bytes(1)
    import pytest as _pytest

    for bad in (b"nope", good[:20], good[:60], good.replace(b"IDAT", b"IDAX")):
        with _pytest.raises(ValueError):
            decode_png_pixels(bad)

    # Spark path matches the analytic generator contract
    media = synthesize_png_media(spark)
    out = {r["media_id"]: r for r in decode_png_features(media).collect()}
    assert len(out) == N_MEDIA
    for i in (0, 5, 11):
        w, h = 8 + (i % 4) * 8, 8 + (i % 3) * 8
        p = np.arange(h * w * 3, dtype=np.int64)
        v = (i * 131 + p * 197) % 256
        r = out[i]
        assert (r["width"], r["height"]) == (w, h)
        assert r["sum_all"] == int(v.sum())
        assert r["sum_r"] == int(v[p % 3 == 0].sum())
        assert r["sum_b"] == int(v[p % 3 == 2].sum())


def test_mp4_metadata_real_path(spark):
    """Real (not stubbed) video-container metadata: the stdlib ISO BMFF
    box walk reads brand/duration/tracks/codecs from actual ftyp/moov
    boxes (v0 and v1 headers), corrupt payloads raise ValueError at the
    parser and are QUARANTINED (all-null row, job survives) on the
    Spark path."""
    from closed_form_reference import mp4_codecs
    from semstreams_spark.operators.mp4 import (
        mp4_duration_ms,
        mp4_n_tracks,
        parse_mp4_metadata,
        synth_mp4_bytes,
    )
    from semstreams_spark.operators.multimodal import (
        N_MP4_MEDIA,
        extract_video_metadata,
        synthesize_mp4_media,
    )

    # parser round-trips the generator contract, both header versions
    for i in (0, 1, 6, 7):
        m = parse_mp4_metadata(synth_mp4_bytes(i))
        assert m["brand"] == "isom"
        assert m["duration_ms"] == mp4_duration_ms(i)
        assert m["n_tracks"] == mp4_n_tracks(i)
        assert m["codecs"] == mp4_codecs(i)

    # corrupt inputs raise ValueError (quarantine, never garbage)
    good = synth_mp4_bytes(2)
    for bad in (b"", b"not a movie", good[:40], good[:100], good.replace(b"mvhd", b"mvhX")):
        with pytest.raises(ValueError):
            parse_mp4_metadata(bad)

    # Spark path: good rows parse, an injected corrupt row quarantines
    media = synthesize_mp4_media(spark)
    corrupt = spark.createDataFrame(
        [(99, "video", bytearray(b"ftypgarbage"), None, dt.datetime(2025, 1, 1))],
        media.schema,
    )
    out = {r["media_id"]: r for r in extract_video_metadata(media.union(corrupt)).collect()}
    assert len(out) == N_MP4_MEDIA + 1
    for i in range(N_MP4_MEDIA):
        assert out[i]["duration_ms"] == mp4_duration_ms(i)
        assert out[i]["codecs"] == mp4_codecs(i)
        assert out[i]["handlers"] == ("vide" if i % 2 == 0 else "vide,soun")
    assert out[99]["brand"] is None and out[99]["duration_ms"] is None


def test_pin_state_engine_marker(spark, tmp_path):
    import os

    import pytest

    from semstreams_spark.streaming.state_merge import pin_state_engine

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        ck = str(tmp_path / "ck")
        # a fresh checkpoint gets 8 buckets per state partition and
        # records the count
        assert pin_state_engine(ck, spark) == 16
        assert (tmp_path / "ck" / "_state_engine").read_text() == "bucketed:16"
        # a restart keeps the recorded count, whatever the session's
        # partition setting is now
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        assert pin_state_engine(ck, spark) == 16
        assert (tmp_path / "ck" / "_state_engine").read_text() == "bucketed:16"
        assert pin_state_engine(None, spark) == 40  # no checkpoint: always fresh
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    # checkpoints of any other layout fail at start with a clear message
    # and are left as found: a "tws" or "legacy" marker (per-conversation
    # state), a "legacy-bucketed" marker (a constant 64 buckets, before the
    # count was recorded), an unknown or malformed marker, and a pre-marker
    # checkpoint (None)
    for name in ("tws", "legacy", "legacy-bucketed", "bogus", "bucketed:", "bucketed:0", "bucketed:-4", None):
        old = tmp_path / f"ck_{name}"
        if name:
            old.mkdir()
            (old / "_state_engine").write_text(name)
        else:
            (old / "offsets").mkdir(parents=True)
        with pytest.raises(RuntimeError, match="restart from a fresh checkpoint"):
            pin_state_engine(str(old), spark)
        assert os.listdir(old) == ["_state_engine" if name else "offsets"]
        if name:
            assert (old / "_state_engine").read_text() == name


def test_rule_sql_compiles_subject_pattern(spark):
    """r5 ADVICE fix: rule_sql must honor Rule.subject_pattern — engine
    and compiled SQL agree on both dialects, including the required-field
    guard scope."""
    import duckdb
    import pandas as pd

    from semstreams_spark.rules.engine import Condition, Rule, evaluate_rules
    from rules_sql_reference import rule_sql

    rows = [
        ("app.user.1", "kind", "vip", "2025-01-01 00:00:00"),
        ("app.user.2", "kind", "vip", "2025-01-01 00:01:00"),
        ("web.user.3", "kind", "vip", "2025-01-01 00:02:00"),
        ("app.user.1", "score", "10", "2025-01-01 00:03:00"),
        ("web.user.3", "score", "99", "2025-01-01 00:04:00"),
    ]
    pdf = pd.DataFrame(rows, columns=["subject", "predicate", "object", "ts"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    states = spark.createDataFrame(pdf)
    for rule in (
        Rule(id="r1", conditions=(Condition("kind", "eq", "vip"),), subject_pattern="app.user.*"),
        Rule(
            id="r2",
            logic="or",
            conditions=(Condition("kind", "eq", "vip"), Condition("score", "gt", "5")),
            subject_pattern="app.>",
        ),
    ):
        eng = {tuple(r) for r in evaluate_rules(states, [rule]).collect()}
        states.createOrReplaceTempView("states_sp")
        sp = {tuple(r) for r in spark.sql(rule_sql(rule, table="states_sp", dialect="spark")).collect()}
        con = duckdb.connect()
        con.register("states", pdf)
        dk = {(r[0], r[1], pd.Timestamp(r[2])) for r in con.execute(rule_sql(rule, table="states")).fetchall()}
        assert eng == sp == dk, rule.id
