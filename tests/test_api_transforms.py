"""Transform family (P1-P4), query API surface (§2.11), summarizer (G5),
multimodal plumbing."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from semstreams_spark.extract import extract_triples
from semstreams_spark.graph.summarize import community_summaries, top_terms
from semstreams_spark.operators import edges_table, nodes_table
from semstreams_spark.operators.multimodal import (
    extract_image_features,
    media_metadata_stats,
    sample_video_frames,
    synthesize_media,
)
from semstreams_spark.operators.transforms import (
    FilterRule,
    json_filter,
    json_map,
    json_to_entity,
)
from semstreams_spark.plans import GraphQueryAPI

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


def test_json_to_entity(events_df):
    out = json_to_entity(events_df, "event_id", "event_type").collect()
    r = {x["entity_id"]: x for x in out}
    assert r["1"]["entity_type"] == "signup"
    assert r["1"]["properties"]["value"] == "10.5"
    assert "event_id" not in r["1"]["properties"]


@pytest.fixture(scope="module")
def api(spark, transcripts_small):
    t = extract_triples(transcripts_small)
    return GraphQueryAPI(nodes=nodes_table(t).cache(), edges=edges_table(t).cache(), triples=t.cache())


def test_point_lookups(api):
    some_id = api.nodes.select("id").orderBy("id").first()["id"]
    assert api.get_entity(some_id).count() == 1
    assert api.exists_entity(some_id)
    assert not api.exists_entity("no.such.entity.x.y.z")
    ids = [r["id"] for r in api.nodes.select("id").orderBy("id").limit(3).collect()]
    assert api.get_entities_batch(ids).count() == 3


def test_scans_and_predicate(api):
    assert api.count_entities() == api.nodes.count()
    assert api.list_entities(limit=5).count() == 5
    turns = api.query_entities(entity_type="turn")
    assert turns.count() == api.nodes.count()  # all subjects are turns
    subj = api.query_by_predicate("conv.turn.tool")
    assert subj.count() > 0


def test_relationships(api):
    e = api.edges.first()
    out = api.relationships_out(e["src"])
    assert out.count() >= 1
    inc = api.relationships_in(e["dst"])
    assert inc.count() >= 1
    assert api.verify_relationship(e["src"], e["dst"], e["edge_type"])
    assert not api.verify_relationship(e["src"], e["dst"], "no_such_type")
    both = api.relationships_both(e["src"])
    assert both.count() >= out.count()


def test_snapshot_truncation(api):
    snap, truncated = api.snapshot(max_entities=10)
    assert snap.count() == 10 and truncated
    snap2, truncated2 = api.snapshot(entity_types=["nope"], max_entities=10)
    assert snap2.count() == 0 and not truncated2


def test_temporal_range(api):
    lo = api.triples.agg(F.min("ts")).collect()[0][0]
    hi = lo + dt.timedelta(hours=1)
    sub = api.query_temporal(lo, hi)
    assert 0 < sub.count() < api.triples.count()


def test_top_terms_and_summaries(spark):
    docs = spark.createDataFrame(
        [("e1", "alpha beta alpha gamma"), ("e2", "alpha delta"), ("e3", "zeta zeta zeta")],
        "entity string, text string",
    )
    members = spark.createDataFrame(
        [("e1", "c1"), ("e2", "c1"), ("e3", "c2")], "entity string, community string"
    )
    terms = top_terms(docs, "text", k=2).collect()
    assert terms[0]["term"] == "alpha" and terms[0]["tf"] == 3  # ties break term-asc
    summ = {r["community"]: r for r in community_summaries(members, docs, k_terms=2).collect()}
    assert summ["c1"]["n_members"] == 2
    assert "alpha" in summ["c1"]["keywords"]
    assert summ["c2"]["summary"].startswith("Community c2: 1 members")


def test_multimodal_features_and_pruning(spark, tmp_path):
    media = synthesize_media(spark, n=24)
    feats = extract_image_features(media)
    rows = feats.collect()
    assert len(rows) == 8  # every 3rd is an image
    assert all(0 <= r["brightness"] <= 255 for r in rows)
    assert all(len(r["phash"]) == 64 for r in rows)
    # determinism: same content -> same features
    rows2 = extract_image_features(media).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))

    frames = sample_video_frames(media, every_nth=10)
    f0 = frames.groupBy("media_id").count().first()
    assert f0["count"] >= 1

    stats = media_metadata_stats(media)
    assert stats.count() == 3
    # column pruning: a metadata-only projection over the parquet table
    # must not read the binary column (check the scan's ReadSchema)
    pq_dir = str(tmp_path / "media_pq")
    media.write.mode("overwrite").parquet(pq_dir)
    meta_only = spark.read.parquet(pq_dir).select("kind", "meta.width").groupBy("kind").count()
    scan = meta_only._jdf.queryExecution().executedPlan().toString()
    read_schema = scan.split("ReadSchema:")[-1]
    assert "binary" not in read_schema
    assert "kind" in read_schema


def test_graphrag_local_and_global(spark):
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

    glob = global_search(members, summaries, texts, "spark streaming", top_communities=1).collect()
    # c1 scores 2*2 + 1.5*2 = 7 vs c2 2*1+1.5*1=3.5 -> only c1's members
    assert {r["community"] for r in glob} == {"c1"}
    assert glob[0]["entity"] == "e1" and glob[0]["entity_score"] == 2


def test_wav_decode_real_path(spark):
    """Real (not stubbed) audio decode: stdlib wave reads the synthetic
    WAV payloads back; header fields and the int16 sample sum match the
    generator contract exactly."""
    from semstreams_spark.operators.multimodal import (
        decode_wav_features,
        synth_wav_bytes,
        synthesize_media,
    )

    media = synthesize_media(spark, n=24)
    out = {r["media_id"]: r for r in decode_wav_features(media).collect()}
    assert len(out) == 8  # audio rows: i % 3 == 1
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
        decode_png_features,
        decode_png_pixels,
        encode_png,
        synth_png_bytes,
        synthesize_png_media,
    )

    # codec roundtrip, RGB + RGBA, filtered + unfiltered
    rng = np.random.default_rng(3)
    for ch in (3, 4):
        px = rng.integers(0, 256, size=(11, 7, ch), dtype=np.uint8)
        for fpr in (True, False):
            assert np.array_equal(decode_png_pixels(encode_png(px, filter_per_row=fpr)), px)

    # corrupt inputs raise ValueError (quarantine, never garbage)
    good, _, _ = synth_png_bytes(1)
    import pytest as _pytest

    for bad in (b"nope", good[:20], good[:60], good.replace(b"IDAT", b"IDAX")):
        with _pytest.raises(ValueError):
            decode_png_pixels(bad)

    # Spark path matches the analytic generator contract
    media = synthesize_png_media(spark, n=12)
    out = {r["media_id"]: r for r in decode_png_features(media).collect()}
    assert len(out) == 12
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
    from semstreams_spark.operators.mp4 import (
        mp4_codecs,
        mp4_duration_ms,
        mp4_n_tracks,
        parse_mp4_metadata,
        synth_mp4_bytes,
    )
    from semstreams_spark.operators.multimodal import (
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
    media = synthesize_mp4_media(spark, n=6)
    corrupt = spark.createDataFrame(
        [(99, "video", bytearray(b"ftypgarbage"), None, dt.datetime(2025, 1, 1))],
        media.schema,
    )
    out = {r["media_id"]: r for r in extract_video_metadata(media.union(corrupt)).collect()}
    assert len(out) == 7
    for i in range(6):
        assert out[i]["duration_ms"] == mp4_duration_ms(i)
        assert out[i]["codecs"] == mp4_codecs(i)
        assert out[i]["handlers"] == ("vide" if i % 2 == 0 else "vide,soun")
    assert out[99]["brand"] is None and out[99]["duration_ms"] is None


def test_image_features_use_real_png_decode(spark):
    """extract_image_features detects the PNG signature and decodes for
    real: means/brightness equal the analytic pixel means, not the
    content-hash fake."""
    import numpy as np

    from semstreams_spark.operators.multimodal import (
        extract_image_features,
        synthesize_png_media,
    )

    feats = {r["media_id"]: r for r in extract_image_features(synthesize_png_media(spark, n=6)).collect()}
    i = 2
    w, h = 8 + (i % 4) * 8, 8 + (i % 3) * 8
    p = np.arange(h * w * 3, dtype=np.int64)
    v = ((i * 131 + p * 197) % 256).reshape(h, w, 3)
    assert abs(feats[i]["brightness"] - v.mean()) < 1e-9
    assert abs(feats[i]["mean_g"] - v[:, :, 1].mean()) < 1e-9


def test_jpeg_codec_real_path(spark):
    """Real baseline JPEG codec (stdlib+numpy): Huffman entropy coding,
    DC prediction, AC run-length, DCT. Lossy, so no SQL oracle — pinned
    by roundtrip error bounds, exact cases, and strict-profile rejects."""
    import numpy as np
    import pytest as _pytest

    from semstreams_spark.operators.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg,
        synth_jpeg_bytes,
    )

    # constant image: DC-only blocks roundtrip EXACTLY (no AC, no color
    # rounding ambiguity) — proves the entropy path bit-for-bit
    px = np.full((16, 24, 3), 77, dtype=np.uint8)
    assert np.array_equal(decode_jpeg_pixels(encode_jpeg(px, 90)), px)

    # q100: quantizer ≈ identity, error bounded by DCT float rounding —
    # holds even for pure noise (hardest content)
    rng = np.random.default_rng(0)
    noisy = rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8)
    out = decode_jpeg_pixels(encode_jpeg(noisy, 100))
    assert np.abs(out.astype(int) - noisy.astype(int)).max() <= 3

    # smooth fixture at q90: tight bound, deterministic bytes
    b, w, h = synth_jpeg_bytes(3, quality=90)
    b2, _, _ = synth_jpeg_bytes(3, quality=90)
    assert b == b2
    dec = decode_jpeg_pixels(b)
    assert dec.shape == (h, w, 3)

    # grayscale path
    g = (np.arange(256).reshape(16, 16) % 256).astype(np.uint8)
    og = decode_jpeg_pixels(encode_jpeg(g, 95))
    assert og.shape == (16, 16, 1)
    assert np.abs(og[:, :, 0].astype(int) - g.astype(int)).max() <= 2

    # strict profile: progressive / subsampled / truncated / non-JPEG
    # all raise ValueError (quarantine, never garbage)
    prog = bytearray(b)
    sof = prog.find(b"\xff\xc0")
    prog[sof + 1] = 0xC2  # rewrite SOF0 -> SOF2 (progressive)
    for bad in (b"nope", b[:30], bytes(prog)):
        with _pytest.raises(ValueError):
            decode_jpeg_pixels(bad)


def test_image_features_use_real_jpeg_decode(spark):
    """extract_image_features detects the JPEG signature and decodes for
    real: brightness of a constant-color JPEG equals that color."""
    import datetime as _dt

    import numpy as np

    from semstreams_spark.operators.jpeg import encode_jpeg
    from semstreams_spark.operators.multimodal import MEDIA_SCHEMA, extract_image_features

    px = np.full((16, 16, 3), 200, dtype=np.uint8)
    rows = [
        (
            0,
            "image",
            bytearray(encode_jpeg(px, 90)),
            {"width": 16, "height": 16, "sample_rate": None, "n_frames": None, "codec": "jpeg"},
            _dt.datetime(2025, 1, 1),
        )
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = extract_image_features(media).collect()
    assert len(feats) == 1
    assert abs(feats[0]["brightness"] - 200.0) < 1e-9
    assert abs(feats[0]["mean_r"] - 200.0) < 1e-9


def test_jpeg_subsampling_and_restart_intervals(spark):
    """The decoder handles the layouts real JPEGs actually use: 4:2:0
    chroma subsampling (luma near-exact, chroma error bounded) and
    restart intervals (DRI + RSTn with DC-predictor reset), including
    non-multiple-of-16 dimensions and out-of-sequence marker detection."""
    import numpy as np
    import pytest as _pytest

    from semstreams_spark.operators.jpeg import (
        _rgb_to_ycbcr,
        decode_jpeg_pixels,
        encode_jpeg,
    )

    rng = np.random.default_rng(1)
    px = rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8)

    # restart intervals are transparent to content
    out = decode_jpeg_pixels(encode_jpeg(px, 100, restart_interval=2))
    assert np.abs(out.astype(int) - px.astype(int)).max() <= 3

    # 4:2:0: luma carries full resolution; chroma is box-averaged
    yy, xx = np.mgrid[0:40, 0:56].astype(np.float64)
    sm = np.clip(
        np.round(
            np.stack(
                [128 + 80 * np.sin(2 * np.pi * xx / 56), 128 + 80 * np.cos(2 * np.pi * yy / 40), xx * 2 + yy],
                axis=-1,
            )
        ),
        0,
        255,
    ).astype(np.uint8)
    o420 = decode_jpeg_pixels(encode_jpeg(sm, 95, subsample=True))
    y_err = np.abs(
        _rgb_to_ycbcr(sm.astype(np.float64))[..., 0] - _rgb_to_ycbcr(o420.astype(np.float64))[..., 0]
    )
    assert y_err.max() <= 3  # luma near-exact
    assert np.abs(o420.astype(int) - sm.astype(int)).max() <= 16  # chroma bounded

    # odd (non-MCU-multiple) dims through the subsampled + restart path
    odd = sm[:37, :51]
    o2 = decode_jpeg_pixels(encode_jpeg(odd, 95, subsample=True, restart_interval=3))
    assert o2.shape == (37, 51, 3)

    # an out-of-sequence restart marker is an error, not silent corruption
    b1 = bytearray(encode_jpeg(px, 100, restart_interval=2))
    i = next(j for j in (b1.find(bytes([0xFF, 0xD0 + k])) for k in range(8)) if j > 0)
    b1[i + 1] = 0xD7 if b1[i + 1] != 0xD7 else 0xD6
    with _pytest.raises(ValueError):
        decode_jpeg_pixels(bytes(b1))


def test_image_features_quarantine_corrupt_deflate(spark):
    """A signature-valid PNG whose IDAT deflate stream is corrupt raises
    zlib.error (not ValueError) from zlib.decompress — the quarantine
    guard must catch it and fall back instead of failing the Spark job
    (r5 ADVICE fix)."""
    import struct
    import zlib

    from semstreams_spark.operators.multimodal import extract_image_features

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">IIBBBBB", 8, 8, 8, 2, 0, 0, 0)
    bad = sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", b"\x00NOT-DEFLATE\xff") + chunk(b"IEND", b"")
    media = spark.createDataFrame(
        [(0, "image", bad, {"width": "8", "height": "8"})],
        "media_id long, kind string, media binary, meta map<string,string>",
    )
    rows = extract_image_features(media).collect()  # must NOT raise
    assert len(rows) == 1  # quarantined to the deterministic fallback


def test_pin_state_engine_marker(tmp_path):
    import os

    import pytest

    from semstreams_spark.streaming.state_merge import pin_state_engine

    ck = str(tmp_path / "ck")
    pin_state_engine(ck)
    # the marker names the state layout: state keyed by hash bucket
    assert (tmp_path / "ck" / "_state_engine").read_text() == "legacy-bucketed"
    pin_state_engine(ck)  # a restart proceeds and keeps the marker
    assert (tmp_path / "ck" / "_state_engine").read_text() == "legacy-bucketed"
    pin_state_engine(None)  # no checkpoint, nothing to check
    # checkpoints of any other layout fail at start with a clear message
    # and are left as found: a "tws" or "legacy" marker (per-conversation
    # state), an unknown marker, and a pre-marker checkpoint (None)
    for name in ("tws", "legacy", "bogus", None):
        old = tmp_path / f"ck_{name}"
        if name:
            old.mkdir()
            (old / "_state_engine").write_text(name)
        else:
            (old / "offsets").mkdir(parents=True)
        with pytest.raises(RuntimeError, match="restart from a fresh checkpoint"):
            pin_state_engine(str(old))
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
    from semstreams_spark.rules.sql_compile import rule_sql

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
