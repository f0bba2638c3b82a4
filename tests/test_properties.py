"""Property-based tests (hypothesis) for the pure deterministic helpers.

These run without a SparkSession: they pin the DRIVER-SIDE contracts the
engine-side operators and the DuckDB oracles both build on — the hash-
derived LSH family, the k-means trainer shared verbatim by Spark and the
oracle and the WAV synthesis contract.
"""

from __future__ import annotations

import io
import math
import wave

from hypothesis import given, settings
from hypothesis import strategies as st

from closed_form_reference import banded_recall
from semstreams_spark.operators.multimodal import synth_wav_bytes
from semstreams_spark.operators.similarity import _cos_py, lsh_band_params, train_ivf_centroids

# ---------------------------------------------------------------- LSH banding

thresholds = st.floats(min_value=0.80, max_value=0.99)


@given(thresholds)
@settings(max_examples=50, deadline=None)
def test_band_params_meet_recall_and_are_minimal(theta):
    b = lsh_band_params(theta, target_recall=0.95, rows_per_band=10)
    assert banded_recall(theta, b, 10) >= 0.95
    if b > 1:
        assert banded_recall(theta, b - 1, 10) < 0.95


@given(thresholds, st.integers(min_value=1, max_value=32), st.integers(min_value=1, max_value=16))
@settings(max_examples=50, deadline=None)
def test_banded_recall_bounds_and_monotonicity(theta, b, r):
    rec = banded_recall(theta, b, r)
    assert 0.0 <= rec <= 1.0
    # more bands (OR) never lowers recall; more rows per band (AND) never raises it
    assert banded_recall(theta, b + 1, r) >= rec - 1e-12
    assert banded_recall(theta, b, r + 1) <= rec + 1e-12


# ---------------------------------------------------------------- k-means

# components are 0 or of sane magnitude: squaring a denormal (~1e-160)
# loses precision, so "normalized" vectors can miss unit norm by >1e-9 —
# true of the pre-numpy trainer too, and unreachable for real embeddings
component = st.one_of(
    st.just(0.0),
    st.floats(min_value=1e-6, max_value=1.0),
    st.floats(min_value=-1.0, max_value=-1e-6),
)
vec = st.lists(component, min_size=4, max_size=4)
samples = st.lists(vec, min_size=1, max_size=24)


@given(samples, st.integers(min_value=1, max_value=6))
@settings(max_examples=40, deadline=None)
def test_kmeans_deterministic_and_unit_norm(sample, n_cells):
    c1 = train_ivf_centroids(sample, n_cells)
    c2 = train_ivf_centroids([list(v) for v in sample], n_cells)
    assert c1 == c2  # bit-identical across calls — the Spark/DuckDB parity basis
    assert len(c1) == min(n_cells, len(sample))
    for c in c1:
        nrm = math.sqrt(sum(x * x for x in c))
        # either unit-normalized or an untouched (possibly zero) init vector
        assert nrm == 0.0 or abs(nrm - 1.0) < 1e-9 or c in [list(map(float, v)) for v in sample]


@given(samples)
@settings(max_examples=30, deadline=None)
def test_kmeans_single_cell_is_normalized_mean_direction(sample):
    cents = train_ivf_centroids(sample, 1, n_iters=1)
    assert len(cents) == 1
    # with one cell every vector is assigned to it; the update is the
    # L2-normalized mean (or the init vector if the mean is zero)
    dim = len(sample[0])
    mean = [sum(v[j] for v in sample) / len(sample) for j in range(dim)]
    nrm = math.sqrt(sum(x * x for x in mean))
    if nrm > 0:
        expect = [x / nrm for x in mean]
        assert all(abs(a - b) < 1e-9 for a, b in zip(cents[0], expect))


@given(vec, vec)
@settings(max_examples=50, deadline=None)
def test_cos_py_symmetric_and_bounded(a, b):
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    if na == 0 or nb == 0:
        return  # contract: callers never pass zero vectors
    s = _cos_py(a, b)
    assert abs(s - _cos_py(b, a)) < 1e-12
    assert -1.0 - 1e-9 <= s <= 1.0 + 1e-9


# ---------------------------------------------------------------- WAV contract


@given(st.integers(min_value=0, max_value=500))
@settings(max_examples=30, deadline=None)
def test_synth_wav_roundtrips_through_stdlib_wave(i):
    payload, rate, n_frames = synth_wav_bytes(i)
    with wave.open(io.BytesIO(payload), "rb") as w:
        assert w.getframerate() == rate == 8000 * (1 + (i % 9) // 3)
        assert w.getnframes() == n_frames == 400 + (i % 5) * 80
        assert w.getnchannels() == 1 and w.getsampwidth() == 2
        frames = w.readframes(n_frames)
    # sample contract used by the media_wav_decode oracle
    import struct

    samples = struct.unpack(f"<{n_frames}h", frames)
    for j in (0, n_frames // 2, n_frames - 1):
        assert samples[j] == ((i * 131 + j * 197) % 65536) - 32768
