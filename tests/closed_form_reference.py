"""Closed forms the package is checked against: the analytic recall of
banded hyperplane LSH (``similarity.lsh_band_params``, tests/test_properties.py
and tests/test_dedup_similarity.py) and the codec list of the synthetic
MP4 files (``mp4.synth_mp4_bytes``, tests/test_api_transforms.py)."""

from __future__ import annotations

import math


def banded_recall(threshold: float, bands: int, rows_per_band: int) -> float:
    """Analytic recall of banded hyperplane LSH for a pair at exactly
    `threshold` cosine: 1 − (1 − p^r)^b with p = 1 − acos(threshold)/π."""
    p = 1.0 - math.acos(threshold) / math.pi
    return 1.0 - (1.0 - p**rows_per_band) ** bands


def mp4_codecs(i: int) -> str:
    """Codecs of synthetic MP4 file i: avc1, plus mp4a on odd i."""
    return "avc1" if i % 2 == 0 else "avc1,mp4a"
