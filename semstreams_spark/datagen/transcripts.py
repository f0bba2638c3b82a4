"""Deterministic synthetic transcript generator.

Produces the engine's primary input table with the exact shape from the
input hint: ``(conv_id string, turn_idx int32, role string, text string,
tool string, ts timestamp)`` — plus a small ``aliases`` dimension table
(mirrors the reference's ALIAS_INDEX, ``indexmanager/indexes.go:509-540``).

Properties (FIXTURES.md §1):
- fully deterministic under a fixed seed (numpy Generator, vectorized)
- skewed conversation sizes: ~1% "hot" conversations with ~50x turns
  (exercises salting / AQE skew handling)
- entity mentions embedded as ``@entity:<name>`` tokens, Zipf-skewed vocab
- event-time jitter producing out-of-order rows within a conversation and
  a tail of late rows (beyond typical watermark)
- intra-conversation 2h gaps so session windows split conversations
- file row order is SHUFFLED (arrival order != event order) — operators
  must impose stable (conv_id, turn_idx) ordering themselves

No wall-clock anywhere; base epoch is fixed.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
BASE_US = np.int64(1735689600000000)  # 2025-01-01T00:00:00Z in microseconds
DATA_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "data", "transcripts")

TOOLS = np.array(["search", "calc", "code", "browse"])
FILLERS = np.array(
    "the quick system ran a query over logs and found results then retried "
    "plan step agent model token stream window state merge join graph node "
    "edge triple entity fact answer question context memory recall".split()
)
N_ENTITIES = 200

# turns per scale factor (sf0.1 ≈ 500k turns per TESTDATA bench scale)
TURNS_PER_SF = 5_000_000


def _entity_names() -> np.ndarray:
    return np.array([f"ent_{i:03d}" for i in range(N_ENTITIES)])


def transcripts_path(sf: float) -> str:
    return os.path.join(DATA_ROOT, f"sf{sf:g}", "transcripts.parquet")


def aliases_path(sf: float) -> str:
    return os.path.join(DATA_ROOT, f"sf{sf:g}", "aliases.parquet")


def sf_from_dir(sf_dir: str) -> float:
    """'/root/testdata/sf0.01' -> 0.01"""
    m = re.search(r"sf([0-9.]+)", os.path.basename(os.path.normpath(sf_dir)))
    if not m:
        raise ValueError(f"cannot parse scale factor from {sf_dir!r}")
    return float(m.group(1))


def generate_transcripts(sf: float, seed: int = SEED, hot_factor: int = 50):
    """Return (table, aliases_table) as pyarrow Tables. Pure numpy, vectorized.

    hot_factor: multiplier on the ~1% hot conversations' sizes (default
    50 — the canonical skewed dataset; pass 1 for a skew-free control
    corpus, used by tools/skew_bench.py to isolate hot-key cost in the
    conv_id-keyed stateful stages). The default path is bit-identical to
    the pre-parameter generator: the same rng draws happen either way."""
    rng = np.random.default_rng(seed + int(round(sf * 100000)))
    target_turns = max(1000, int(TURNS_PER_SF * sf))
    # avg base size ~12; 1% hot convs at ~50x
    n_convs = max(20, target_turns // 18)

    sizes = rng.poisson(10, n_convs).astype(np.int64) + 2
    n_hot = max(1, n_convs // 100)
    hot_idx = rng.choice(n_convs, size=n_hot, replace=False)
    sizes[hot_idx] = sizes[hot_idx] * hot_factor

    total = int(sizes.sum())
    conv_num = np.repeat(np.arange(n_convs, dtype=np.int64), sizes)
    # dense turn_idx per conversation
    starts = np.zeros(n_convs, dtype=np.int64)
    starts[1:] = np.cumsum(sizes)[:-1]
    turn_idx = (np.arange(total, dtype=np.int64) - starts[conv_num]).astype(np.int32)

    conv_id = np.char.add("conv_", np.char.zfill(conv_num.astype("U7"), 7))

    # roles: alternate user/assistant; every 7th-ish turn is a tool call
    role = np.where(turn_idx % 2 == 0, "user", "assistant").astype("U9")
    is_tool = (turn_idx % 7 == 3) & (turn_idx > 0)
    role[is_tool] = "tool"
    role[(turn_idx == 0) & (conv_num % 10 == 0)] = "system"
    tool = np.full(total, "", dtype="U8")
    tool[is_tool] = TOOLS[rng.integers(0, len(TOOLS), is_tool.sum())]

    # event time: conv start spread + 20s per turn + jitter; 2h session gaps
    conv_start = BASE_US + (conv_num * 37_000_000)  # 37s spacing between conv starts
    step = turn_idx.astype(np.int64) * 20_000_000
    session_gap = (turn_idx.astype(np.int64) // 20) * 7_200_000_000  # 2h every 20 turns
    jitter = rng.integers(-5_000_000, 5_000_000, total)
    ts_us = conv_start + step + session_gap + jitter
    # out-of-order: 2% of turns pushed 45s earlier (inversions vs turn order)
    ooo = rng.random(total) < 0.02
    ts_us[ooo] -= 45_000_000
    # late rows: 0.5% arrive with event time 15min behind
    late = rng.random(total) < 0.005
    ts_us[late] -= 900_000_000

    # text: Zipf-skewed entity mentions; second mention sometimes uses an
    # alias name (resolvable via the alias dim) or a ghost (unresolvable)
    ents = _entity_names()
    zipf_w = 1.0 / np.arange(1, N_ENTITIES + 1) ** 1.1
    zipf_w /= zipf_w.sum()
    aka = np.array([f"aka_{i:03d}" for i in range(0, N_ENTITIES, 5)])
    ghosts = np.array([f"ghost_{i}" for i in range(10)])
    vocab2 = np.concatenate([ents, aka, ghosts])
    w2 = np.concatenate(
        [zipf_w * 0.85, np.full(len(aka), 0.12 / len(aka)), np.full(len(ghosts), 0.03 / len(ghosts))]
    )
    w2 /= w2.sum()
    e1 = ents[rng.choice(N_ENTITIES, total, p=zipf_w)]
    e2 = vocab2[rng.choice(len(vocab2), total, p=w2)]
    f1 = FILLERS[rng.integers(0, len(FILLERS), total)]
    f2 = FILLERS[rng.integers(0, len(FILLERS), total)]
    f3 = FILLERS[rng.integers(0, len(FILLERS), total)]
    kind = rng.integers(0, 4, total)  # 0: no mention, 1: one, 2: two, 3: tool-ish
    text = np.char.add(np.char.add(f1, " "), np.char.add(f2, " "))
    text = np.char.add(text, f3)
    m1 = np.char.add(" @entity:", e1)
    m2 = np.char.add(" @entity:", e2)
    text = np.where(kind >= 1, np.char.add(text, m1), text)
    text = np.where(kind >= 2, np.char.add(text, m2), text)
    text = np.where(
        kind == 3,
        np.char.add(np.char.add("invoke ", np.where(tool == "", "noop", tool)), m1),
        text,
    )

    # shuffle file order (arrival order != event order)
    perm = rng.permutation(total)

    tbl = pa.table(
        {
            "conv_id": pa.array(conv_id[perm]),
            "turn_idx": pa.array(turn_idx[perm], type=pa.int32()),
            "role": pa.array(role[perm]),
            "text": pa.array(text[perm]),
            "tool": pa.array(np.where(tool[perm] == "", None, tool[perm])),
            "ts": pa.array(ts_us[perm], type=pa.timestamp("us")),
        }
    )

    # alias dim: aka_XXX -> ent_XXX; ghost_* mentions are deliberately
    # absent (unresolvable aliases must pass through unchanged)
    alias_src = [f"aka_{i:03d}" for i in range(0, N_ENTITIES, 5)]
    alias_dst = [f"ent_{i:03d}" for i in range(0, N_ENTITIES, 5)]
    atbl = pa.table({"alias": pa.array(alias_src), "entity_name": pa.array(alias_dst)})
    return tbl, atbl


def ensure_transcripts(sf: float) -> str:
    """Generate-if-missing; atomic rename so concurrent callers are safe."""
    path = transcripts_path(sf)
    apath = aliases_path(sf)
    if os.path.exists(path) and os.path.exists(apath):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tbl, atbl = generate_transcripts(sf)
    tmp = path + f".tmp.{os.getpid()}"
    # small row groups so Spark can split the single local file across
    # cores (parquet splits at row-group granularity; 200k-row groups
    # capped every transcript scan at 3 tasks on a 32-core box). Values
    # are unchanged — only the file's physical layout.
    pq.write_table(tbl, tmp, compression="snappy", row_group_size=16_384)
    os.replace(tmp, path)
    tmpa = apath + f".tmp.{os.getpid()}"
    pq.write_table(atbl, tmpa, compression="snappy")
    os.replace(tmpa, apath)
    return path
