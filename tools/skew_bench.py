"""Hot-conversation skew measurement (round-4 worklist item).

The stateful merge is keyed by a hash bucket of conv_id, so a 50x-hot
conversation serializes through ONE state task — AQE skew-join handling
does not apply inside applyInPandasWithState. This tool quantifies the actual
ceiling: the SAME generator with hot_factor=50 (canonical skewed corpus,
~1% of conversations at 50x turns) vs hot_factor=1 (control), measuring

- one-big-batch ingest throughput (turns/sec) — does the hot key gate
  the whole batch?
- 20-file micro-batch p95 trigger time — does the hot key stretch the
  tail batch?
- the theoretical floor: max per-conv turn count / per-core turn
  throughput is the serial lower bound for any operator keyed by (a
  function of) conv_id.

Results are summarized in BASELINE.md §F. Usage:
  python tools/skew_bench.py [--sf 0.1] [--cores N]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run_variant(spark, label: str, sf: float, hot_factor: int, workdir: str, cores: int):
    import pyarrow.parquet as pq

    from bench import p95, stream_ingest
    from semstreams_spark.datagen.transcripts import generate_transcripts

    tbl, _ = generate_transcripts(sf, hot_factor=hot_factor)
    src = os.path.join(workdir, f"src_{label}.parquet")
    pq.write_table(tbl, src, compression="snappy", row_group_size=16_384)

    convs = tbl.column("conv_id").to_pandas().value_counts()
    n_turns = len(tbl)
    max_conv = int(convs.iloc[0])

    sub = os.path.join(workdir, label)
    os.makedirs(sub, exist_ok=True)
    # one-big-batch throughput: warmup + 2, min (bench protocol)
    walls = []
    for i in range(3):
        w, _, _ = stream_ingest(spark, src, sub, n_files=cores * 2, mfpt=cores * 2)
        if i > 0:
            walls.append(w)
    wall = min(walls)
    # micro-batch latency: p95 trigger time over 20 batches
    _, _, per_batch = stream_ingest(spark, src, sub, n_files=20, mfpt=1)
    shutil.rmtree(sub, ignore_errors=True)
    return {
        "hot_factor": hot_factor,
        "n_turns": n_turns,
        "max_conv_turns": max_conv,
        "max_conv_share": round(max_conv / n_turns, 5),
        "ingest_wall": round(wall, 3),
        "ingest_walls": [round(w, 3) for w in walls],
        "turns_per_sec": round(n_turns / wall, 1),
        "batch_p95_ms": p95(per_batch),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()))
    args = ap.parse_args()

    from semstreams_spark.session import get_spark

    spark = get_spark("skew_bench", cores=args.cores, shuffle_partitions=args.cores)
    workdir = tempfile.mkdtemp(prefix="semspark_skew_")
    t0 = time.monotonic()
    load0 = round(os.getloadavg()[0], 2)
    hot = run_variant(spark, "hot", args.sf, 50, workdir, args.cores)
    ctrl = run_variant(spark, "ctrl", args.sf, 1, workdir, args.cores)
    shutil.rmtree(workdir, ignore_errors=True)

    # per-turn cost ratio: >1 means the skewed corpus is slower per turn
    ratio = round(ctrl["turns_per_sec"] / hot["turns_per_sec"], 3)
    print(
        json.dumps(
            {
                "metric": "hot_conv_skew",
                "sf": args.sf,
                "cores": args.cores,
                "hot": hot,
                "control": ctrl,
                "per_turn_slowdown_hot_vs_control": ratio,
                "serial_floor_note": (
                    "max_conv_turns is the per-key serial bound for any "
                    "conv_id-keyed stateful operator"
                ),
                "loadavg_1m": [load0, round(os.getloadavg()[0], 2)],
                "wall_total_s": round(time.monotonic() - t0, 1),
            }
        )
    )


if __name__ == "__main__":
    main()
