"""Two-parallelism-level scaling run (north_rule evidence).

The sandbox has no real cluster (driver instruction): run the identical
e2e ingest job on identical input at local[N] and local[4N] (fresh JVM
each via subprocess), report throughput at both and efficiency
= (T_N / T_4N) / 4. Results are appended to BENCH output and summarized
in BASELINE.md §B. N defaults to a quarter of the host's cores
($SPARK_GRAFT_CPUS, else the CPU count), so the 4N level fits the host.

Usage: python tools/scaling_bench.py [--sf-dir DIR] [--n N]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_level(cores: int, sf_dir: str, runs: int) -> dict:
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "bench.py"),
            "--stream-only",
            "--cores",
            str(cores),
            "--sf-dir",
            sf_dir,
            "--runs",
            str(runs),
        ],
        capture_output=True,
        text=True,
        check=True,
        cwd=REPO,
    )
    line = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    host_cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    ap.add_argument(
        "--n",
        type=int,
        default=max(1, host_cores // 4),
        help="small level N cores (big level = 4N). Default: a quarter of "
        "the host's cores ($SPARK_GRAFT_CPUS, else the CPU count), so both "
        "levels fit the host and the ratio measures the JOB rather than "
        "core contention.",
    )
    ap.add_argument("--rounds", type=int, default=2, help="interleaved N/4N measurement rounds")
    args = ap.parse_args()

    # interleave levels (N,4N,N,4N,...) so host-load drift biases both
    # levels equally; each subprocess = fresh JVM, 1 discarded warmup +
    # 1 timed run
    walls: dict[int, list[float]] = {args.n: [], args.n * 4: []}
    n_turns: dict[int, int] = {}
    sf = None
    for _ in range(args.rounds):
        for cores in (args.n, args.n * 4):
            r = run_level(cores, args.sf_dir, runs=2)
            walls[cores].extend(r.get("ingest_walls", [r["queries"]["ingest_e2e"]]))
            n_turns[cores] = r["n_turns"]
            sf = r["sf"]

    # min-of-runs: the noise-robust capability estimator on a shared host
    # (any single run can be inflated by co-tenant load; none can be
    # deflated below true cost)
    t_n = min(walls[args.n])
    t_4n = min(walls[args.n * 4])
    eff = (t_n / t_4n) / 4.0
    print(
        json.dumps(
            {
                "metric": "scaling_efficiency",
                "value": round(eff, 3),
                "unit": "ratio",
                "n_cores": args.n,
                "wall_n": t_n,
                "wall_4n": t_4n,
                "walls_all": walls,
                "turns_per_sec_n": round(n_turns[args.n] / t_n, 1),
                "turns_per_sec_4n": round(n_turns[args.n * 4] / t_4n, 1),
                "sf": sf,
                "protocol": "identical input/files, shuffle partitions = cores, interleaved N/4N rounds, fresh JVM + discarded warmup per measurement, min-of-runs per level (shared-host noise robustness)",
            }
        )
    )


if __name__ == "__main__":
    main()
