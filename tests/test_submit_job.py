"""The north-rule deployment shape, run for real: zip the package, run
jobs/ingest_job.py via spark-submit --py-files from OUTSIDE the repo
(so the package can only come from the zip), and check the committed
output.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or os.path.join(
    os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "spark-submit"
)


def _zip_package(dest: str) -> None:
    pkg = os.path.join(REPO, "semstreams_spark")
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".pyc") or "__pycache__" in root:
                    continue
                full = os.path.join(root, f)
                zf.write(full, os.path.relpath(full, REPO))


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not on this runtime"
)
def test_spark_submit_py_files_ingest(tmp_path):
    from semstreams_spark.datagen import ensure_transcripts, transcripts_path

    ensure_transcripts(0.001)
    indir = tmp_path / "in"
    indir.mkdir()
    shutil.copy(transcripts_path(0.001), indir / "transcripts.parquet")

    zip_path = tmp_path / "semstreams_spark.zip"
    _zip_package(str(zip_path))
    # job file copied OUT of the repo: its sys.path fallback then points
    # at tmp_path, so `import semstreams_spark` must resolve via the zip
    job = tmp_path / "ingest_job.py"
    shutil.copy(os.path.join(REPO, "jobs", "ingest_job.py"), job)

    out_dir = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    env.pop("PYTHONPATH", None)  # nothing importable beyond the zip
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master",
            "local[4]",
            "--conf",
            "spark.driver.host=127.0.0.1",
            "--conf",
            "spark.sql.shuffle.partitions=4",
            "--py-files",
            str(zip_path),
            str(job),
            "--input",
            str(indir),
            "--output",
            str(out_dir),
            "--checkpoint",
            str(ckpt),
            "--watermark",
            "90 days",
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    committed = [ln for ln in proc.stdout.splitlines() if ln.startswith("committed ")]
    assert committed, proc.stdout[-2000:]

    # exactly-once consistency: ledger row total == published parquet rows
    import duckdb

    n_out = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{out_dir}/graph_deltas/**/*.parquet', "
        "hive_partitioning=true)"
    ).fetchone()[0]
    ledger_rows = int(committed[0].split(" batches, ")[1].split(" delta rows")[0])
    assert n_out == ledger_rows > 0
