"""The Python worker daemon (semstreams_spark._pydaemon) and the worker
import path that ``get_spark`` sets up for it."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from semstreams_spark import _pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_eager_zip_invalidation = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12+ invalidates zipimporters lazily"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def patched(monkeypatch):
    """The daemon's patch on zipimporter, undone after the test, with a
    counter on the archive reads the original method makes."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    assert _pydaemon.patch_zipimport()
    reads = []
    original_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return original_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    return reads


@needs_eager_zip_invalidation
def test_unchanged_archive_is_not_reread(tmp_path, patched):
    z = str(tmp_path / "lib.zip")
    _write_zip(z, {"pd_unchanged_a": "X = 1\n"})
    imp = zipimport.zipimporter(z)
    patched.clear()
    imp.invalidate_caches()  # first invalidation reads and stamps
    assert patched == [z]
    for _ in range(3):
        imp.invalidate_caches()
    assert patched == [z]


@needs_eager_zip_invalidation
def test_rewritten_archive_is_reread_and_new_module_imports(tmp_path, patched, monkeypatch):
    z = str(tmp_path / "lib.zip")
    _write_zip(z, {"pd_rewrite_a": "X = 1\n"})
    monkeypatch.syspath_prepend(z)
    for name in ("pd_rewrite_a", "pd_rewrite_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("pd_rewrite_a").X == 1
    importlib.invalidate_caches()
    n_reads = len(patched)
    importlib.invalidate_caches()
    assert len(patched) == n_reads

    _write_zip(z, {"pd_rewrite_a": "X = 1\n", "pd_rewrite_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert patched[n_reads:] == [z]
    assert importlib.import_module("pd_rewrite_b").Y == 2


def test_nothing_patched_on_312(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert not _pydaemon.patch_zipimport()
    assert zipimport.zipimporter.invalidate_caches is original


@needs_eager_zip_invalidation
def test_workers_run_the_wrapped_invalidate(spark):
    def probe(it):
        import zipimport

        import pandas as pd

        for pdf in it:
            yield pd.DataFrame({"q": [zipimport.zipimporter.invalidate_caches.__qualname__] * len(pdf)})

    # the daemon runs as __main__, so compare the function's qualname
    rows = spark.range(64).repartition(4).mapInPandas(probe, "q string").distinct().collect()
    assert [r.q for r in rows] == [_pydaemon.invalidate_caches_if_changed.__qualname__]


def test_py_file_added_to_warm_workers_imports(spark, tmp_path):
    df = spark.range(16).repartition(2)
    assert df.mapInPandas(lambda it: it, "id long").count() == 16  # workers warm
    z = tmp_path / "pd_late_lib.zip"
    _write_zip(str(z), {"pd_late_mod": "VALUE = 41\n"})
    spark.sparkContext.addPyFile(str(z))

    def use_late(it):
        import pd_late_mod

        for pdf in it:
            yield pdf.assign(id=pdf["id"] + pd_late_mod.VALUE)

    got = sorted(r.id for r in df.mapInPandas(use_late, "id long").collect())
    assert got == [i + 41 for i in range(16)]


def test_workers_import_package_outside_repo(tmp_path):
    """A driver started outside the repo with PYTHONPATH unset: workers
    still import the package (get_spark exports its parent directory)."""
    script = tmp_path / "driver.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from semstreams_spark.session import get_spark
        from semstreams_spark.streaming import state_merge

        def shifted(it):
            for pdf in it:
                yield pdf.assign(id=state_merge._shift(pdf["id"].to_numpy()))

        spark = get_spark("outside_repo", cores=1, shuffle_partitions=1)
        rows = spark.range(4).coalesce(1).mapInPandas(shifted, "id long").collect()
        print("SHIFTED", sorted(r.id for r in rows))
        spark.stop()
    """))
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300
    )
    assert "SHIFTED [0, 0, 1, 2]" in proc.stdout, proc.stderr[-3000:]
