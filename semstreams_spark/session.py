"""SparkSession factory tuned for this engine.

Local mode for tests/bench; the same config block is what we'd ship to a
real cluster via spark-submit (AQE on, skew-join on, Arrow on, RocksDB
state store for streaming state).

Python workers fork from ``semstreams_spark._pydaemon`` (set as
``spark.python.daemon.module``; not optional). It is pyspark's daemon
with one change: on CPython < 3.12 a task's ``importlib.invalidate_caches()``
no longer re-parses ``pyspark.zip`` and the other unchanged zip archives
on the worker's path, a fixed 130-240 ms per Python task on a 4-vCPU
host. Workers must import the package to start at all, so ``get_spark``
puts the package's parent directory on ``PYTHONPATH`` before the JVM
starts; the JVM hands that on to its Python workers.

The query registry reads its inputs through ``read_parquet``, which infers
a regular file's schema once and passes it to later reads of the
unchanged file.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (path, st_ino, st_mtime_ns, st_size) -> the schema Spark inferred for it
_SCHEMAS: dict[tuple[str, int, int, int], StructType] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job on a
    repeat read: a plain read runs one ``mergeSchemasInParallel`` job
    (about 130 ms on a 4-vCPU host) before any query starts. A regular
    file's inferred schema is kept under its stat stamp, so a rewritten or
    replaced file is inferred again; directories and other paths are read
    with plain inference."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (os.path.abspath(path), st.st_ino, st.st_mtime_ns, st.st_size)
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def _export_package_path() -> None:
    """Put the package's parent directory first on ``PYTHONPATH`` (unless it
    is already on it) so Python workers import the package whatever the
    driver's working directory."""
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if PACKAGE_PARENT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([PACKAGE_PARENT] + paths)


def _default_driver_mem() -> str:
    """Half the host's memory, at most 48g. The heap grows toward its cap
    before it collects: under a fixed 48g cap the test-suite JVM reached
    14.5 GB on a 16 GB host and was OOM-killed."""
    gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return f"{max(1, min(48, gib // 2))}g"


def get_spark(
    app_name: str = "semstreams_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: local parallelism (defaults to $SPARK_GRAFT_CPUS or '*').
    shuffle_partitions: defaults to max(cores, 8).

    The three ``spark.sql.adaptive.*`` settings are Spark 4's defaults,
    set to state a dependency: the iterative graph loops plan every step
    at this shuffle width and rely on AQE's partition coalescing to
    shrink their small reduce sides.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n_cores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n_cores = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(n_cores, 8)

    # sandboxed hosts often have slow reverse-DNS: without this every
    # stage pays a multi-second hostname-resolution tax
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    _export_package_path()

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # openCost only lowers the SPLIT-SIZE FLOOR: locally it lets a
        # 12 MB CPU-heavy transcript file fan out across all cores
        # (split = max(openCost, bytes/cores)); at cluster scale
        # bytes/cores >> this so splits stay at maxPartitionBytes —
        # scale-neutral, unlike shrinking maxPartitionBytes itself
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.python.daemon.module", "semstreams_spark._pydaemon")
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
        # write-heavy state tuning: maintaining the exact numRowsTotal
        # metric costs RocksDB a read-before-every-put; dropping it cut
        # steady-state trigger latency ~25% and removed most of the
        # fresh-query commit spike (measured, BASELINE §G). Only the
        # progress-metric loses precision — semantics are unaffected.
        .config("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
