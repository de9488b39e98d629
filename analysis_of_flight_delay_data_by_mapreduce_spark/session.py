"""SparkSession factory.

Local testing runs ``local[N]`` (one JVM); the configs below are chosen so
the same code scales to a real cluster: AQE for runtime re-planning (skew
joins, partition coalescing), Arrow for any pandas-UDF path, UTC session
timezone so timestamp semantics match external oracles (DuckDB timestamps
are UTC-naive).

Python workers start from ``worker_daemon`` instead of ``pyspark.daemon``.
Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar on the
workers' ``PYTHONPATH``, and every Python task calls
``importlib.invalidate_caches()``; on CPython 3.11 that re-reads every
cached zip archive's directory, 150-350 ms of CPU per task. The daemon
imports pyspark and py4j from the interpreter's installed packages instead.
When they do not resolve without the archives, or the installed pyspark is
not the version in ``pyspark.zip``, it keeps Spark's path and behaves like
the stock daemon. The package ``__init__`` imports nothing, so pyspark is
not loaded from the zip before the daemon fixes the path.

DataFrame call-site capture is off
(``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
PySpark wraps every Column and DataFrame op to record the Python call
site in the JVM, about 10 py4j round trips per op (``F.col`` takes 13
instead of 3, ``==`` 11 instead of 1), which is most of the driver-side
time spent building a query. What is lost is the Python call site
(file and line) in the ``== DataFrame ==`` block of Spark error
messages, which then names a JVM frame instead; the exception class,
its error condition and the rest of the message are unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _local_driver_memory() -> str:
    """48g, capped at half the host's physical memory. G1 grows the heap
    toward its maximum before it collects; with a 48g cap on a 16 GB host
    the local driver JVM reached 15 GB resident (about 0.5 GB of it live)
    and was OOM-killed partway through the test suite."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48 << 10, phys // 2 >> 20)}m"


def get_spark(
    app_name: str = "flight-delay-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    On a real cluster ``master``/memory come from spark-submit; everything
    set here is safe in both modes.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # AQE: runtime partition coalescing, skew-join splitting, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime bloom-filter join pruning: a selective filter on the
        # build side of a shuffle join materializes a bloom filter that
        # prunes the probe-side SCAN before the shuffle. Gated by size
        # thresholds (10 GB application side by default), so it is a no-op
        # at test scale and self-activates exactly where it pays — the
        # 100 TB fact-fact joins. Injection is pinned (with lowered
        # thresholds) in tests/test_plan_shapes.py.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Arrow transfer for pandas UDF / toPandas paths.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python workers import pyspark from site-packages (module docstring).
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        # No Python call-site capture per Column op (module docstring).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # DuckDB (the correctness oracle) treats timestamps as UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        # The test data store timestamp_ntz micros, which sources.readers
        # reads through declared schemas. This conf only lets other
        # parquet with TIMESTAMP(NANOS) columns read as int64 nanos
        # instead of being rejected by the vectorized reader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # Managed-table warehouse (bucketed tables) outside the repo tree.
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
        .config("spark.driver.extraJavaOptions", "-Dderby.system.home=/tmp/spark_graft_derby")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory", _local_driver_memory()
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
