"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` (single JVM); the configs below are
chosen so the same logical plans scale to a multi-executor cluster:
AQE handles runtime partition coalescing and skew joins, Arrow makes
the few pandas-UDF operators batch-transfer instead of row-pickle, and
the session timezone is pinned to UTC so timestamp semantics match the
DuckDB correctness oracle.

Reference analogue: ``dask.distributed.Client(n_workers=16)`` at
/root/reference/atlxi_dhdt.py:57.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def _default_heap() -> str:
    half_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2 // 2**20
    return f"{min(half_mb, 32 * 1024)}m"


def get_spark(app_name: str = "deepicedrain-spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores.
    """
    if cpus is None:
        try:
            cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0"))
        except ValueError:  # malformed env var: fall back, don't crash
            cpus = 0
        cpus = cpus or os.cpu_count() or 4
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata parquet uses INT64 TIMESTAMP(NANOS) — Spark reads it
        # as LongType ns (§1.3 ns-precision convention; DuckDB's reader
        # truncates the same values to µs timestamps)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local[N] puts driver + all executor threads in ONE JVM, so the
        # heap must hold the whole suite's shuffle/broadcast state; 8g
        # GC-thrashed (the full bench ran 3.9x slower than with 32g).
        # The default is half of physical RAM, capped at 32g: a heap
        # above the host's memory lets GC defer until the kernel's OOM
        # killer ends this JVM or a neighbour.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", _default_heap()))
        # 68 distinct queries generate hundreds of whole-stage-codegen
        # classes; the JVM default 240m code cache fills mid-suite, the
        # JIT shuts off, and late queries run interpreted (3-5x slower
        # than the same query in a fresh JVM). 1g keeps C2 alive.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    return builder.getOrCreate()
