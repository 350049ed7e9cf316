"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_mem() -> str:
    """Half the host's RAM: local mode runs the executors inside the
    driver JVM, and the Python workers need the rest."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, total // 2**31)}g"


def get_spark(app: str = "osm_sidewalkreator_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the engine.

    AQE is on (skew-join handling for hot urban cells is a north-rule
    requirement); Arrow is on (every geometry kernel crosses the
    JVM<->Python boundary as Arrow batches).
    """
    # glibc malloc: without these, every large NumPy temporary is a
    # fresh mmap/munmap — 32 workers hammering page-zeroing serializes
    # in the kernel and caps parallel scaling at ~0.68 (measured via a
    # Spark-free multiprocessing control); raising the thresholds keeps
    # temporaries on the reused heap (measured 0.85 scaling, 8->32).
    # Must be set before the JVM forks the Python worker daemon.
    os.environ.setdefault(
        "GLIBC_TUNABLES",
        "glibc.malloc.mmap_threshold=134217728"
        ":glibc.malloc.trim_threshold=134217728")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get(
        "SPARK_GRAFT_SHUFFLE", cpus))
    builder = (
        SparkSession.builder
        .master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", _driver_mem()))
        .config("spark.ui.enabled", "false")
        # propagate the malloc tunables to executor-side Python workers
        # on real clusters (local mode inherits the driver env)
        .config("spark.executorEnv.GLIBC_TUNABLES",
                os.environ["GLIBC_TUNABLES"])
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
