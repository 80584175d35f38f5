"""SparkSession builders.

Local mode is a single JVM with N executor threads; the configs below are the
ones that matter there (AQE on, shuffle partitions ~ cores, Arrow on, UTC).
On a real cluster the same builder is used via ``spark-submit --py-files``;
only master/memory come from the submit command line.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark's generated-class cache (static conf spark.sql.codegen.cache.maxEntries)
# holds 100 classes by default. One cold pass over the 14 bench.py headline
# queries generates 262 distinct classes (sf0.01, local[4]), so at 100 the
# LRU has evicted each class before its next use: every pass recompiled 260
# of them (Janino compiles plus a cold JIT per fresh class). At 1000 the
# second and later passes compile 0, with room for the rule suite's classes
# in the same session.
CODEGEN_CACHE_ENTRIES = 1000


def _host_cores() -> int:
    """CPUs this process may run on. ``local[*]`` takes the JVM's available
    processors, which follow the CPU affinity mask, not the host's count."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 8


def default_shuffle_partitions(cores: int | str | None) -> int:
    """2x the requested cores (the usable ones for ``*``/None), at least 8."""
    ncores = _host_cores() if cores in ("*", None) else int(cores)
    return max(8, 2 * ncores)


def get_spark(
    app_name: str = "lk-validate-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "16g",
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for this engine.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` or ``*``. Shuffle partitions
    default to 2x cores locally — at cluster scale the runner sets this to
    ~2-3x total executor cores and AQE coalesces the tail.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        shuffle_partitions = default_shuffle_partitions(cores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r6 config audit (scripts/ab_conf_r06.py, interleaved A/B): leaving
        # the AQE coalescing defaults alone is deliberate —
        # minPartitionSize=64k bought ~2-5% on the headline queries but cost
        # the concurrent rule suite ~2s in task-count inflation across its
        # many small jobs; preferSortMergeJoin=false measured neutral
        # (every profitable join here already broadcasts). Where a small
        # post-shuffle stage feeds a fan-out, the plan repartitions
        # explicitly instead (dedup.ngram_jaccard_pairs).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # rules run as concurrent jobs from driver threads; FAIR keeps one
        # long job (drift's Arrow pass) from starving the cheap ones
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
