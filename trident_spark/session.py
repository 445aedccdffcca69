"""SparkSession factory with scale-oriented defaults.

All entry points (tests, bench, __spark_entry__) go through here so the
Arrow/AQE configuration is identical everywhere.  Designed for a real
multi-executor cluster; in the sandbox we run local[N] with the same settings.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark's generated-class cache.  The conf is static: it is fixed when the
# JVM's first session starts, so it can only be set here.  The default
# holds 100 classes, fewer than one op of this engine compiles, so the LRU
# evicted every class before its next use and each op re-ran Janino: ~135
# compiles, 1-2 s, per build_kg or SPARQL pass.  Measured working set on a
# 4-core host: 151 distinct classes for a cold build_kg over 1.5k pages
# plus 130 for a cold pass over ten SPARQL shapes, 281 together; 512 keeps
# both resident with headroom for other plans in the same session.
CODEGEN_CACHE_ENTRIES = 512


def get_spark(
    app_name: str = "trident-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults: Arrow-vectorized Python UDF transport, AQE with skew-join
    handling (first line of defense for hub-entity skew), and shuffle
    partition count sized for the local core count, and a codegen cache
    that holds an op's generated classes (``CODEGEN_CACHE_ENTRIES``).  On a
    real cluster, leave ``shuffle_partitions`` unset and let AQE coalesce.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # sandbox inputs are single small parquet files; split them finely so
        # scans parallelize across all cores (a real 100TB corpus arrives in
        # thousands of files — keep the 128MB default there via env override)
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(4 * 1024 * 1024)),
        )
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
