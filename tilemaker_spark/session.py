"""SparkSession configuration for this engine.

``ENGINE_CONF`` is the engine tuning every session gets: the spark-submit
jobs apply it to a builder whose master comes from spark-submit, and
``get_spark`` adds the local-mode settings (``local[N]``, driver memory,
no UI) on top for tests, benches and tools.  The same settings scale to
a real cluster (AQE for skew, Arrow for the pandas-UDF tier).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # geometry/text stages are compute-heavy per byte: don't let AQE
    # coalesce their shuffles down to one fat partition
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # epoch-µs operators read timestamps as UTC
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(
    app_name: str = "tilemaker_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(map=ENGINE_CONF)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_storage(spark: SparkSession) -> None:
    """Between-queries hygiene for a session shared by many independent
    queries (a real pipeline runs one per driver): caches and eager
    localCheckpoint blocks from iterative operators (connected
    components, the prefix join) would otherwise accumulate in executor
    storage and degrade every LATER query's execution memory.  Release
    both.

    Invariant: callers must have FULLY consumed the query's result
    first -- localCheckpoint blocks have truncated lineage, so a
    DataFrame reused after this release fails with missing blocks rather
    than recomputing."""
    spark.catalog.clearCache()
    jrdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jrdds.keySet().toArray()):
        jrdds.get(rid).unpersist(False)
