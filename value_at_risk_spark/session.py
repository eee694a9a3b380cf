"""SparkSession factory with scale-oriented defaults.

The reference pins its runtime via Databricks cluster config
(``/root/reference/config/application.yaml:24-26`` — 20 executors) and
never touches Spark conf in code. We centralize session construction so
every entry point (tests, bench, driver contract) gets the same
scale-aware settings:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting.
- Arrow on: vectorized pandas-UDF boundary (the only Python hot paths).
- UTC session timezone: parity with DuckDB's UTC-naive timestamps.
- shuffle partitions sized to cores for local mode; on a real cluster
  AQE coalesces from a deliberately-high initial number.
- generated-class cache sized to the engine's working set, so a warm
  call reuses the classes Janino compiled on the previous one. The
  conf is static: it is read when the JVM's first session starts, so
  it has no effect if the JVM already holds a session that
  ``get_spark`` did not build.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "value-at-risk-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``SPARK_GRAFT_CPUS`` (driver contract) controls local parallelism.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # session default for delta column-mapping 'id' mode: requested
        # schemas carrying parquet.field.id metadata resolve by field
        # id (schemas without it are unaffected). A default here —
        # rather than a per-read toggle in deltalog — because read
        # frames are LAZY: a scoped set/restore around read_delta
        # would strip the conf before the caller's collect() runs.
        .config("spark.sql.parquet.fieldId.read.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # The events fixture carries TIMESTAMP(NANOS) parquet fields, which
        # Spark only reads as long; sources.registry re-derives the proper
        # timestamp column (micros) on read.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark's default of 100 is below one warm run_pipeline call
        # (~150 generated classes) and the 26 headline queries plus the
        # pipeline (~600); the LRU then evicts every class before its
        # reuse and each warm call recompiles them all.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # AQE numbers codegen stages in the order it plans them, which
        # varies with stage completion order; with the stage id in the
        # class name, the same pipeline re-planned in another order is
        # new source text and a cache miss.
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    return builder.getOrCreate()
