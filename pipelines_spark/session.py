"""SparkSession factory with scale-aware defaults.

The engine targets a multi-executor cluster reading ~100 TB; tests run
on ``local[N]``. All scale-sensitive knobs are set here once so every
entry point (tests, bench, driver contract) gets the same plan-shaping
configuration:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- shuffle partitions sized for the local harness; on a real cluster
  AQE coalescing makes the initial number mostly irrelevant
- dynamic partition overwrite for idempotent partition re-loads
  (reference semantics: same-partition re-upload replaces, see
  pipelines/utils/tasks.py:273-276 in the reference)
- Arrow enabled for the pandas-UDF slow path
- session timezone UTC; the reference pins America/Sao_Paulo
  (pipelines/constants.py:68) — that is a *data* concern handled by
  explicit from_utc_timestamp/to_utc_timestamp in functions.datetime,
  never by ambient session state.
- compiled-code cache of ``CODEGEN_CACHE_ENTRIES`` (1024) generated
  classes (``spark.sql.codegen.cache.maxEntries``, Spark's default
  100). A long-lived session re-runs the same queries; one warm pass
  of the benchmark's 11-query mix compiles about 160 distinct
  classes, so with 100 entries the LRU evicts every class before its
  next use and each pass recompiles all of them. 1024 holds that
  working set with headroom: a warm pass then compiles 0 classes.
  The entries are small (one loaded class each), and the setting is
  static — it takes effect only when this call creates the session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "pipelines_spark"

#: compiled-code cache size (see the module docstring)
CODEGEN_CACHE_ENTRIES = 1024


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    real deployment the cluster manager supplies it and this default is
    simply not used.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Partition keys are strings by contract (SURVEY §1.2) — don't
        # let directory names get re-inferred as dates/ints on read.
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
