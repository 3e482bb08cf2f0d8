"""SparkSession factory tuned for large-scale analytics.

The reference delegates all execution to Snowflake; here the equivalent
engine-posture decisions (columnar scans, adaptive re-planning, broadcast
thresholds, UTC timestamp discipline) are set once on the session so every
operator in the package inherits them.

Scale notes (100 TB posture):
- AQE on: runtime partition coalescing, skew-join splitting, dynamic
  broadcast decisions for batch queries.
- ``spark.sql.shuffle.partitions`` is only the *initial* number for a batch
  query; AQE coalesces it down. On a real cluster set it ~2-3x total cores.
  AQE cannot coalesce a stateful streaming exchange: there the count is the
  number of state stores, so ``streaming/jobs.py`` starts every stream with
  it capped at one per core (see its state-partition notes).
- Session timezone pinned to UTC so parquet TIMESTAMP (isAdjustedToUTC=false)
  values are stable regardless of host TZ (SURVEY.md §7.2a).
- Arrow enabled for the few Pandas-UDF paths (similarity/multimodal).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "live_data_spark"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it unset and submit via spark-submit/YARN/K8s.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # zstd over default snappy: ~30% smaller files at comparable CPU —
        # at 100 TB that's scan bytes, shuffle spill, and storage cost
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    else:
        builder = builder.config("spark.sql.shuffle.partitions", "32")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
