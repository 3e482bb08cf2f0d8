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

Fixed costs at the Python boundary: the engine runs as a fresh process per
DAG run, so a cost paid once per session is paid on every run.
- Small driver-side results (a k-row profile, a threshold grid, an empty
  table with a declared schema) go through ``local_frame``: the rows become
  a ``pyarrow.Table`` and Spark holds them as a ``LocalRelation``. Collecting
  one starts no Spark job and no Python worker; the classic
  ``createDataFrame(list)`` builds an RDD of pickled rows that costs one job
  per action (three under an ``orderBy``). A LocalRelation keeps row order,
  so sort the rows on the driver instead of adding a ``Sort`` over them.
- Python workers start from ``live_data_spark.worker_daemon``, which puts
  the installed, bytecode-cached pyspark ahead of Spark's source-only
  ``pyspark.zip`` when the two are the same version (see that module).

Concurrent actions: a small job (the reference DAG's 1000-row batches) is
bound by driver latency, not cluster work, so independent actions overlap
on driver threads (``ActionPool``/``run_actions``). Plans are built on the
calling thread; only actions go to the pool, at most ``defaultParallelism``
threads wide. Each thread inherits the caller's job group, so
``cancelJobGroup`` and per-group job accounting cover its jobs.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable, Sequence
from concurrent.futures import Future, ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

DEFAULT_APP_NAME = "live_data_spark"


def get_spark(
    app_name: str = DEFAULT_APP_NAME, extra_conf: dict[str, str] | None = None
) -> SparkSession:
    """Create (or fetch) a SparkSession with the engine's standard config.

    The master is ``local[$SPARK_GRAFT_CPUS]``; with ``SPARK_MASTER`` set
    (a real cluster) it is left to spark-submit/YARN/K8s.
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
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.python.daemon.module", "live_data_spark.worker_daemon")
    )
    if not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | StructType
) -> DataFrame:
    """A small driver-side result as a DataFrame over a ``LocalRelation``.

    ``rows`` are tuples in ``schema`` order (a DDL string or a
    ``StructType``). They travel to the JVM as one Arrow table and the
    frame keeps their order; collecting it starts no Spark job and no
    Python worker. Only for results the driver already holds: the rows
    sit in the plan, not in executors.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    rows = list(rows)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table)


class ActionPool:
    """Driver threads for independent Spark actions: at most
    ``defaultParallelism``, and no more than the callables submitted.

    ``submit`` wraps its callable in ``inheritable_thread_target`` at
    submission, so the callable runs with the submitting thread's local
    properties (job group, description, scheduler pool) and session tags;
    a plain thread would start its jobs in no group. Leaving the ``with``
    block waits for every submitted callable.
    """

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._threads = ThreadPoolExecutor(
            max_workers=spark.sparkContext.defaultParallelism, thread_name_prefix="spark-action"
        )

    def submit(self, fn: Callable, *args) -> Future:
        inherit = inheritable_thread_target(self._spark)
        # without pinned threads (PYSPARK_PIN_THREAD=false) it returns the
        # session itself: Python threads then share JVM threads
        return self._threads.submit(inherit(fn) if callable(inherit) else fn, *args)

    def __enter__(self) -> "ActionPool":
        return self

    def __exit__(self, *exc) -> None:
        self._threads.shutdown(wait=True)


def run_actions(spark: SparkSession, thunks: Sequence[Callable[[], object]]) -> list:
    """Call every thunk on an ``ActionPool``; results come back in input
    order. All thunks run to the end even when one fails, and then the
    first failure in input order is raised."""
    with ActionPool(spark) as pool:
        futures = [pool.submit(t) for t in thunks]
    return [f.result() for f in futures]
