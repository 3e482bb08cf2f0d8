"""Structured Streaming jobs — the engine's incremental/streaming layer.

Two reference-derived duties plus the events extension surface:

1. **COPY INTO** (the reference's every-N-minutes Airflow DAG, SURVEY.md
   §2.9 O5/X3): ``landing_append_stream`` is the pipeline's only COPY
   (``BikeShopPipeline.copy_into``). It drains a directory of staged TSVs
   into the raw parquet table as schema-enforced appends with exactly-once
   file tracking, so a retried DAG run skips the files already loaded.
   ``Trigger.AvailableNow`` processes the backlog and stops (the DAG-run
   analog); a processing-time trigger gives the continuous form.

2. **Event analytics** (BASELINE.json events mandate): windowed rollups,
   session windows, and watermarked dedup. A transform here runs over a
   stream or a table alike, so the batch entries in
   ``streaming/events_batch.py`` call ``sliding_rollup`` and
   ``sessionize`` as their bodies; ``hourly_rollup`` differs from
   ``events_hourly_rollup`` only in its approximate user count (stream
   and batch are compared in tests/test_streaming.py).

State & scale notes: every stateful op here carries a watermark so state is
bounded (late data beyond it is dropped — the contract that makes 100 TB of
history irrelevant to executor memory). Sinks are parquet-file sinks with
checkpointed WALs: restart-safe, exactly-once per file commit.

State partitions: a stateful operator keeps one state store per
``spark.sql.shuffle.partitions`` partition and loads and commits every one
of them each micro-batch; AQE cannot coalesce a stateful exchange. Every
query therefore starts through ``_drain_available_now``, which caps the
count at ``defaultParallelism`` (one state partition per core). The count
is frozen at a checkpoint's first start: Spark records it in the offset
log and a restart reuses it. On a cluster, ``defaultParallelism`` counts
the cores of the executors registered at that first start; a cluster that
grows later does not re-partition the state (a fresh checkpoint re-sizes).
"""

from __future__ import annotations

import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from live_data_spark.functions.dialect import money_sum
from live_data_spark.sources.files import TSV_OPTIONS
from live_data_spark.session import local_frame

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over an events directory (schema enforced —
    streaming sources never infer). ``max_files_per_trigger`` splits a
    backlog into multiple micro-batches — required when the OUTPUT
    depends on the watermark advancing between batches (outer-join
    eviction, append-mode window finalization): a single AvailableNow
    mega-batch computes the watermark only after everything is consumed,
    and results that need a batch boundary after that never emit."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)


# -- transformations (stream-safe: watermark + windows, no full sorts) -------
#
# Each runs over a stream or a table alike. Over a table Catalyst drops the
# watermark (EliminateEventTimeWatermark), so a batch catalog entry that
# calls one of these runs the stream's plan.

_WATERMARK = "2 hours"  # event-time lateness the watermarked transforms accept


def hourly_rollup(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour rollup — the stream form of ``events_hourly_rollup``.

    ``approx_count_distinct`` instead of the batch entry's exact
    countDistinct (its only difference from ``hourly_rollup_of``): exact
    per-group distinct users is unbounded state in a stream; HLL keeps
    state O(1) per group (documented drift <2%).
    """
    return (
        events.withWatermark("ts", _WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("total_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
            "approx_users",
        )
    )


def sessionize(events: DataFrame) -> DataFrame:
    """Session-window aggregation (30-minute gap) — also the body of the
    batch entry ``events_session_window_native``.

    ``session_window`` merges events within the gap of each other into
    one growing window per user; the watermark closes sessions and
    evicts their state.
    """
    return (
        events.withWatermark("ts", _WATERMARK)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


def sliding_rollup(events: DataFrame) -> DataFrame:
    """Sliding 1-hour/15-minute rollup — also the body of the batch entry
    ``events_sliding_rollup``. An Expand-based 4× window assignment; in a
    stream the watermark bounds how many overlapping windows stay open
    per (window, type) — state is (window/slide)·|types| groups per
    active hour, evicted as the watermark passes each window end.
    """
    return (
        events.withWatermark("ts", _WATERMARK)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def dedup_events(events: DataFrame) -> DataFrame:
    """Exactly-once event stream by id — ``dropDuplicatesWithinWatermark``.

    State holds ids only within the watermark horizon (bounded), unlike
    plain ``dropDuplicates`` whose state grows forever. The batch shape of
    this operator is ``events_dedup_latest`` in events_batch.py.
    """
    return events.withWatermark("ts", _WATERMARK).dropDuplicatesWithinWatermark(["event_id"])


def user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running totals across batches.

    ``applyInPandasWithState`` — the escape hatch for stateful logic the
    built-in windows can't express (custom accumulators, ML feature
    state, cross-batch counters). State is a typed tuple per key, stored
    in the checkpoint, restored on restart; each micro-batch's groups
    arrive as Arrow-backed pandas frames. Emits one updated row per user
    per batch (outputMode update).

    Scale: state is O(distinct users) — bound it in production with a
    timeout (``GroupStateTimeout.ProcessingTimeTimeout`` + a TTL) or an
    eviction rule; this demo uses NoTimeout since users are finite.
    """
    import pandas as pd  # local: keep module import light
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("total", DoubleType())]
    )

    def fn(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})

    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def enrich_events_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream–static enrichment join: each micro-batch broadcast-joins
    the (bounded, slowly-changing) dimension — STATELESS, unlike
    stream-stream joins: no watermark, no join state, the dim is just
    re-resolved per batch (so a dim refresh between batches is picked
    up automatically — the streaming analog of a dbt ref to a dim
    model).

    Left join keeps unmatched events (enrichment must never drop
    facts); at 100 TB of stream the dim side still broadcasts because
    it's a dimension, not a fact.

    The dim's join key (its first column) is dropped by COLUMN
    REFERENCE, never by name: the string form ``.drop("user_id")``
    removes every column of that name, so a dim whose key shares the
    events key's name would silently lose the events key too (the
    natural naming — pinned in tests/test_streaming.py).
    """
    return events.join(
        F.broadcast(dim), events["user_id"] == dim[dim.columns[0]], "left"
    ).drop(dim[dim.columns[0]])


SPIKE_ALPHA = 0.3  # EWMA smoothing
SPIKE_FACTOR = 3.0  # alert when value > factor × current EWMA


def value_spike_monitor(events: DataFrame) -> DataFrame:
    """Per-user EWMA spike alerts via ``transformWithStateInPandas`` —
    Spark 4's typed-state successor to applyInPandasWithState (named
    state variables, per-variable TTL, timers), exercised here with a
    single ValueState holding the running EWMA.

    Semantics (batch-twin reproducible): events process in (ts,
    event_id) order within each micro-batch; an event whose value
    exceeds ``SPIKE_FACTOR × ewma_before`` emits an alert; every event
    folds into ``ewma = α·value + (1-α)·ewma`` (seeded by the first
    value, which never alerts). State is one (ewma,) double per user —
    O(distinct users), bounded in production via
    ``handle.getValueState(..., ttlDurationMs=...)`` eviction.

    Environment gate: the transformWithState driver worker speaks
    protobuf to the JVM, so running a query over this plan needs
    ``google.protobuf`` installed (absent from this container — the
    plan builds and the operator is tested wherever protobuf exists;
    tests/test_streaming.py skips gracefully otherwise). The
    applyInPandasWithState twins above run everywhere.
    """
    import pandas as pd  # local: keep module import light
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("value", DoubleType()),
            StructField("ewma_before", DoubleType()),
        ]
    )

    class SpikeMonitor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._ewma = handle.getValueState("ewma", "ewma double")

        def handleInputRows(self, key, rows, timerValues):
            pdf = pd.concat(list(rows)).sort_values(["ts", "event_id"])
            ewma = self._ewma.get()[0] if self._ewma.exists() else None
            alerts: list[tuple[int, int, float, float]] = []
            for r in pdf.itertuples():
                v = float(r.value)
                if ewma is None:
                    ewma = v  # seed: the first observation is the baseline
                    continue
                if v > SPIKE_FACTOR * ewma:
                    alerts.append((key[0], int(r.event_id), v, ewma))
                ewma = SPIKE_ALPHA * v + (1.0 - SPIKE_ALPHA) * ewma
            self._ewma.update((ewma,))
            if alerts:
                yield pd.DataFrame(
                    alerts, columns=["user_id", "event_id", "value", "ewma_before"]
                )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        SpikeMonitor(), out_schema, "Update", "None"
    )


def funnel_tracker(events: DataFrame) -> DataFrame:
    """Custom stateful streaming funnel — the streaming twin of the batch
    ``events_funnel`` (strictly-after stage semantics, SURVEY extension
    surface).

    Per-user state is a monotone (stage, stage_ts) pair: a user advances
    to stage k+1 on the first ``steps[k]`` event (the batch funnel's
    ``_FUNNEL_STEPS``) strictly AFTER the event that completed stage k.
    Built-in windows can't express a cross-batch ordered state machine,
    so this is ``applyInPandasWithState``: rows arrive per user as Arrow
    frames, sorted by (ts, event_id) within the batch; state persists in
    the checkpoint and restores on restart, so a user can view in one
    micro-batch and convert days later.

    Ordering contract: exact when each user's events arrive in event-time
    order across batches (a user-keyed log guarantees this); under
    cross-batch disorder an already-taken transition is never revoked —
    the standard at-least-once funnel posture. Stage counts =
    ``count(stage >= k)`` over the latest row per user, which the test
    pins against the batch funnel.

    Scale: state is two longs per user seen — add a TTL timeout to evict
    finished/stale users in production.
    """
    import pandas as pd  # local: keep module import light
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from live_data_spark.streaming.events_batch import _FUNNEL_STEPS as steps

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("stage", LongType()),
            StructField("stage_ts_us", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("stage", LongType()), StructField("stage_ts_us", LongType())]
    )
    n_steps = len(steps)

    def fn(key, pdfs, state: GroupState):
        stage, stage_ts_us = state.get if state.exists else (0, -1)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"])
        ts_us = rows["ts"].astype("int64") // 1000  # pandas ns → µs
        for t, etype in zip(ts_us.to_numpy(), rows["event_type"].to_numpy()):
            if stage < n_steps and etype == steps[stage] and (stage == 0 or t > stage_ts_us):
                stage += 1
                stage_ts_us = int(t)
        state.update((stage, stage_ts_us))
        yield pd.DataFrame(
            {"user_id": [key[0]], "stage": [stage], "stage_ts_us": [stage_ts_us]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def error_context_join(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each error paired with the same user's
    events in the preceding ``window`` — streaming twin of the batch
    ``range_join_events_before_error``.

    Both sides are the same watermarked stream split by predicate. The
    join condition is equality on user plus a two-sided event-time range;
    that range bound is what lets Spark compute a state eviction horizon
    (watermark + window) for BOTH sides — an unbounded-condition
    stream-stream join would keep every row forever. Inner join emits a
    pair as soon as both rows have arrived; the watermark only governs
    state cleanup and late-data cutoff. ``how="leftOuter"`` is
    ``error_context_join_outer``.
    """
    errors = (
        events.where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("err_user"),
            F.col("ts").alias("err_ts"),
        )
        .withWatermark("err_ts", watermark)
    )
    ctx = events.where(F.col("event_type") != "error").withWatermark("ts", watermark)
    return errors.join(
        ctx,
        F.expr(
            f"user_id = err_user AND ts >= err_ts - interval {window} AND ts < err_ts"
        ),
        how,
    ).select(
        "error_id",
        F.col("err_user").alias("user_id"),
        "err_ts",
        F.col("event_id").alias("context_event_id"),
        F.col("ts").alias("context_ts"),
        F.col("event_type").alias("context_type"),
    )


def error_context_join_outer(events: DataFrame) -> DataFrame:
    """LEFT OUTER stream-stream interval join — ``error_context_join``
    that also emits errors with NO preceding activity (null-padded
    context columns), which is the interesting cohort for an on-call
    feed: an error out of nowhere.

    The outer semantics are WATERMARK-DRIVEN: an unmatched error cannot
    be emitted the moment it arrives (its match might still come), so
    Spark holds it in state and releases the null-padded row only when
    the watermark passes the join horizon — meaning outer results
    trail the stream by up to watermark + window, and a final batch
    that advances the watermark is what flushes the tail. That
    emit-on-eviction behavior (the standard stream-stream outer-join
    gotcha) is pinned in tests/test_streaming.py with a multi-batch
    layout whose sentinel batches push the watermark.

    Second gotcha, also pinned: the GLOBAL watermark is the MIN over
    both join inputs (multipleWatermarkPolicy default), and both inputs
    here are filtered views of one stream — so each side's watermark
    advances only on its OWN rows. A quiet error side (or quiet context
    side) freezes eviction for the whole join; monitor both.
    """
    return error_context_join(events, how="leftOuter")


def run_available_now_update(result: DataFrame, sink_dir: str, checkpoint_dir: str) -> None:
    """Drain an update-mode stream via ``foreachBatch`` → parquet append.

    Update-mode results can't hit the (append-only) file sink directly
    and the memory sink can't recover from checkpoints; ``foreachBatch``
    is the production pattern — each micro-batch's updated rows arrive
    as a batch DataFrame for an arbitrary write (here append; real
    deployments MERGE INTO an ACID table). Checkpoint recovery works, so
    operator state survives across invocations. The sink holds every
    emission; the latest row per key is the current state.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("__batch_id", F.lit(batch_id)).write.mode("append").parquet(sink_dir)

    _drain_available_now(result, checkpoint_dir, batch_fn=write_batch, output_mode="update")


# -- sinks / runners ---------------------------------------------------------

_STREAM_START = threading.Lock()  # the state-partition conf swap around start()


def _drain_available_now(
    result: DataFrame,
    checkpoint_dir: str,
    sink_dir: str | None = None,
    batch_fn: Callable[[DataFrame, int], None] | None = None,
    output_mode: str = "append",
) -> StreamingQuery:
    """Start ``result`` as an AvailableNow query into a parquet sink at
    ``sink_dir`` (or ``foreachBatch(batch_fn)``) and wait for it to drain.
    Every stream in the package starts here (tests/test_stream_hygiene.py).
    The query clones the session inside ``start()``, so the state-partition
    cap (module notes) is set only around it; ``foreachBatch`` bodies run
    in the clone and see the capped count too.

    Streams may start on several threads at once (the pipeline's COPYs do).
    The conf swap and ``start()`` therefore run under one module lock, so
    the session always gets its own value back; the drain runs outside it.
    The session conf is shared, so a batch query planned on another thread
    inside that window sees the capped partition count. That changes only
    how many shuffle partitions it starts from, never its results."""
    writer = (
        result.writeStream.option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if batch_fn is None:
        writer = writer.format("parquet").option("path", sink_dir)
    else:
        writer = writer.foreachBatch(batch_fn)
    spark = result.sparkSession
    key = "spark.sql.shuffle.partitions"
    with _STREAM_START:
        session_value = spark.conf.get(key)
        spark.conf.set(key, str(min(int(session_value), spark.sparkContext.defaultParallelism)))
        try:
            q = writer.start()
        finally:
            spark.conf.set(key, session_value)
    q.awaitTermination()
    return q


def run_available_now(
    result: DataFrame, sink_dir: str, checkpoint_dir: str, output_mode: str = "append"
) -> None:
    """Drain the available backlog into a parquet sink, then stop.

    The DAG-run analog (O5): each invocation is one serialized run;
    the checkpoint WAL carries source offsets + operator state across
    invocations, so successive calls process only new files.
    """
    _drain_available_now(result, checkpoint_dir, sink_dir, output_mode=output_mode)


class _ProgressLog(StreamingQueryListener):
    """Every progress event; ``StreamingQuery.recentProgress`` keeps only
    the last ``spark.sql.streaming.numRecentProgressUpdates``."""

    def __init__(self) -> None:
        self.progress: list = []

    def onQueryProgress(self, event) -> None:
        self.progress.append(event.progress)

    def onQueryStarted(self, event) -> None: ...

    def onQueryTerminated(self, event) -> None: ...


def run_available_now_observed(
    result: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    metrics: dict[str, str],
    output_mode: str = "append",
) -> list[dict]:
    """``run_available_now`` with single-pass per-batch write metrics.

    The streaming face of the registry's ``observe`` materialization
    metrics (plans/registry.py): ``df.observe(name, ...)`` on a
    streaming frame evaluates the declared aggregates inside each
    micro-batch's tasks and surfaces them in that batch's
    ``StreamingQueryProgress.observedMetrics`` — row counts / null rates
    per micro-batch with NO second pass and no foreachBatch detour. At
    100 TB this is how an ingest pipeline emits freshness/volume
    telemetry: the numbers ride the write job, and a StreamingQueryListener
    reads progress events instead of querying the sink (as here: the
    query's own progress buffer is capped). Returns every batch's metric
    dict in batch order, empty batches included (their aggregates
    evaluate over zero rows).
    """
    observed = result.observe(
        "write_metrics", *[F.expr(e).alias(k) for k, e in metrics.items()]
    )
    spark = result.sparkSession
    log = _ProgressLog()
    spark.streams.addListener(log)
    try:
        q = _drain_available_now(observed, checkpoint_dir, sink_dir, output_mode=output_mode)
        # listeners hear progress asynchronously: let the bus catch up
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(log)
    # one listener-bus queue delivers a query's progress in batch order
    return [
        p.observedMetrics["write_metrics"].asDict()
        for p in log.progress
        if str(p.runId) == q.runId and "write_metrics" in p.observedMetrics
    ]


def landing_append_stream(
    spark: SparkSession,
    landing_dir: str,
    raw_dir: str,
    checkpoint_dir: str,
    schema: StructType,
) -> None:
    """COPY INTO as a stream: staged TSVs appended to the raw parquet
    table as schema-enforced rows (SURVEY §3.2).

    File-source semantics give exactly-once per input file: the
    checkpoint's file log is the load history, as Snowflake COPY's is for
    the reference. Gzip TSVs are read transparently. Append-only sink = X3.
    """
    stream = spark.readStream.schema(schema).options(**TSV_OPTIONS).csv(landing_dir)
    # not run_available_now: perfbench times that as the event rollup stream
    _drain_available_now(stream, checkpoint_dir, raw_dir)


def spacesaving_insert(
    sketch: dict[int, list[int]], item: int, weight: int, capacity: int
) -> None:
    """One weighted SpaceSaving insert (Metwally et al. 2005), shared by
    the streaming tracker below (weight 1 per event) and the batch twin
    ``events_spacesaving_topk`` (pre-aggregated per-user weights). The
    sketch maps item -> [est_count, max_err]; eviction picks the
    (est, item)-minimal entry so replays are deterministic, and the
    evictee's count becomes the newcomer's overestimate bound."""
    if item in sketch:
        sketch[item][0] += weight
    elif len(sketch) < capacity:
        sketch[item] = [weight, 0]
    else:
        mu = min(sketch, key=lambda k: (sketch[k][0], k))
        mc = sketch[mu][0]
        del sketch[mu]
        sketch[item] = [mc + weight, mc]


def heavy_hitter_tracker(
    events: DataFrame, capacity: int = 64, shards: int = 8
) -> DataFrame:
    """Streaming heavy hitters: a sharded SpaceSaving sketch across
    micro-batches — the streaming twin of ``events_heavy_hitters_approx``
    (whose one-shot approx_top_k can't accumulate over an unbounded
    stream). Users hash into ``shards`` groups; each group's state is its
    own capacity-``capacity`` SpaceSaving summary (item, est, err
    triples). Sharding keeps every user's count complete within ONE
    shard (no cross-shard merge error) while the per-shard state stays
    bounded at O(capacity) — total state is shards·capacity rows no
    matter how many distinct users the stream sees, which is the whole
    point versus the exact per-user counter (O(users) state).

    SpaceSaving guarantees per emitted row: true_count ≤ est_count and
    est_count − max_err ≤ true_count; with capacity ≥ distinct users per
    shard the sketch degenerates to exact counts (err 0) — both pinned
    in tests, plus checkpoint-restart survival. Eviction picks the
    (est, user_id)-minimal entry so replays are deterministic. Global
    top-k = a trivial batch rollup over the shards·capacity output rows.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("shard", LongType()),
            StructField("user_id", LongType()),
            StructField("est_count", LongType()),
            StructField("max_err", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("users", ArrayType(LongType())),
            StructField("counts", ArrayType(LongType())),
            StructField("errs", ArrayType(LongType())),
        ]
    )

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            users, counts, errs = state.get
            sketch = {u: [c, e] for u, c, e in zip(users, counts, errs)}
        else:
            sketch = {}
        for pdf in pdfs:
            for u in pdf["user_id"]:
                spacesaving_insert(sketch, int(u), 1, capacity)
        items = sorted(sketch.items())
        state.update(
            (
                [u for u, _ in items],
                [ce[0] for _, ce in items],
                [ce[1] for _, ce in items],
            )
        )
        yield pd.DataFrame(
            {
                "shard": [key[0]] * len(items),
                "user_id": [u for u, _ in items],
                "est_count": [ce[0] for _, ce in items],
                "max_err": [ce[1] for _, ce in items],
            }
        )

    sharded = events.withColumn("shard", F.pmod(F.col("user_id"), F.lit(shards)))
    return sharded.groupBy("shard").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


# -- incremental corpus dedup (streaming twin of dedup_incremental) ----------

DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def incremental_dedup_stream(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    decisions_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming twin of ``operators/dedup.py::dedup_incremental``: watch a
    landing directory of document parquet files; per micro-batch, classify
    every arriving doc against the PERSISTED fingerprint store
    (``dup_history`` / ``dup_batch`` / ``new``), append the decisions, and
    append the new fingerprints to the store — continuously-ingested-corpus
    dedup as one restart-safe ``foreachBatch`` job.

    Each batch is classified by ``classify_against_store``, the batch
    operator's own classification: a store hit is ``dup_history``; within
    the batch the min-doc_id holder of a previously-unseen fingerprint is
    ``new`` and the rest ``dup_batch``.

    Guarantees: the file source's checkpoint WAL gives exactly-once per
    input FILE, so a drained landing dir re-drains to zero new decisions.
    A micro-batch that fails mid-write can replay — the store is
    semantically a SET (probes go through ``distinct``), so a duplicate
    fingerprint append is harmless to every later decision, and decision
    rows carry ``__batch_id`` for idempotent downstream consumption (the
    same contract as ``run_available_now_update``; a real deployment
    MERGEs into an ACID store table instead of appending).

    100 TB shape: identical to the batch twin — the store is bucketed by
    fp so the probe join shuffles only the arriving batch, per-batch
    window work rides the same fp partitioning, and nothing ever rescans
    ingested text (the store holds 16-byte fingerprints, not documents).
    """
    from pyspark.errors import AnalysisException

    from live_data_spark.operators.dedup import classify_against_store
    from live_data_spark.operators.text import fingerprint

    def classify_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        try:
            history = sess.read.parquet(store_dir)
        except AnalysisException:  # first batch: store not created yet
            history = local_frame(sess, [], "fp string")
        cls = classify_against_store(
            batch_df.select("doc_id", fingerprint("text").alias("fp")), history
        )
        # one pass, two sinks: cache the small classified batch, not the store
        cls.persist()
        try:
            cls.withColumn("__batch_id", F.lit(batch_id)).write.mode("append").parquet(
                decisions_dir
            )
            cls.where(F.col("decision") == "new").select("fp").distinct().write.mode(
                "append"
            ).parquet(store_dir)
        finally:
            cls.unpersist()

    stream = spark.readStream.schema(DOCS_SCHEMA).parquet(landing_dir)
    _drain_available_now(stream, checkpoint_dir, batch_fn=classify_batch)


# -- streaming upsert sink (keyed keep-latest store) -------------------------


def merge_upsert_batch(
    batch_df: DataFrame,
    store_dir: str,
    unique_key: tuple[str, ...],
    recency_key: str,
) -> None:
    """One keyed upsert of a micro-batch into the store: the registry's
    ``keep_latest`` merge (recency ties → the incoming row wins) written
    through ``rewrite_parquet`` — the ``incremental_merge`` write path,
    shaped for ``foreachBatch``. The streaming path into a keep-latest
    table when the sink isn't an ACID format (with one, this whole
    function is a MERGE INTO).
    """
    from pathlib import Path

    from live_data_spark.plans.registry import keep_latest
    from live_data_spark.sources.files import recover_swapped_dir, rewrite_parquet

    # heal a swap interrupted by a crash: the prior state lives in the
    # backup dir, not under store_dir — without this, the _SUCCESS probe
    # below would take the first-write branch and the store would
    # silently reset to one batch (the input files are already
    # checkpoint-committed, so nothing replays the lost history)
    recover_swapped_dir(store_dir)
    if (Path(store_dir) / "_SUCCESS").exists():
        existing = batch_df.sparkSession.read.parquet(store_dir)
        batch_df = keep_latest(existing, batch_df, unique_key, recency_key)
    rewrite_parquet(batch_df, store_dir)


def upsert_events_stream(
    spark: SparkSession, landing_dir: str, store_dir: str, checkpoint_dir: str
) -> None:
    """Continuous keep-latest materialization: watch a landing dir of
    event parquet, upsert each micro-batch into the store keyed by
    (user_id, event_type), latest ``ts`` winning, through
    ``merge_upsert_batch`` — the registry's ``incremental_merge`` write
    (its ``keep_latest`` merge and ``rewrite_parquet`` swap) per batch,
    exactly-once per input file via the checkpoint WAL. A replayed batch
    is idempotent: re-merging rows already in the store changes nothing.

    At 100 TB the store is an ACID table and the merge is a keyed MERGE
    INTO (same plan shape, no temp-swap copy); partition the store by a
    stable key prefix so the swap rewrites only touched partitions.
    """

    def work(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert_batch(batch_df, store_dir, ("user_id", "event_type"), "ts")

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(landing_dir)
    _drain_available_now(stream, checkpoint_dir, batch_fn=work)


def countmin_update_stream(
    spark: SparkSession,
    landing_dir: str,
    cells_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming twin of ``events_batch.events_countmin_user_counts``'s
    sketch build: per micro-batch, aggregate the arriving events into
    (d, bucket, c) CMS cell partials and APPEND them to the cell store —
    the sketch's mergeability IS the streaming contract (cells from
    disjoint batches ADD, so append + sum-on-read equals the batch-built
    sketch exactly; ``countmin_cells_state`` does the read-side sum).

    Restart safety mirrors the incremental-dedup twin: the file source's
    checkpoint WAL gives exactly-once per input file, partials carry
    ``__batch_id`` so a replayed batch's rows are identifiable for
    idempotent reads (a real deployment MERGE-adds into an ACID table).

    100 TB shape: per-batch state is ≤D·W rows regardless of batch size,
    the store grows by ≤D·W rows per batch independent of traffic, and
    the read-side sum is over a cell table bounded by D·W·batches —
    compact away with any periodic re-sum. No per-key state anywhere.
    """
    from live_data_spark.streaming.events_batch import cms_cells

    def add_partials(batch_df: DataFrame, batch_id: int) -> None:
        cms_cells(batch_df).withColumn("__batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(cells_dir)

    stream = read_events_stream(spark, landing_dir)
    _drain_available_now(stream, checkpoint_dir, batch_fn=add_partials)


def countmin_cells_state(spark: SparkSession, cells_dir: str) -> DataFrame:
    """Merged CMS cell table from the partial store: sum per (d, bucket)
    — the sketch-union operation, deduplicating replayed batches first
    (latest write of a __batch_id wins; partials within one batch are
    distinct by key, so max-per-key is equivalent and simpler)."""
    p = spark.read.parquet(cells_dir)
    latest = p.groupBy("d", "bucket", "__batch_id").agg(F.max("c").alias("c"))
    return latest.groupBy("d", "bucket").agg(F.sum("c").alias("c"))


# -- streaming SCD2 snapshots (change batches → versioned history) -----------


def snapshot_scd2_stream(
    spark: SparkSession,
    landing_dir: str,
    snapshot_root: str,
    checkpoint_dir: str,
    schema: StructType | str,
    unique_key: str,
    updated_at: str,
) -> None:
    """Streaming twin of ``plans/snapshot.py::snapshot``: watch a landing
    directory of change-batch parquet files; per micro-batch, run the
    timestamp-strategy SCD2 merge against the latest generation and write
    the next one — dbt snapshots fed by a stream instead of a schedule
    (the reference schedules its runs with Airflow,
    airflow/dags/refresh_source_data.py; this is the continuous form).

    A micro-batch may coalesce several landing files and so carry SEVERAL
    versions of one key; the merge expects one row per key, so the batch
    first reduces to latest-per-key (max ``updated_at``, ties by the
    largest remaining column tuple — deterministic). Intermediate
    versions inside one batch are skipped, exactly as dbt skips source
    states between two scheduled runs.

    Replay safety, both crash windows: a batch that crashed AFTER its
    generation write replays against the NEWER state — the timestamp
    merge is idempotent (no ``updated_at`` advanced → everything
    carries), so the replayed generation is byte-identical in CONTENT
    and the history it serves is exactly-once even though the generation
    counter moved. A crash DURING the write leaves only an uncommitted
    temp/partial dir, which ``_latest_generation`` ignores (_SUCCESS
    gate; the write itself is temp-dir + atomic rename) — the replay
    merges against the intact previous generation, never corrupt state.
    Pinned in tests/test_streaming.py by re-draining from a wiped
    checkpoint, and in tests/test_snapshot.py with planted partial
    generations.

    100 TB shape: per batch, ONE full-outer equi-join of the open rows
    against the (tiny) change batch — identical to the batch twin; the
    generation rewrite is the parquet stand-in for MERGE INTO on an ACID
    table (same note as ``snapshot``)."""
    from pathlib import Path

    from pyspark.sql import Window

    from live_data_spark.plans.snapshot import (
        _write_generation,
        initial_state,
        read_snapshot,
        snapshot_merge,
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        others = [c for c in batch_df.columns if c != unique_key]
        w = Window.partitionBy(unique_key).orderBy(
            *[F.col(updated_at).desc()] + [F.col(c).desc() for c in others if c != updated_at]
        )
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        current = read_snapshot(sess, snapshot_root)
        if current is None:
            new_state = initial_state(latest, updated_at)
        else:
            new_state = snapshot_merge(current, latest, unique_key, updated_at)
        _write_generation(sess, Path(snapshot_root), new_state)

    stream = spark.readStream.schema(schema).parquet(landing_dir)
    _drain_available_now(stream, checkpoint_dir, batch_fn=merge_batch)
