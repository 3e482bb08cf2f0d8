"""Batch-mode event analytics over the ``events`` table.

Each entry is checked against a DuckDB oracle. Where a stream transform
in ``live_data_spark.streaming.jobs`` computes the same shape, the entry
calls it over the table (``events_sliding_rollup``,
``events_session_window_native``): Catalyst drops the watermark from a
batch plan, so batch and stream share one body. The reference's only
"streaming" is the every-N-minutes append DAG (SURVEY §2.9 O5); the events
surface is the BASELINE.json extension mandate.

Timestamp convention: all window bounds leave the query as formatted strings
(session-TZ independent); gaps computed in epoch microseconds (exact integers
on both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from live_data_spark.catalog import load, register
from live_data_spark.functions.dialect import money_sum
from live_data_spark.session import local_frame
from live_data_spark.streaming import jobs

_HOURLY_ORACLE = """
SELECT
  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type,
  count(*) AS n_events,
  cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
  count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""


def hourly_rollup_of(e: DataFrame) -> DataFrame:
    """The events_hourly_rollup aggregate over any events frame: the
    catalog entry runs it over the table and ``incremental_rollup_update``
    over the touched hours only."""
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register("events_hourly_rollup", oracle=_HOURLY_ORACLE, headline=True, tags=("events", "window"))
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate (batch form of a streaming rollup).

    ``date_trunc`` ≡ tumbling window start. The stream rollup
    (``jobs.hourly_rollup``) differs in one column: it counts users with
    ``approx_count_distinct``, because exact distinct users per window
    is unbounded stream state. Map-side partial agg; at 100 TB the events
    table is date-partitioned so the scan prunes to the hours in play.
    count(DISTINCT) shuffles per (window, type) group — swap to
    approx_count_distinct at scale when exactness isn't contractual.
    """
    return hourly_rollup_of(load(spark, sf_dir, "events"))


_JSON_ORACLE = """
SELECT
  event_type,
  count(*) FILTER (WHERE cast(props->>'$.k' AS INTEGER) > 50) AS high_k,
  round(avg(cast(props->>'$.k' AS INTEGER)), 4) AS avg_k
FROM events
GROUP BY event_type
"""


@register("events_json_props", oracle=_JSON_ORACLE, tags=("events", "json"))
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON extraction from the props column.

    ``get_json_object`` is JVM-side (Jackson) — no Python in the path.
    At scale prefer parsing once via ``from_json`` with an explicit schema
    into a struct column, then pruning; shown here in the single-field
    form the oracle can mirror (DuckDB ``->>``).
    """
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.count(F.when(k > 50, 1)).alias("high_k"),
        F.round(F.avg(k), 4).alias("avg_k"),
    )


_SESSION_ORACLE = """
WITH flagged AS (
  SELECT
    user_id, ts, event_id, value,
    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
         OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, event_id, value,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT
  user_id,
  cast(session_seq AS BIGINT) AS session_seq,
  count(*) AS n_events,
  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
  cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM sessions
GROUP BY user_id, session_seq
"""


@register("events_sessionize", oracle=_SESSION_ORACLE, headline=True, tags=("events", "session"))
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap (batch form).

    Streaming twin: ``F.session_window(ts, '30 minutes')`` in
    streaming/jobs.py. Batch algorithm: lag → new-session flag → running
    sum = session id → per-session rollup. Two window passes + one agg,
    all over a single hash partition on user_id (one shuffle total —
    Spark reuses the partitioning across the window specs and the
    groupBy because the keys are aligned). MEASURED flat through 30×
    the events table (disjoint user copies: 0.59→1.32 s at sf0.1·30,
    SCALE.md §19) — per-task state is session-depth-bounded, not
    user-count-bounded.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "is_new",
        F.when(F.col("prev_ts").isNull(), 1)
        .when(F.expr("timestampdiff(MICROSECOND, prev_ts, ts)") > 1800 * 1_000_000, 1)
        .otherwise(0),
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = flagged.withColumn("session_seq", F.sum("is_new").over(wrun))
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        money_sum("value").alias("session_value"),
    )


@register(
    "events_dedup_latest",
    oracle="""
    SELECT user_id, event_type,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_seen,
           count(*) AS n
    FROM events
    GROUP BY user_id, event_type
    """,
    tags=("events",),
)
def events_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-event-per-key rollup (the batch shape of streaming
    ``dropDuplicatesWithinWatermark`` + last-value state).
    """
    e = load(spark, sf_dir, "events")
    return e.groupBy("user_id", "event_type").agg(
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
        F.count(F.lit(1)).alias("n"),
    )


_SLIDING_ORACLE = """
WITH w AS (
  SELECT e.*, unnest(generate_series(
      time_bucket(INTERVAL 15 MINUTE, ts) - INTERVAL 45 MINUTE,
      time_bucket(INTERVAL 15 MINUTE, ts),
      INTERVAL 15 MINUTE)) AS ws
  FROM events e
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events,
       cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM w GROUP BY 1, 2
"""


@register("events_sliding_rollup", oracle=_SLIDING_ORACLE, tags=("events", "window"))
def events_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour window, 15-minute slide (batch form).

    ``F.window(ts, '1 hour', '15 minutes')`` assigns each event to its 4
    overlapping windows — an Expand (4× fan-out of the tiny grouping
    key), NOT 4 scans; the oracle spells the same assignment with
    generate_series over the 15-min grid. The body is the stream
    transform ``jobs.sliding_rollup``: over a table, Catalyst drops its
    watermark, so batch and stream run one plan. The fan-out factor
    (window/slide) is the state- and shuffle-cost knob at scale.
    """
    return jobs.sliding_rollup(load(spark, sf_dir, "events"))


_FUNNEL_STEPS = ("view", "click", "purchase")


def funnel_stages(ev: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The funnel's three stage frames over an events frame: (user_id,
    t1) first view, (user_id, t2) first click strictly after t1, and
    (user_id, t3) first purchase strictly after t2. Each stage is a
    min-aggregate per user with the previous stage's time on the join
    condition."""

    def first_after(step_type: str, prev: DataFrame, prev_t: str, out_t: str) -> DataFrame:
        e = ev.where(F.col("event_type") == step_type).select("user_id", "ts")
        return (
            e.join(prev, "user_id")
            .where(F.col("ts") > F.col(prev_t))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out_t))
        )

    view, click, purchase = _FUNNEL_STEPS
    s1 = ev.where(F.col("event_type") == view).groupBy("user_id").agg(F.min("ts").alias("t1"))
    s2 = first_after(click, s1, "t1", "t2")
    s3 = first_after(purchase, s2, "t2", "t3")
    return s1, s2, s3


_FUNNEL_ORACLE = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON s1.user_id = e.user_id AND e.ts > s1.t1
  WHERE e.event_type = 'click' GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON s2.user_id = e.user_id AND e.ts > s2.t2
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT 1 AS step, 'view' AS event_type, count(*) AS n_users FROM s1
UNION ALL
SELECT 2, 'click', count(*) FROM s2
UNION ALL
SELECT 3, 'purchase', count(*) FROM s3
"""


@register("events_funnel", oracle=_FUNNEL_ORACLE, tags=("events", "funnel"))
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel: view → click (after it) → purchase
    (after that), counted per stage.

    The ORDERED-sequence shape (strictly-after semantics), not mere
    membership: each stage is "first qualifying event after the previous
    stage's first event" — min-aggregate per stage with the previous
    stage's timestamp riding the join condition. Three user-keyed
    shuffles, each over already-aggregated 1-row-per-user frames; the
    event scans prune to one event_type each. The stage unions are
    row-count-only aggregates (3 rows out).
    """
    stages = funnel_stages(load(spark, sf_dir, "events"))
    counts = [
        df.agg(
            F.lit(step).alias("step"),
            F.lit(name).alias("event_type"),
            F.count(F.lit(1)).alias("n_users"),
        )
        for step, (df, name) in enumerate(zip(stages, _FUNNEL_STEPS), 1)
    ]
    return counts[0].unionByName(counts[1]).unionByName(counts[2])


# ---------------------------------------------------------------------------
# Pivot — event types to columns (the wide-format export shape).
# ---------------------------------------------------------------------------

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_PIVOT_ORACLE = """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click') AS n_click,
       count(*) FILTER (WHERE event_type = 'error') AS n_error,
       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
       count(*) FILTER (WHERE event_type = 'view') AS n_view
FROM events
GROUP BY user_id
"""


@register("events_pivot_by_type", oracle=_PIVOT_ORACLE, tags=("events", "pivot"))
def events_pivot_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type counts as wide columns — ``groupBy().pivot()``
    with the value list DECLARED, which matters at scale: an unlisted
    pivot first runs a blocking distinct over the pivot column to
    discover values; the explicit list keeps this a single hash
    aggregate (one user_id shuffle, map-side partials, nulls→0 so the
    wide row is dense). The oracle spells the same thing as CASE-filtered
    counts — pivot IS conditional aggregation.
    """
    e = load(spark, sf_dir, "events")
    pv = (
        e.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return pv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _EVENT_TYPES],
    )


# ---------------------------------------------------------------------------
# Histogram — fixed-width value binning.
# ---------------------------------------------------------------------------

_HISTOGRAM_ORACLE = """
SELECT cast(least(floor(value / 25.0), 19) AS INTEGER) AS bin,
       round(least(floor(value / 25.0), 19) * 25.0, 2) AS bin_low,
       count(*) AS n,
       cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE) AS bin_value
FROM events
GROUP BY 1, 2
"""


@register("events_value_histogram", oracle=_HISTOGRAM_ORACLE, tags=("events", "histogram"))
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event value (20 bins of width 25, top bin
    open) — the binning shape behind distribution dashboards and outlier
    gates, as pure floor arithmetic so any engine reproduces the exact
    bin edges (width_bucket isn't portable). One aggregate over ≤20
    groups: the shuffle is the bin table, not the events.
    """
    e = load(spark, sf_dir, "events")
    bin_ = F.least(F.floor(F.col("value") / 25.0), F.lit(19)).cast("int")
    return (
        e.groupBy(bin_.alias("bin"), F.round(bin_ * 25.0, 2).alias("bin_low"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum("value").alias("bin_value"),
        )
    )


_UNPIVOT_ORACLE = """
WITH wide AS (
  SELECT user_id,
         count(*) FILTER (WHERE event_type = 'click') AS n_click,
         count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
         count(*) FILTER (WHERE event_type = 'view') AS n_view
  FROM events GROUP BY user_id
)
SELECT user_id, event_type, n FROM (
  SELECT user_id, 'click' AS event_type, n_click AS n FROM wide
  UNION ALL SELECT user_id, 'purchase', n_purchase FROM wide
  UNION ALL SELECT user_id, 'view', n_view FROM wide
)
WHERE n > 0
"""


@register("events_unpivot_type_counts", oracle=_UNPIVOT_ORACLE, tags=("events", "unpivot"))
def events_unpivot_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide per-user type counts back to long form via
    ``stack`` — the inverse of ``events_pivot_by_type`` and the standard
    normalization step when a wide export feeds a long-format consumer.

    ``stack(n, label, col, ...)`` is a Generate (row fan-out) over the
    already-aggregated wide frame — 3 rows out per user, no re-scan of
    events and no shuffle beyond the pivot's own; zero-count cells drop
    like the oracle's WHERE. The wide frame comes from the same declared
    pivot as events_pivot_by_type.
    """
    e = load(spark, sf_dir, "events")
    kinds = ("click", "purchase", "view")
    wide = (
        e.where(F.col("event_type").isin(*kinds))
        .groupBy("user_id")
        .pivot("event_type", list(kinds))
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[F.coalesce(F.col(k), F.lit(0)).alias(f"n_{k}") for k in kinds],
        )
    )
    stack_expr = "stack(3, " + ", ".join(f"'{k}', n_{k}" for k in kinds) + ") AS (event_type, n)"
    return wide.selectExpr("user_id", stack_expr).where(F.col("n") > 0)


_GAPFILL_ORACLE = """
WITH b AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM events
), t AS (
  SELECT DISTINCT event_type FROM events
), g AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h, event_type
  FROM b CROSS JOIN t
), c AS (
  SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n FROM events GROUP BY 1, 2
)
SELECT strftime(g.h, '%Y-%m-%d %H:%M:%S') AS window_start,
       g.event_type,
       cast(coalesce(c.n, 0) AS BIGINT) AS n_events
FROM g LEFT JOIN c ON c.h = g.h AND c.event_type = g.event_type
"""


@register("events_gapfill_hourly", oracle=_GAPFILL_ORACLE, tags=("events", "timeseries"))
def events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly series: every (hour, event_type) cell from the
    corpus' min to max hour, zero-filled where no events landed — the
    densification step time-series consumers (forecasting, anomaly
    windows) need and Spark has no native operator for.

    Built from relational pieces: a 1-row bounds aggregate explodes into
    the hour grid via ``sequence`` (no driver collect — the grid is
    generated inside the plan), cross-joined with the distinct types,
    left-joined to the real counts. The grid side is |hours|·|types| —
    tiny relative to events at any scale — so at 100 TB it broadcasts
    into the counts; the expensive side remains one hash aggregate of
    the events scan.
    """
    e = load(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    types = e.select("event_type").distinct()
    grid = (
        bounds.crossJoin(types)
        .select(
            F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("h"),
            "event_type",
        )
    )
    counts = e.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    # broadcast the RIGHT (non-preserved) side — a hint on the preserved
    # grid side of the outer join is ignored (shuffle-join fallback);
    # counts is |hours|·|types|-bounded, same as the grid
    return (
        grid.join(F.broadcast(counts), ["h", "event_type"], "left")
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            F.coalesce(F.col("n"), F.lit(0).cast("bigint")).alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Autocorrelation — lag structure of the hourly traffic series.
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 24  # one diurnal cycle of hourly lags

_ACF_ORACLE = f"""
WITH idx AS (
  SELECT cast(floor(epoch(ts) / 3600) AS BIGINT) AS hi FROM events
), b AS (
  SELECT min(hi) AS lo, max(hi) AS hi_ FROM idx
), spine AS (
  SELECT unnest(generate_series(lo, hi_)) AS hi FROM b
), c AS (
  SELECT spine.hi, cast(coalesce(k.n, 0) AS DOUBLE) AS n
  FROM spine LEFT JOIN (SELECT hi, count(*) AS n FROM idx GROUP BY hi) k
  ON k.hi = spine.hi
), mu AS (
  SELECT avg(n) AS mu FROM c
), d AS (
  SELECT hi, n - (SELECT mu FROM mu) AS dev FROM c
), s0 AS (
  SELECT sum(dev * dev) AS s0 FROM d
), lags AS (
  SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS lag
)
SELECT cast(l.lag AS INTEGER) AS lag,
       cast(count(*) AS BIGINT) AS n_pairs,
       round(sum(a.dev * b.dev) / NULLIF((SELECT s0 FROM s0), 0), 6) AS acf
FROM lags l
JOIN d a ON TRUE
JOIN d b ON b.hi = a.hi + l.lag
GROUP BY l.lag
"""


@register("events_hourly_acf", oracle=_ACF_ORACLE, tags=("events", "timeseries"))
def events_hourly_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the gap-filled hourly event-count series at
    lags 1..24 — the lag-structure diagnostic behind seasonality
    detection (a diurnal corpus shows the lag-24 peak), forecasting-model
    order selection, and "is this traffic i.i.d. enough to sample
    uniformly?" checks on event-derived training data. Zero-filled gaps
    matter: skipping silent hours would splice distant hours together
    and fabricate correlation.

    Plan: ONE events pass aggregates to integer hour indices (epoch/3600
    — integer join keys, no timestamp arithmetic anywhere downstream);
    the spine, deviations, lag fan-out, and the lag-offset self-join all
    operate on that |hours|-bounded frame (broadcast-sized at any corpus
    scale — a decade is <90k rows), with mean and Σdev² attached as
    1-row broadcast scalars. The same tiny deviation frame feeds both
    sides of the self-join, so the events-scan subtree is shared via
    exchange reuse — at 100 TB the one real cost stays the single
    hourly-count aggregate (or read it straight from the
    ``events_hourly_rollup`` materialization).

    Empty events: NULL bounds → NULL ``sequence`` → zero spine rows →
    zero output rows, no abort (the empty-input sweep pins it).
    """
    e = load(spark, sf_dir, "events")
    hidx = F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 3600).cast("long")
    counts = e.select(hidx.alias("hi")).groupBy("hi").agg(F.count(F.lit(1)).alias("k"))
    bounds = counts.agg(F.min("hi").alias("lo"), F.max("hi").alias("hi_"))
    spine = bounds.select(F.explode(F.sequence("lo", "hi_")).alias("hi"))
    # broadcast the RIGHT (non-preserved) side: Spark ignores a broadcast
    # hint on the preserved side of an outer join (HintErrorLogger warns
    # and silently falls back to a shuffle join)
    c = spine.join(F.broadcast(counts), "hi", "left").select(
        "hi", F.coalesce(F.col("k"), F.lit(0)).cast("double").alias("n")
    )
    mu = c.agg(F.avg("n").alias("mu"))
    d = c.crossJoin(F.broadcast(mu)).select("hi", (F.col("n") - F.col("mu")).alias("dev"))
    s0 = d.agg(F.sum(F.col("dev") * F.col("dev")).alias("s0"))
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").cast("int").alias("lag"))
    a, b = d.alias("a"), d.alias("b")
    paired = (
        a.crossJoin(F.broadcast(lags))
        .join(F.broadcast(b), F.col("b.hi") == F.col("a.hi") + F.col("lag"))
        .select("lag", (F.col("a.dev") * F.col("b.dev")).alias("prod"))
    )
    return (
        paired.groupBy("lag")
        .agg(F.count(F.lit(1)).alias("n_pairs"), F.sum("prod").alias("num"))
        .crossJoin(F.broadcast(s0))
        .select(
            "lag",
            "n_pairs",
            F.round(F.col("num") / F.nullif(F.col("s0"), F.lit(0.0)), 6).alias("acf"),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint — where did the daily level shift?
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH daily AS (
  SELECT cast(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1
), seq AS (
  SELECT day, n,
         sum(n) OVER (ORDER BY day) AS cum_n,
         row_number() OVER (ORDER BY day) AS t
  FROM daily
), tot AS (
  SELECT sum(n) / cast(count(*) AS DOUBLE) AS mu FROM daily
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       cast(n AS BIGINT) AS n_events,
       round(cum_n - t * (SELECT mu FROM tot), 4) AS cusum,
       cast(row_number() OVER (
         ORDER BY abs(cum_n - t * (SELECT mu FROM tot)) DESC, day
       ) AS INTEGER) AS shift_rank
FROM seq
"""


@register("events_changepoint_cusum", oracle=_CUSUM_ORACLE, tags=("events", "timeseries"))
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan over the daily event-count series:
    S_t = Σ_{i≤t}(n_i − μ); the day where |S_t| peaks (shift_rank 1) is
    the level-shift estimate — the classic single-changepoint statistic
    behind "did ingest volume step-change, and when?" monitoring on a
    training-data feed. Every day's CUSUM is emitted so the consumer
    sees the whole excursion, not just the argmax.

    FP discipline: S_t is computed as cum_n − t·μ from the EXACT integer
    running sum and row index — one multiply and subtract per row, no
    accumulated float addition — so both engines produce bit-identical
    values and the |S_t| ordering (and therefore shift_rank) cannot
    drift. The cumulative window runs over the |days|-bounded daily
    aggregate (one partition of a tiny frame — same posture as the other
    post-aggregate global windows), with μ attached as a 1-row broadcast
    scalar; the single real pass is the daily count aggregate.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wseq = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seq = daily.select(
        "day",
        "n",
        F.sum("n").over(wseq).alias("cum_n"),
        F.row_number().over(Window.orderBy("day")).alias("t"),
    )
    mu = daily.agg((F.sum("n") / F.count(F.lit(1)).cast("double")).alias("mu"))
    cusum = F.col("cum_n") - F.col("t") * F.col("mu")
    return (
        seq.crossJoin(F.broadcast(mu))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n").cast("bigint").alias("n_events"),
            F.round(cusum, 4).alias("cusum"),
            F.row_number()
            .over(Window.orderBy(F.abs(cusum).desc(), "day"))
            .alias("shift_rank"),
        )
    )


# ---------------------------------------------------------------------------
# Retention cohorts — the day-N product-analytics matrix.
# ---------------------------------------------------------------------------

_RETENTION_ORACLE = """
WITH first_seen AS (
  SELECT user_id, min(cast(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id
)
SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
       date_diff('day', f.cohort_day, cast(e.ts AS DATE)) AS day_offset,
       count(DISTINCT e.user_id) AS n_users
FROM events e JOIN first_seen f ON f.user_id = e.user_id
GROUP BY 1, 2
"""


@register("events_retention_cohorts", oracle=_RETENTION_ORACLE, tags=("events", "cohort"))
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-N retention matrix: users grouped by first-seen day (cohort),
    counted on each later day they return — the canonical
    product-analytics triangle.

    Two aggregates, both on keys the data already wants: first-seen is
    one user_id hash agg (1 row/user out); the join back is user-keyed
    and reuses that partitioning; the final (cohort, offset) cell agg
    shuffles distinct (cohort, offset, user) triples — bounded by the
    events themselves. At 100 TB the first-seen frame is the thing to
    materialize incrementally (it's monotone: min is mergeable), not
    recompute per query.
    """
    e = load(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_day"))
    return (
        e.select("user_id", F.to_date("ts").alias("event_day"))
        .join(first_seen, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("event_day", "cohort_day").cast("bigint").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# Inter-arrival gaps — per-type event cadence.
# ---------------------------------------------------------------------------

_INTERARRIVAL_ORACLE = """
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT event_type,
       count(gap_us) AS n_gaps,
       round(avg(gap_us) / 1000000.0, 4) AS avg_gap_s,
       round(min(gap_us) / 1000000.0, 4) AS min_gap_s,
       round(max(gap_us) / 1000000.0, 4) AS max_gap_s
FROM gaps
GROUP BY event_type
"""


@register("events_interarrival_stats", oracle=_INTERARRIVAL_ORACLE, tags=("events", "window"))
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time statistics per event type: the lag-to-previous
    gap within each (user, type) stream, aggregated to cadence stats —
    the signal behind rate limiting, bot detection, and session-gap
    tuning.

    One window pass partitioned by (user_id, event_type) with the
    (ts, event_id) total order, then a 5-row hash agg. Gaps are exact
    epoch-microsecond integers (sums stay < 2^53, so the double mean is
    exact before rounding on both engines). The window partitioning and
    the final agg are the only shuffles.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = e.withColumn("prev_ts", F.lag("ts").over(w)).select(
        "event_type",
        F.expr("timestampdiff(MICROSECOND, prev_ts, ts)").alias("gap_us"),
    )
    return gaps.groupBy("event_type").agg(
        F.count("gap_us").alias("n_gaps"),
        F.round(F.avg("gap_us") / 1e6, 4).alias("avg_gap_s"),
        F.round(F.min("gap_us") / 1e6, 4).alias("min_gap_s"),
        F.round(F.max("gap_us") / 1e6, 4).alias("max_gap_s"),
    )


# ---------------------------------------------------------------------------
# Native session_window — the built-in operator, checked against the
# same SQL-islands semantics events_sessionize spells by hand.
# ---------------------------------------------------------------------------

_NATIVE_SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800 * 1000000
         OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, value,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events,
       cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM sessions
GROUP BY user_id, session_seq
"""


@register(
    "events_session_window_native",
    oracle=_NATIVE_SESSION_ORACLE,
    tags=("events", "session"),
)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's built-in ``session_window`` (30-minute
    gap) — the native operator whose streaming form carries watermarked
    state, verified against the lag/running-sum islands SQL that
    ``events_sessionize`` hand-builds.

    One semantic asymmetry worth pinning: ``session_window`` treats a
    gap of EXACTLY the timeout as a new session (the window is
    [start, start+gap)), so the oracle's island flag uses ``>=`` where
    events_sessionize uses ``>``. Physically this is a single
    user_id-partitioned sort + merging-window aggregation — one shuffle,
    no self-join. The body is the stream transform ``jobs.sessionize``:
    over a table, Catalyst drops its watermark, so batch and stream run
    one plan.
    """
    return jobs.sessionize(load(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Winsorization — percentile clipping for robust aggregates.
# ---------------------------------------------------------------------------

_WINSOR_ORACLE = """
WITH cuts AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS p05,
         quantile_cont(value, 0.95) AS p95
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       round(c.p05, 4) AS p05,
       round(c.p95, 4) AS p95,
       round(cast(sum(cast(e.value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS mean_raw,
       round(cast(sum(cast(least(greatest(e.value, c.p05), c.p95) AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 4) AS mean_winsorized,
       count(*) FILTER (WHERE e.value < c.p05) AS n_clipped_low,
       count(*) FILTER (WHERE e.value > c.p95) AS n_clipped_high
FROM events e JOIN cuts c ON c.event_type = e.event_type
GROUP BY e.event_type, c.p05, c.p95
"""


@register("events_value_winsorized", oracle=_WINSOR_ORACLE, tags=("events", "robust"))
def events_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (p05/p95-clipped) robust mean per event type — the
    standard tail-taming step before a mean is trusted on skewed metric
    streams, with clip counts so the tails stay auditable.

    Two aggregates over the same event_type keys: the 5-row percentile
    frame broadcasts back onto the stream (same shape as
    events_value_outliers — a window over the raw stream would hash the
    full table by a 5-value key). Sums run in DECIMAL(18,6) so the
    engine-order-dependent double drift never reaches the rounded
    output. At 100 TB swap percentile for percentile_approx and the
    plan is otherwise unchanged.
    """
    e = load(spark, sf_dir, "events")
    cuts = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p05"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    dec_mean = lambda c: F.round(  # noqa: E731 — shared exact-sum mean shape
        F.sum(c.cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)), 4
    )
    return (
        e.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.first("p05"), 4).alias("p05"),
            F.round(F.first("p95"), 4).alias("p95"),
            dec_mean(F.col("value")).alias("mean_raw"),
            dec_mean(clipped).alias("mean_winsorized"),
            F.count(F.when(F.col("value") < F.col("p05"), 1)).alias("n_clipped_low"),
            F.count(F.when(F.col("value") > F.col("p95"), 1)).alias("n_clipped_high"),
        )
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram — decile bins from interpolated quantile cuts.
# ---------------------------------------------------------------------------

_EQUIDEPTH_ORACLE = """
WITH cuts AS (
  SELECT quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
  FROM events
)
SELECT len(list_filter(c.qs, q -> e.value >= q)) AS bin,
       count(*) AS n,
       round(min(e.value), 4) AS lo,
       round(max(e.value), 4) AS hi
FROM events e CROSS JOIN cuts c
GROUP BY 1
"""


@register("events_value_histogram_equidepth", oracle=_EQUIDEPTH_ORACLE, tags=("events", "histogram"))
def events_value_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) histogram of event value — the adaptive
    complement of the fixed-width ``events_value_histogram``: bin edges
    are the interpolated p10..p90 cuts, so each bin holds ≈10% of the
    stream regardless of skew.

    Deliberately NOT ``ntile(10) OVER (ORDER BY value)``: a global-order
    window funnels the whole table through ONE partition. Instead a
    1-row quantile aggregate broadcasts its 9 cuts back over the scan
    and the bin index is ``#cuts ≤ value`` — two passes, both fully
    parallel, the same cuts-frame shape as events_value_winsorized. At
    100 TB swap percentile for percentile_approx (mergeable t-digest)
    and nothing else changes.
    """
    e = load(spark, sf_dir, "events")
    cuts = e.agg(
        F.percentile("value", F.array(*[F.lit(i / 10.0) for i in range(1, 10)])).alias("qs")
    )
    binned = e.crossJoin(F.broadcast(cuts)).select(
        "value",
        F.size(F.filter("qs", lambda q: F.col("value") >= q)).alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 4).alias("lo"),
        F.round(F.max("value"), 4).alias("hi"),
    )


# ---------------------------------------------------------------------------
# Heavy hitters — exact top-k plus the sketch-based approximate twin.
# ---------------------------------------------------------------------------

_HH_TOP = 20

_HH_ORACLE = f"""
SELECT user_id, count(*) AS n_events
FROM events
GROUP BY user_id
ORDER BY n_events DESC, user_id
LIMIT {_HH_TOP}
"""


@register("events_heavy_hitters", oracle=_HH_ORACLE, tags=("events", "topk"))
def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: top-20 users by event count, total-ordered
    (count desc, user_id). One user-keyed hash aggregate then
    TakeOrderedAndProject over the per-user frame — no global sort; the
    candidate set for the limit is 20 rows per partition.
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.col("n_events").desc(), "user_id")
        .limit(_HH_TOP)
    )


@register("events_heavy_hitters_approx", oracle=_HH_ORACLE, tags=("events", "topk", "sketch"))
def events_heavy_hitters_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based heavy hitters: ``approx_top_k`` (Spark 4), the
    one-pass mergeable summary that replaces the exact group-by at
    100 TB — per-partition sketches merge into a 1-row aggregate
    instead of shuffling every distinct key.

    Shares the exact twin's oracle: the sketch is asked for 5× the
    final k and that (tiny, driver-side-sized) candidate frame is
    re-ranked with the oracle's exact (count desc, user_id) total
    order — the standard determinism recipe for sketch top-k, since a
    sketch's own tie order at the cut boundary is unspecified (observed:
    rank-20/21 count ties at sf0.1 flip membership without it). Holds
    whenever maxItemsTracked (65536) covers the distinct keys AND the
    boundary tie group fits in the 5× slack; both pinned in pytest, and
    at true 100 TB key cardinality the entry degrades to approximate —
    which is its documented contract there.
    """
    e = load(spark, sf_dir, "events")
    topk = e.agg(
        F.expr(f"approx_top_k(user_id, {_HH_TOP * 5}, 65536)").alias("tk")
    )
    cand = topk.select(F.explode("tk").alias("x")).select(
        F.col("x.item").alias("user_id"),
        F.col("x.count").alias("n_events"),
    )
    return cand.orderBy(F.col("n_events").desc(), "user_id").limit(_HH_TOP)


_SS_CAPACITY = 1024  # per-shard summary size; covers per-shard users at all checked SFs
_SS_SHARDS = 8

_SS_ORACLE = f"""
SELECT user_id, cast(count(*) AS BIGINT) AS est_count, cast(0 AS BIGINT) AS max_err
FROM events GROUP BY user_id
ORDER BY est_count DESC, user_id
LIMIT {_HH_TOP}
"""


@register(
    "events_spacesaving_topk",
    oracle=_SS_ORACLE,
    tags=("events", "topk", "sketch", "streaming-twin"),
)
def events_spacesaving_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming ``heavy_hitter_tracker`` — the SAME
    sharded SpaceSaving summary (shared ``spacesaving_insert`` core,
    streaming/jobs.py) run over the events table, so the streaming job's
    semantics get a driver-visible oracle check like the other
    stream/batch twin pairs.

    Two-phase shape that scales: per-(shard, user) counts first (one
    map-side-combined hash aggregate — the only pass over raw events),
    then each shard's ≤|users/shard| count rows fold into its
    capacity-bounded sketch via weighted inserts in ONE Arrow group.
    The pandas group is O(distinct users per shard), never O(events).

    Oracle-green by forced exactness (the heavy_hitters_approx
    precedent): capacity 1024 ≥ per-shard distinct users at every
    checked SF, so no eviction fires, est = true count and err = 0, and
    global top-20 equals the exact SQL top-20. Under real 100 TB
    cardinality evictions begin and the entry degrades to SpaceSaving's
    documented bounds (est ≥ true ≥ est − err) — pinned with an
    undersized sketch in tests/test_streaming.py. Weighted inserts fold
    heaviest-first so a capacity overflow evicts only genuinely-light
    entries deterministically.
    """
    import pandas as pd

    from live_data_spark.streaming.jobs import spacesaving_insert

    e = load(spark, sf_dir, "events")
    per_user = (
        e.withColumn("shard", F.pmod("user_id", F.lit(_SS_SHARDS)))
        .groupBy("shard", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def shard_sketch(pdf: pd.DataFrame) -> pd.DataFrame:
        sketch: dict[int, list[int]] = {}
        for u, n in sorted(
            zip(pdf["user_id"], pdf["n"]), key=lambda t: (-t[1], t[0])
        ):
            spacesaving_insert(sketch, int(u), int(n), _SS_CAPACITY)
        items = sorted(sketch.items())
        return pd.DataFrame(
            {
                "user_id": [u for u, _ in items],
                "est_count": [ce[0] for _, ce in items],
                "max_err": [ce[1] for _, ce in items],
            }
        )

    summary = per_user.groupBy("shard").applyInPandas(
        shard_sketch, "user_id long, est_count long, max_err long"
    )
    return summary.orderBy(F.col("est_count").desc(), "user_id").limit(_HH_TOP)


# ---------------------------------------------------------------------------
# Rolling distinct actives — DAU with 7-day trailing WAU.
# ---------------------------------------------------------------------------

_DAU_ORACLE = """
WITH du AS (
  SELECT DISTINCT cast(ts AS DATE) AS d, user_id FROM events
), days AS (
  SELECT DISTINCT d FROM du
)
SELECT strftime(days.d, '%Y-%m-%d') AS day,
       count(DISTINCT CASE WHEN du.d = days.d THEN du.user_id END) AS dau,
       count(DISTINCT du.user_id) AS wau_7d
FROM days JOIN du ON du.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
GROUP BY days.d
"""


@register("events_rolling_dau", oracle=_DAU_ORACLE, tags=("events", "window", "distinct"))
def events_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU + trailing 7-day WAU per day — the rolling DISTINCT that
    plain windows can't express (count(DISTINCT) over a RANGE frame
    isn't supported anywhere) and pre-aggregated DAU can't sum (distinct
    isn't additive).

    Shape: dedupe to (day, user) first — the only pass over raw events —
    then each pair EXPLODES to its 7 future window anchors and an
    equi-join against the observed-day grid keeps real anchors. The
    explode form matters: a range-condition join against the day grid
    is a BroadcastNestedLoopJoin testing every pair against every day
    (|days|× work — 3650× on a 10-year table); the explode is exactly 7
    rows per pair regardless of history length, then everything is
    hash-partitioned. Two plain aggregates instead of two
    ``COUNT(DISTINCT ...)``: (anchor, user) collapses to one row with a
    ``today`` flag, so the day rollup sums flags and counts rows. No
    ``Expand``, so the plan has one form build to build. At 100 TB the
    (day, user) frame is what you materialize incrementally, and the
    sketch alternative (mergeable HLL per day, union over the trailing
    window) drops the fan-out entirely when approximation is acceptable.
    """
    e = load(spark, sf_dir, "events")
    du = e.select(F.to_date("ts").alias("d"), "user_id").distinct()
    days = du.select(F.col("d").alias("anchor")).distinct()
    fan = du.select(
        "d",
        "user_id",
        F.explode(F.sequence("d", F.date_add("d", 6))).alias("anchor"),
    )
    joined = fan.join(F.broadcast(days), "anchor")
    per_user = joined.groupBy("anchor", "user_id").agg(
        F.max((F.col("d") == F.col("anchor")).cast("int")).alias("today")
    )
    return per_user.groupBy(F.date_format("anchor", "yyyy-MM-dd").alias("day")).agg(
        F.sum("today").alias("dau"),
        F.count(F.lit(1)).alias("wau_7d"),
    )


# ---------------------------------------------------------------------------
# Seasonal anomaly detection — hour-of-day baseline vs observed.
# ---------------------------------------------------------------------------

_SEASONAL_ORACLE = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, hour(ts) AS hod, event_type, count(*) AS n
  FROM events GROUP BY 1, 2, 3
), baseline AS (
  SELECT hod, event_type,
         sum(n) / cast(count(*) AS DOUBLE) AS expected
  FROM hourly GROUP BY hod, event_type
)
SELECT strftime(h.h, '%Y-%m-%d %H:%M:%S') AS window_start,
       h.event_type,
       h.n AS n_events,
       round(b.expected, 4) AS expected,
       round(h.n / b.expected, 4) AS lift
FROM hourly h JOIN baseline b ON b.hod = h.hod AND b.event_type = h.event_type
WHERE h.n / b.expected >= 1.5
"""


@register("events_seasonal_anomalies", oracle=_SEASONAL_ORACLE, tags=("events", "timeseries", "anomaly"))
def events_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal anomaly hours: each (hour, type) count compared against
    the same-hour-of-day average across the corpus' days (the cheapest
    seasonal baseline — spiky traffic at 3 am means something different
    than at peak). Hours at ≥1.5× their seasonal expectation surface.

    Baseline is defined over OBSERVED same-hod hours (absent hours don't
    dilute it) — the same definition on both engines. Two aggregates:
    the hourly rollup is the only pass over events; the 24×|types|
    baseline frame broadcasts back onto the (already tiny) hourly frame.
    Integer counts divided by an identically-computed double mean keep
    the lift deterministic.
    """
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("h"),
        F.hour("ts").alias("hod"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))
    baseline = hourly.groupBy("hod", "event_type").agg(
        (F.sum("n") / F.count(F.lit(1)).cast("double")).alias("expected")
    )
    joined = hourly.join(F.broadcast(baseline), ["hod", "event_type"])
    return joined.where(F.col("n") / F.col("expected") >= 1.5).select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        F.col("n").alias("n_events"),
        F.round("expected", 4).alias("expected"),
        F.round(F.col("n") / F.col("expected"), 4).alias("lift"),
    )


# ---------------------------------------------------------------------------
# Event-type transition matrix — first-order Markov over user streams.
# ---------------------------------------------------------------------------

_MARKOV_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
), pairs AS (
  SELECT cur, nxt, count(*) AS n FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
)
SELECT cur AS from_type, nxt AS to_type, n AS n_transitions,
       round(n / cast(sum(n) OVER (PARTITION BY cur) AS DOUBLE), 4) AS p_transition
FROM pairs
"""


@register("events_type_markov", oracle=_MARKOV_ORACLE, tags=("events", "sequence"))
def events_type_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    P(next type | current type) — the sequence signal behind
    next-action prediction, funnel-shape discovery, and bot detection
    (bots have degenerate transition rows).

    One lead() pass per user stream (the same (user, ts, event_id)
    partitioning every session operator reuses), then a |types|² cell
    aggregate; the row-normalizing window runs over that ≤25-row frame,
    never the events.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    pairs = seq.groupBy(
        F.col("cur").alias("from_type"), F.col("nxt").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n_transitions"))
    row_total = F.sum("n_transitions").over(Window.partitionBy("from_type"))
    return pairs.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(F.col("n_transitions") / row_total.cast("double"), 4).alias("p_transition"),
    )


@register("events_rolling_dau_hll", oracle=_DAU_ORACLE, tags=("events", "window", "distinct", "sketch"))
def events_rolling_dau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling DAU/WAU via Apache DataSketches HLL — the documented
    100 TB swap for ``events_rolling_dau``: instead of fanning
    (day, user) pairs into every window, each day aggregates ONCE into
    a mergeable sketch and the trailing window unions 7 sketches. The
    shuffle drops from 7×|day-user pairs| to 7×|days| sketch blobs
    (~KB each) — distinct-counting becomes O(days), independent of user
    cardinality.

    Shares the exact twin's oracle: a DataSketches HLL at lgK=14 stays
    in its exact (coupon) phase until cardinality far exceeds the
    per-day/per-week actives at every checked SF, so the estimates are
    exact integers there (verified 0 mismatches at sf0.01 AND sf0.1;
    test_oracle_parity re-pins per run). Estimates round-cast to bigint
    to match the oracle's count type. At true 100 TB actives the sketch
    leaves coupon mode and the entry degrades to its ≤2%-error contract
    (also pinned in tests/test_curation.py).
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk")
    )
    days = daily.select(F.col("d").alias("anchor"))
    fan = daily.select(
        "d", "sk", F.explode(F.sequence("d", F.date_add("d", 6))).alias("anchor")
    )
    joined = fan.join(F.broadcast(days), "anchor")
    return joined.groupBy(F.date_format("anchor", "yyyy-MM-dd").alias("day")).agg(
        F.round(
            F.max(
                F.when(F.col("d") == F.col("anchor"), F.expr("hll_sketch_estimate(sk)"))
            )
        )
        .cast("bigint")
        .alias("dau"),
        F.round(F.expr("hll_sketch_estimate(hll_union_agg(sk, false))"))
        .cast("bigint")
        .alias("wau_7d"),
    )


# ---------------------------------------------------------------------------
# Windowed top-k — heaviest users per hour (rank within window).
# ---------------------------------------------------------------------------

_WINDOWED_TOPK_ORACLE = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, user_id, count(*) AS n
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT h, user_id, n,
         row_number() OVER (PARTITION BY h ORDER BY n DESC, user_id) AS rnk
  FROM hourly
)
SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS window_start,
       user_id, n AS n_events, cast(rnk AS INTEGER) AS rnk
FROM ranked WHERE rnk <= 3
"""


@register("events_windowed_topk_users", oracle=_WINDOWED_TOPK_ORACLE, tags=("events", "topk", "window"))
def events_windowed_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 heaviest users per hour — windowed top-k, the per-window
    complement of the global ``events_heavy_hitters``: rank WITHIN each
    time bucket, so a burst that's invisible globally surfaces in its
    hour.

    Two-level: the (hour, user) count aggregate is the only pass over
    events; ranking partitions by hour over that already-aggregated
    frame. No global sort anywhere, and the rank partitions are
    |users-per-hour| at worst — the frame windows never see raw events.
    """
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("h").orderBy(F.col("n_events").desc(), "user_id")
    return (
        hourly.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "user_id",
            "n_events",
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# Bot scoring — inter-arrival regularity per user.
# ---------------------------------------------------------------------------

_BOT_ORACLE = """
WITH gaps AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS g
  FROM events
), stats AS (
  SELECT user_id,
         count(g) AS n,
         sum(cast(g AS DECIMAL(38,0))) AS sx,
         sum(cast(g AS DECIMAL(38,0)) * cast(g AS DECIMAL(38,0))) AS sxx
  FROM gaps WHERE g IS NOT NULL GROUP BY user_id
)
SELECT user_id, cast(n AS BIGINT) AS n_gaps,
       round(cast(sx AS DOUBLE) / n / 1000000.0, 4) AS mean_gap_s,
       round(sqrt(greatest(n * cast(sxx AS DOUBLE) - cast(sx AS DOUBLE) * cast(sx AS DOUBLE), 0))
             / cast(sx AS DOUBLE), 4) AS gap_cv,
       CASE WHEN n >= 20 AND
            sqrt(greatest(n * cast(sxx AS DOUBLE) - cast(sx AS DOUBLE) * cast(sx AS DOUBLE), 0))
              / cast(sx AS DOUBLE) < 0.3
            THEN 1 ELSE 0 END AS bot_flag
FROM stats
WHERE n >= 5
"""


@register("events_bot_score", oracle=_BOT_ORACLE, tags=("events", "quality", "anomaly"))
def events_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user bot likelihood from inter-arrival regularity: the
    coefficient of variation of event gaps (√n·Σg² − (Σg)² / Σg).
    Humans are bursty (CV ≳ 1); schedulers and scripts tick metronomically
    (CV → 0) — flag high-volume users below 0.3.

    Exactness discipline: gaps are integer microseconds, but their
    SQUARES overflow double's 2^53 integer range, so both moment sums
    run in DECIMAL(38,0) — exact, order-independent — and only the final
    scalar CV math happens in double (identical correctly-rounded ops on
    identical inputs). One window pass on the shared user partitioning,
    one user-keyed moment aggregate; the CV is Welford-free because the
    two-moment form is exact here.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.withColumn("prev_ts", F.lag("ts").over(w)).select(
        "user_id",
        F.expr("timestampdiff(MICROSECOND, prev_ts, ts)").alias("g"),
    ).where(F.col("g").isNotNull())
    gd = F.col("g").cast("decimal(38,0)")
    stats = gaps.groupBy("user_id").agg(
        F.count("g").alias("n"),
        F.sum(gd).alias("sx"),
        F.sum(gd * gd).alias("sxx"),
    ).where(F.col("n") >= 5)
    n, sx, sxx = F.col("n"), F.col("sx").cast("double"), F.col("sxx").cast("double")
    cv = F.sqrt(F.greatest(n * sxx - sx * sx, F.lit(0.0))) / sx
    return stats.select(
        "user_id",
        F.col("n").cast("bigint").alias("n_gaps"),
        F.round(sx / n / 1e6, 4).alias("mean_gap_s"),
        F.round(cv, 4).alias("gap_cv"),
        F.when((n >= 20) & (cv < 0.3), 1).otherwise(0).alias("bot_flag"),
    )


# ---------------------------------------------------------------------------
# Value concentration — Gini coefficient over per-user spend.
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
WITH per_user AS (
  SELECT user_id, sum(cast(value AS DECIMAL(18,2))) AS x
  FROM events GROUP BY user_id
), ranked AS (
  SELECT x, row_number() OVER (ORDER BY x, user_id) AS i, count(*) OVER () AS n
  FROM per_user
)
SELECT cast(max(n) AS BIGINT) AS n_users,
       round(cast(sum(cast(x AS DOUBLE)) AS DOUBLE), 2) AS total_value,
       round(2.0 * sum(i * cast(x AS DOUBLE))
               / NULLIF(max(n) * sum(cast(x AS DOUBLE)), 0)
             - (max(n) + 1.0) / max(n), 4) AS gini
FROM ranked
"""


@register("events_value_gini", oracle=_GINI_ORACLE, tags=("events", "stats", "inequality"))
def events_value_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event value — the concentration
    number behind "whales vs long tail": 0 = uniform spend, →1 = one
    user carries everything. Computed by the exact sorted formula
    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n with a total order (value, user_id).

    Per-user sums run in DECIMAL(18,2) (exact, order-free); the rank
    window is a global sort of the PER-USER frame — |users| rows, not
    events (at 100 TB users still fit a few executors; if not, the
    distributed Gini via the Lorenz-curve trapezoid over range-
    partitioned prefix sums is the documented split). The i·x products
    are exact integers times 2-decimal values — summed as doubles they
    stay well under 2^53 relative precision for the 4-decimal output.
    """
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("x")
    )
    w = Window.orderBy("x", "user_id")
    ranked = per_user.select(
        F.col("x").cast("double").alias("xd"),
        F.row_number().over(w).alias("i"),
    )
    # count(*) via a plain agg: rank frame already materializes all rows
    # all-zero-value guard: sum(xd) == 0 makes the Lorenz divisor zero —
    # NULL gini (mirrored by the oracle's NULLIF), never a job abort or inf
    gini = F.when(
        F.sum("xd") != 0,
        F.round(
            2.0 * F.sum(F.col("i") * F.col("xd")) / (F.count(F.lit(1)) * F.sum("xd"))
            - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
            4,
        ),
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.round(F.sum("xd"), 2).alias("total_value"),
        gini.alias("gini"),
    )


@register("events_value_gini_ranged", oracle=_GINI_ORACLE, tags=("events", "stats", "inequality", "scale"))
def events_value_gini_ranged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale form of ``events_value_gini`` — identical output and oracle,
    no global sort. The exact twin ranks the per-user frame through an
    unpartitioned row_number window (one task holds every user); here the
    rank i comes from functions/ranks.py::with_global_rank
    (repartitionByRange on the (x, user_id) total order + per-partition
    row_number + broadcast offsets), and G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n
    reduces to one ordinary agg over the ranked frame — partial-aggregated
    map-side like any sum. This is the Lorenz/trapezoid split the exact
    twin's docstring promises: at 100 TB the heavy frame only ever moves
    through the range shuffle.
    """
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("x")
    )
    from live_data_spark.functions.ranks import with_global_rank

    ranked = with_global_rank(
        per_user, [F.col("x").asc(), F.col("user_id").asc()], rank_col="i"
    ).select(F.col("x").cast("double").alias("xd"), "i")
    # all-zero-value guard: sum(xd) == 0 makes the Lorenz divisor zero —
    # NULL gini (mirrored by the oracle's NULLIF), never a job abort or inf
    gini = F.when(
        F.sum("xd") != 0,
        F.round(
            2.0 * F.sum(F.col("i") * F.col("xd")) / (F.count(F.lit(1)) * F.sum("xd"))
            - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
            4,
        ),
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.round(F.sum("xd"), 2).alias("total_value"),
        gini.alias("gini"),
    )


# ---------------------------------------------------------------------------
# Audience overlap — Jaccard similarity between event-type user sets.
# ---------------------------------------------------------------------------

_TYPE_JACCARD_ORACLE = """
WITH tu AS (
  SELECT DISTINCT event_type, user_id FROM events
), sizes AS (
  SELECT event_type, count(*) AS c FROM tu GROUP BY event_type
), inter AS (
  SELECT a.event_type AS type_1, b.event_type AS type_2, count(*) AS n_common
  FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT i.type_1, i.type_2, i.n_common,
       round(i.n_common / cast(s1.c + s2.c - i.n_common AS DOUBLE), 4) AS jaccard
FROM inter i
JOIN sizes s1 ON s1.event_type = i.type_1
JOIN sizes s2 ON s2.event_type = i.type_2
"""


@register("events_type_audience_jaccard", oracle=_TYPE_JACCARD_ORACLE, tags=("events", "setop"))
def events_type_audience_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event types: Jaccard of the user sets
    behind each pair of types — the "do clickers also purchase"
    set-similarity readout, same inverted-index shape as the document
    dedup ladder but at the (type, user) grain.

    The distinct (type, user) frame is the only pass over events; the
    self-join is user-keyed with ≤|types| rows per user (bounded
    fan-out); set sizes broadcast onto the ≤|types|² pair table.
    """
    e = load(spark, sf_dir, "events")
    tu = e.select("event_type", "user_id").distinct()
    sizes = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a, b = tu.alias("a"), tu.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_1"), F.col("b.event_type").alias("type_2")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    s1 = sizes.select(F.col("event_type").alias("type_1"), F.col("c").alias("c1"))
    s2 = sizes.select(F.col("event_type").alias("type_2"), F.col("c").alias("c2"))
    return (
        inter.join(F.broadcast(s1), "type_1")
        .join(F.broadcast(s2), "type_2")
        .select(
            "type_1",
            "type_2",
            "n_common",
            F.round(
                F.col("n_common") / (F.col("c1") + F.col("c2") - F.col("n_common")).cast("double"),
                4,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Distribution drift — population stability index between event cohorts.
# ---------------------------------------------------------------------------

PSI_BIN_W = 50.0  # fixed-width value bins; range 0..~500 → ~10 bins
PSI_Q = 100000000  # 1e-8 ln quantization (the surprisal recipe)

_PSI_ORACLE = f"""
WITH binned AS (
  SELECT event_type,
         cast(floor(value / {PSI_BIN_W}) AS BIGINT) AS bin,
         event_id % 2 = 0 AS is_base
  FROM events
), per_bin AS (
  SELECT event_type, bin,
         count(*) FILTER (WHERE is_base) AS cb,
         count(*) FILTER (WHERE NOT is_base) AS cc
  FROM binned GROUP BY 1, 2
), tot AS (
  SELECT event_type,
         sum(cb) AS nb, sum(cc) AS nc, count(*) AS n_bins
  FROM per_bin GROUP BY 1
), terms AS (
  SELECT p.event_type,
         (p.cb + 1.0) / (t.nb + t.n_bins) AS pp,
         (p.cc + 1.0) / (t.nc + t.n_bins) AS qq
  FROM per_bin p JOIN tot t USING (event_type)
)
SELECT e.event_type,
       cast(t.nb AS BIGINT) AS n_base, cast(t.nc AS BIGINT) AS n_current,
       round(sum(floor((e.pp - e.qq) * ln(e.pp / e.qq) * {PSI_Q} + 0.5)) / {PSI_Q}.0, 4) AS psi
FROM terms e JOIN tot t USING (event_type)
GROUP BY e.event_type, t.nb, t.nc
"""


@register("events_value_drift_psi", oracle=_PSI_ORACLE, tags=("events", "stats", "quality"))
def events_value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of the value distribution between two
    event cohorts, per type — the standard drift alarm for a continuously
    ingested table (PSI < 0.1 stable, 0.1–0.25 shifting, > 0.25 broken;
    this synthetic corpus sits near 0 by construction, which is itself
    the assertion). The cohort split here is the deterministic
    event_id parity so the oracle can replay it; a production run splits
    by time window (yesterday vs trailing month) with the identical plan.

    Binning is fixed-width (floor(value/50)) — engine-exact integer
    bins, no data-dependent percentile boundaries to disagree over —
    with add-one smoothing so an empty bin on one side contributes a
    finite term instead of ln(0). Per-bin ln terms quantize to 1e-8
    integers before the cross-bin sum (the surprisal recipe), so the
    4-decimal PSI is engine-exact. One scan, one (type, bin) hash agg
    (map-side combined), ~10-row-per-type frames after — drift
    monitoring at 100 TB costs one pass.
    """
    e = load(spark, sf_dir, "events")
    binned = e.select(
        "event_type",
        F.floor(F.col("value") / PSI_BIN_W).cast("bigint").alias("bin"),
        (F.col("event_id") % 2 == 0).alias("is_base"),
    )
    per_bin = binned.groupBy("event_type", "bin").agg(
        F.count(F.when(F.col("is_base"), 1)).alias("cb"),
        F.count(F.when(~F.col("is_base"), 1)).alias("cc"),
    )
    tot = per_bin.groupBy("event_type").agg(
        F.sum("cb").alias("nb"), F.sum("cc").alias("nc"), F.count(F.lit(1)).alias("n_bins")
    )
    terms = per_bin.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "nb",
        "nc",
        ((F.col("cb") + 1.0) / (F.col("nb") + F.col("n_bins"))).alias("pp"),
        ((F.col("cc") + 1.0) / (F.col("nc") + F.col("n_bins"))).alias("qq"),
    )
    q = F.floor(
        (F.col("pp") - F.col("qq")) * F.ln(F.col("pp") / F.col("qq")) * PSI_Q + 0.5
    )
    return terms.groupBy("event_type").agg(
        F.max("nb").cast("bigint").alias("n_base"),
        F.max("nc").cast("bigint").alias("n_current"),
        F.round(F.sum(q) / float(PSI_Q), 4).alias("psi"),
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: consecutive same-state runs per user.
# ---------------------------------------------------------------------------

_STATE_INTERVAL_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
       - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id)
         AS grp
  FROM events
)
SELECT user_id, event_type,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS run_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS run_end,
       count(*) AS n_events
FROM seq GROUP BY user_id, event_type, grp
HAVING count(*) >= 2
"""


@register("events_state_intervals", oracle=_STATE_INTERVAL_ORACLE, tags=("events", "window"))
def events_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: collapse each user's CONSECUTIVE runs of the same
    event_type into [run_start, run_end] intervals — the SCD2-shaped
    "state history" rollup (tracking when an entity entered/left a state)
    that sessionization's time-gap rule can't express. Runs of one are
    noise at this granularity; the ≥2 filter keeps the interval table the
    audit-sized artifact a pipeline stores.

    Classic row_number-difference formulation: the global minus the
    per-state sequence number is constant exactly within a consecutive
    run. Both window specs and the final aggregate share the user_id
    hash partitioning, so the whole operator costs ONE shuffle; ties on
    ts break by event_id on both engines (the r01 sessionize lesson).
    """
    e = load(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    grp = F.row_number().over(w_all) - F.row_number().over(w_typ)
    return (
        e.withColumn("grp", grp)
        .groupBy("user_id", "event_type", "grp")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("run_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("run_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .where(F.col("n_events") >= 2)
        .drop("grp")
    )


# ---------------------------------------------------------------------------
# Daily-volume OLS trend — closed-form regression from integer sums.
# ---------------------------------------------------------------------------

_TREND_ORACLE = """
WITH daily AS (
  SELECT cast(date_diff('day', (SELECT min(cast(ts AS DATE)) FROM events),
                        cast(ts AS DATE)) AS BIGINT) AS x,
         cast(count(*) AS BIGINT) AS y
  FROM events GROUP BY cast(ts AS DATE)
), s AS (
  SELECT cast(count(*) AS BIGINT) AS n,
         cast(sum(x) AS BIGINT) AS sx, cast(sum(y) AS BIGINT) AS sy,
         cast(sum(x * y) AS BIGINT) AS sxy, cast(sum(x * x) AS BIGINT) AS sxx
  FROM daily
)
SELECT n AS n_days, sy AS total_events,
       round((n * sxy - sx * sy) / cast(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE), 6)
         AS slope_per_day,
       round((sy * sxx - sx * sxy) / cast(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE), 6)
         AS intercept
FROM s
"""


@register("events_daily_trend", oracle=_TREND_ORACLE, tags=("events", "agg"))
def events_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is traffic growing? OLS slope/intercept of daily event counts over
    the day index — closed-form regression computed from INTEGER sums
    (n, Σx, Σy, Σxy, Σx²), so both engines divide the same exact
    integers and the result is bit-identical with no quantization dance
    (the reason this avoids `regr_slope`: its internal accumulation
    order is engine-specific). Day index anchors at min(date) — a 1-row
    frame — so the slope is translation-invariant and the intercept is
    "fitted events on day 0". A single-day stream yields NULL slope
    (NULLIF), not an abort.

    Scale: daily rollup is one date-keyed aggregate (map-side combined);
    the sums reduce day rows to ONE row. The regression itself costs
    nothing — this is the cheapest trend detector that exists.
    """
    e = load(spark, sf_dir, "events").select(F.col("ts").cast("date").alias("d"))
    anchor = e.agg(F.min("d").alias("d0"))
    daily = (
        e.join(F.broadcast(anchor))
        .groupBy("d", "d0")
        .agg(F.count(F.lit(1)).alias("y"))
        .select(F.datediff("d", "d0").cast("bigint").alias("x"), "y")
    )
    s = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    safe_det = F.when(det != 0, det).cast("double")
    return s.select(
        F.col("n").alias("n_days"),
        F.col("sy").alias("total_events"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / safe_det, 6
        ).alias("slope_per_day"),
        F.round(
            (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")) / safe_det, 6
        ).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Clickstream path analysis — top session-opening event sequences.
# ---------------------------------------------------------------------------

_PATH_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), heads AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY rn) AS path,
         count(*) AS path_len
  FROM seq WHERE rn <= 3 GROUP BY user_id
)
SELECT path, cast(path_len AS INTEGER) AS path_len,
       count(*) AS n_users
FROM heads GROUP BY 1, 2
ORDER BY n_users DESC, path LIMIT 20
"""


@register("events_top_paths", oracle=_PATH_ORACLE, tags=("events", "session", "topk"))
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: the 20 most common 3-event OPENING sequences across
    users — the "how do journeys start" clickstream query (onboarding
    funnels, bot-pattern triage). Users with fewer than 3 events keep
    their shorter path, tagged with path_len so consumers can filter.

    One user_id-partitioned row_number (ties broken by event_id — the
    sessionize lesson), an ordered string_agg per user, then a path
    count with a TakeOrdered top-20 (count desc, path asc — total
    order). The row_number filter rn<=3 cuts the aggregation input to
    3 rows per user BEFORE the path shuffle, so the second aggregate is
    user-count-sized, not event-sized.
    """
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    heads = (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .groupBy("user_id")
        .agg(
            F.concat_ws(">", F.array_sort(F.collect_list(F.struct("rn", "event_type"))).getField("event_type")).alias("path"),
            F.count(F.lit(1)).cast("int").alias("path_len"),
        )
    )
    return (
        heads.groupBy("path", "path_len")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Time-decayed user value — recency-weighted LTV for sampling/priority.
# ---------------------------------------------------------------------------

DECAY_HALF_LIFE_DAYS = 14
_DECAY_Q = 1000000  # 1e-6 quantization of each decayed contribution

_DECAY_ORACLE = f"""
WITH anchor AS (SELECT max(cast(ts AS DATE)) AS d1 FROM events),
q AS (
  SELECT user_id,
         cast(floor(value * exp(-date_diff('day', cast(ts AS DATE), a.d1)
                                * ln(2) / {DECAY_HALF_LIFE_DAYS}.0)
                    * {_DECAY_Q} + 0.5) AS BIGINT) AS qv
  FROM events, anchor a
)
SELECT user_id,
       cast(count(*) AS BIGINT) AS n_events,
       round(sum(qv) / {_DECAY_Q}.0, 4) AS decayed_value
FROM q GROUP BY user_id
ORDER BY sum(qv) DESC, user_id LIMIT 50
"""


@register("events_decayed_user_value", oracle=_DECAY_ORACLE, tags=("events", "agg", "topk"))
def events_decayed_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 users by exponentially time-decayed value (14-day
    half-life) — the recency-weighted score behind priority sampling,
    churn triage, and replay weighting, where yesterday's activity
    should outweigh last month's. Each event's decayed contribution
    quantizes to a 1e-6 integer BEFORE the cross-row sum (the surprisal
    recipe: exp/ln outputs agree to far better than the quantum, and
    integer sums are order-free), so the ranking and the cut are
    engine-exact. Anchored at max(event date) — a 1-row frame — so the
    score is a pure function of the dataset, not of wall-clock.

    Scale: one 1-row anchor broadcast, one map-side-combined user
    aggregate, TakeOrdered top-50. The decay never needs state: it is
    recomputed from timestamps, which is why the batch form beats
    maintaining a decayed counter per user.
    """
    e = load(spark, sf_dir, "events")
    anchor = e.agg(F.max(F.col("ts").cast("date")).alias("d1"))
    q = (
        e.join(F.broadcast(anchor))
        .select(
            "user_id",
            F.floor(
                F.col("value")
                * F.exp(
                    -F.datediff("d1", F.col("ts").cast("date"))
                    * F.ln(F.lit(2.0))
                    / float(DECAY_HALF_LIFE_DAYS)
                )
                * _DECAY_Q
                + 0.5
            )
            .cast("bigint")
            .alias("qv"),
        )
    )
    return (
        q.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("qv").alias("sqv"))
        .orderBy(F.col("sqv").desc(), "user_id")
        .limit(50)
        .select(
            "user_id",
            "n_events",
            F.round(F.col("sqv") / float(_DECAY_Q), 4).alias("decayed_value"),
        )
    )


# ---------------------------------------------------------------------------
# EWMA spike detection — batch twin of the typed-state streaming monitor.
# ---------------------------------------------------------------------------


_EWMA_SPIKES_ORACLE = r"""
WITH per_user AS (
  SELECT user_id,
         list_sort(list(struct_pack(ts := ts, event_id := event_id, value := value))) AS evs
  FROM events GROUP BY user_id
), folded AS (
  SELECT user_id, len(evs) AS n_events,
         list_reduce(
           list_transform(evs, e -> [e.value, 0.0]),
           (acc, x) -> [0.3 * x[1] + 0.7 * acc[1],
                        acc[2] + CASE WHEN x[1] > 3.0 * acc[1] THEN 1.0 ELSE 0.0 END]
         ) AS st
  FROM per_user
)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
       CAST(st[2] AS BIGINT) AS n_alerts, round(st[1], 4) AS ewma_final
FROM folded WHERE st[2] >= 1.0 ORDER BY user_id
"""


@register(
    "events_ewma_spikes", oracle=_EWMA_SPIKES_ORACLE, tags=("events", "window", "streaming-twin")
)
def events_ewma_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``streaming/jobs.py::value_spike_monitor``: per-user
    EWMA (α=0.3) over events in (ts, event_id) order, alert when a value
    exceeds 3× the EWMA BEFORE it, seed value never alerts. Output is
    the per-user alert profile (users with ≥1 alert): n_events,
    n_alerts, final EWMA. This gives the typed-state streaming
    operator's semantics a driver-visible row (the streaming form needs
    protobuf, absent here; semantics are also pinned against a pure-
    Python replay in tests/test_streaming.py).

    Promoted from rows-only in r6: a sequential IEEE-double fold IS
    engine-reproducible when the oracle replays the exact operation
    sequence — DuckDB ``list_reduce`` left-folds with first-element
    seed, which equals Spark's NULL-init + first step, and
    ``0.3*x + 0.7*acc`` lowers to the same two multiplies + add in both
    engines (no FMA fusion on either side). Verified value-identical at
    sf0.001/0.01/0.1. Two DuckDB traps baked into the oracle's shape:
    lambda struct-field names resolve POSITIONALLY inside/around
    ``list_reduce`` (``acc.n_alerts`` silently read ``ewma``!) — the
    accumulator is a 2-element DOUBLE list indexed positionally instead;
    and bare decimal literals are DECIMAL, exact here only because each
    converts to the identical double before DOUBLE arithmetic.

    The fold is inherently sequential per user — but it runs
    ENTIRELY in the JVM as an ``aggregate`` HOF over the user's sorted
    event array (struct accumulator: ewma, alert count, seeded flag), so
    there is no Python anywhere and one user_id shuffle total. Bounded
    by max-events-per-user (same ceiling as every per-user window here,
    named per SCALE.md §4); a user that outgrows one array splits by
    time range with the EWMA carried across chunk boundaries — the fold
    is sequential, so chunks must chain, which is exactly the streaming
    monitor's micro-batch shape: at that scale run the streaming form.
    """
    from live_data_spark.streaming.jobs import SPIKE_ALPHA, SPIKE_FACTOR

    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))).alias("evs")
    )
    init = F.named_struct(
        F.lit("ewma"), F.lit(None).cast("double"),
        F.lit("n_alerts"), F.lit(0).cast("bigint"),
    )
    step = lambda acc, ev: F.named_struct(  # noqa: E731
        F.lit("ewma"),
        F.when(acc["ewma"].isNull(), ev["value"]).otherwise(
            SPIKE_ALPHA * ev["value"] + (1.0 - SPIKE_ALPHA) * acc["ewma"]
        ),
        F.lit("n_alerts"),
        acc["n_alerts"]
        + F.when(
            acc["ewma"].isNotNull() & (ev["value"] > SPIKE_FACTOR * acc["ewma"]), 1
        )
        .otherwise(0)
        .cast("bigint"),
    )
    folded = per_user.select(
        "user_id",
        F.size("evs").cast("bigint").alias("n_events"),
        F.aggregate("evs", init, step).alias("st"),
    )
    return (
        folded.where(F.col("st.n_alerts") >= 1)
        .select(
            "user_id",
            "n_events",
            F.col("st.n_alerts").alias("n_alerts"),
            F.round("st.ewma", 4).alias("ewma_final"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Interval union — total active time from overlapping activity windows.
# ---------------------------------------------------------------------------

ACTIVE_WINDOW_MS = 300_000  # each event opens a 5-minute activity window

_ACTIVE_ORACLE = f"""
WITH iv AS (
  SELECT user_id, event_id, epoch_ms(ts) AS s, epoch_ms(ts) + {ACTIVE_WINDOW_MS} AS e
  FROM events
), flagged AS (
  SELECT user_id, event_id, s, e,
         CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                OR s >= max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS is_new
  FROM iv
), islands AS (
  SELECT user_id, s, e,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY s, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
), merged AS (
  SELECT user_id, island, min(s) AS ms, max(e) AS me, count(*) AS n
  FROM islands GROUP BY user_id, island
)
SELECT user_id,
       cast(sum(n) AS BIGINT) AS n_events,
       cast(count(*) AS BIGINT) AS n_islands,
       cast(sum(me - ms) AS BIGINT) AS active_ms
FROM merged GROUP BY user_id
"""


@register("events_active_coverage", oracle=_ACTIVE_ORACLE, tags=("events", "window", "session"))
def events_active_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval UNION per user: every event opens a 5-minute activity
    window; overlapping windows merge and the total covered time is the
    user's active milliseconds — the engagement metric sessionization's
    event-gap rule approximates from the other direction (a union of
    fixed windows vs gaps between points). Classic sweep-line as
    windows: an interval starts a new island when it begins at/after
    the running max of prior interval ends; islands then aggregate.

    Engine-exact by integer arithmetic: epoch milliseconds (BIGINT on
    both engines) — no timestamp-difference double anywhere. One
    user_id hash partition serves both window specs AND both
    aggregations (the sessionize contract): one shuffle total.
    """
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ; the session is pinned UTC, so the NTZ→TZ cast
    # is epoch-identity and matches DuckDB's naive epoch_ms exactly
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    iv = e.select(
        "user_id",
        "event_id",
        ms.alias("s"),
        (ms + ACTIVE_WINDOW_MS).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "is_new",
        F.when(prev_end.isNull() | (F.col("s") >= prev_end), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me"), F.count(F.lit(1)).alias("n")
    )
    return merged.groupBy("user_id").agg(
        F.sum("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("me") - F.col("ms")).alias("active_ms"),
    )


# ---------------------------------------------------------------------------
# VARIANT props — semi-structured payloads without a declared schema.
# ---------------------------------------------------------------------------

_VARIANT_ORACLE = """
SELECT event_type,
       cast(count(k) AS BIGINT) AS n_with_k,
       cast(sum(k) AS BIGINT) AS sum_k,
       round(avg(k), 4) AS avg_k
FROM (
  SELECT event_type, cast(json_extract(props, '$.k') AS INTEGER) AS k
  FROM events
) GROUP BY event_type
"""


@register("events_variant_props", oracle=_VARIANT_ORACLE, tags=("events", "semi-structured"))
def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through Spark 4's VARIANT type:
    ``parse_json`` once into a binary variant, then typed
    ``variant_get`` extraction — the open-schema path for payloads
    whose shape drifts faster than a declared struct (the alternative
    tiers: ``get_json_object`` per-field re-parse, or ``from_json``
    with a frozen schema, both used elsewhere in this module).
    VARIANT parses each payload ONCE and stores a binary-encoded tree,
    so N field extractions don't re-tokenize the JSON N times — the
    at-scale reason the type exists; parquet can persist the column for
    schema-on-read tables.

    Oracle-exact: the extracted field is integer-typed on both engines;
    the avg is an exact-integer-sum ratio rounded identically.
    """
    e = load(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
    )


# ---------------------------------------------------------------------------
# Benford leading-digit audit — distributional fraud/quality signal.
# ---------------------------------------------------------------------------

_BENFORD_Q = 100000000

_BENFORD_ORACLE = f"""
WITH d AS (
  SELECT cast(substr(cast(cast(floor(value) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM events WHERE value >= 1
), c AS (
  SELECT digit, count(*) AS n FROM d GROUP BY digit
), t AS (SELECT sum(n) AS total FROM c)
SELECT c.digit, cast(c.n AS BIGINT) AS n,
       round(c.n / cast(t.total AS DOUBLE), 4) AS observed_share,
       round(ln(1.0 + 1.0 / c.digit) / ln(10.0), 4) AS benford_share,
       cast(floor((c.n / cast(t.total AS DOUBLE)
                   - ln(1.0 + 1.0 / c.digit) / ln(10.0)) * {_BENFORD_Q} + 0.5) AS BIGINT)
         AS deviation_q
FROM c, t ORDER BY c.digit
"""


@register("events_benford_digits", oracle=_BENFORD_ORACLE, tags=("events", "quality", "agg"))
def events_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law leading-digit audit of event values: observed vs
    expected log10(1+1/d) share per digit — the classic screen for
    fabricated or unit-mixed numeric columns (organic multiplicative
    data follows Benford; uniform synthetic data, like this testdata,
    deviates visibly — the HONEST result here, and exactly what the
    audit exists to flag). Values < 1 are excluded (no stable leading
    digit).

    One map-side-combined 9-group aggregate; the deviation is quantized
    to a 1e-8 integer so the ln-based expectation compares engine-exact
    (the surprisal recipe). Leading digit extracted by INTEGER
    stringification — no float formatting anywhere.
    """
    e = load(spark, sf_dir, "events").where(F.col("value") >= 1)
    digit = F.substring(F.floor("value").cast("bigint").cast("string"), 1, 1).cast("int")
    c = e.select(digit.alias("digit")).groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    share = F.col("n") / F.col("total").cast("double")
    benford = F.ln(1.0 + 1.0 / F.col("digit")) / F.ln(F.lit(10.0))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n",
            F.round(share, 4).alias("observed_share"),
            F.round(benford, 4).alias("benford_share"),
            F.floor((share - benford) * _BENFORD_Q + 0.5)
            .cast("bigint")
            .alias("deviation_q"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# Incremental rollup maintenance — late data recomputes only touched hours.
# ---------------------------------------------------------------------------


def incremental_rollup_update(
    spark: SparkSession,
    events_dir: str,
    rollup_dir: str,
    late: DataFrame,
) -> list[str]:
    """Apply a late-arriving event batch to a materialized hourly rollup
    by recomputing ONLY the touched hours — the maintenance pattern that
    keeps a 100 TB rollup current without re-aggregating history (the
    late batch is GBs; the fact table is not). Non-additive aggregates
    (count DISTINCT here) make delta-merging wrong by construction, so
    the correct unit of repair is the GROUP: append the late rows to the
    hour-partitioned fact, re-aggregate just the touched hours'
    partitions (partition-pruned scan — pinned in tests), and swap those
    groups in the rollup store. Returns the touched hour keys.

    Both stores are plain parquet here (hive-partitioned fact by
    ``hour``); on an ACID table the swap is a partition-overwrite /
    MERGE with the same plan shape.
    """
    from pyspark.sql import functions as SF

    hour = SF.date_format(SF.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
    late_h = late.withColumn("hour", hour)
    touched = [r["hour"] for r in late_h.select("hour").distinct().collect()]
    # 1. land the late rows into the fact (append to touched partitions)
    late_h.write.mode("append").partitionBy("hour").parquet(events_dir)
    # 2. re-aggregate ONLY the touched hours (pruned scan)
    fresh = hourly_rollup_of(
        spark.read.parquet(events_dir).where(SF.col("hour").isin(touched)).drop("hour")
    )
    # 3. swap the touched groups in the rollup store (healing a swap a
    # prior repair may have left interrupted — the store then lives in
    # the backup dir and the read below would otherwise fail)
    from live_data_spark.sources.files import recover_swapped_dir, rewrite_parquet

    recover_swapped_dir(rollup_dir)
    kept = spark.read.parquet(rollup_dir).where(~SF.col("window_start").isin(touched))
    rewrite_parquet(kept.unionByName(fresh), rollup_dir)
    return touched


# ---------------------------------------------------------------------------
# Stickiness — DAU / trailing-30-day MAU per day.
# ---------------------------------------------------------------------------

_STICKINESS_ORACLE = """
WITH du AS (
  SELECT DISTINCT cast(ts AS DATE) AS d, user_id FROM events
), days AS (SELECT DISTINCT d AS anchor FROM du),
fan AS (
  SELECT du.d, du.user_id,
         unnest(generate_series(du.d, du.d + INTERVAL 29 DAY, INTERVAL 1 DAY)) AS anchor
  FROM du
), joined AS (
  SELECT f.d, f.user_id, cast(f.anchor AS DATE) AS anchor
  FROM fan f JOIN days ON cast(f.anchor AS DATE) = days.anchor
)
SELECT strftime(anchor, '%Y-%m-%d') AS day,
       count(DISTINCT CASE WHEN d = anchor THEN user_id END) AS dau,
       count(DISTINCT user_id) AS mau_30d,
       round(count(DISTINCT CASE WHEN d = anchor THEN user_id END)
             / cast(count(DISTINCT user_id) AS DOUBLE), 4) AS stickiness
FROM joined GROUP BY anchor
"""


@register("events_stickiness", oracle=_STICKINESS_ORACLE, tags=("events", "agg", "window"))
def events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-30-day MAU per day — the product-engagement
    stickiness ratio ("what fraction of the monthly audience shows up
    on a given day"). Same fan-out device as ``events_rolling_dau``
    (rolling DISTINCT has no window form and pre-aggregated DAU can't
    sum): the deduped (day, user) frame explodes to its 30 future
    anchors — exactly 30 rows per pair regardless of history length,
    hash-joined against the observed-day grid, never a range-condition
    nested loop — and the same two plain aggregates (per (anchor, user)
    ``today`` flag, then sum and row count per day), so no ``Expand``
    and one plan form. The HLL swap (mergeable per-day sketches, 30-way
    union) drops the fan-out at 100 TB when ±2% is acceptable, exactly
    as ``events_rolling_dau_hll`` demonstrates for the 7-day form.
    """
    e = load(spark, sf_dir, "events")
    du = e.select(F.to_date("ts").alias("d"), "user_id").distinct()
    days = du.select(F.col("d").alias("anchor")).distinct()
    fan = du.select(
        "d",
        "user_id",
        F.explode(F.sequence("d", F.date_add("d", 29))).alias("anchor"),
    )
    joined = fan.join(F.broadcast(days), "anchor")
    per_user = joined.groupBy("anchor", "user_id").agg(
        F.max((F.col("d") == F.col("anchor")).cast("int")).alias("today")
    )
    dau = F.sum("today")
    mau = F.count(F.lit(1))
    return per_user.groupBy(F.date_format("anchor", "yyyy-MM-dd").alias("day")).agg(
        dau.alias("dau"),
        mau.alias("mau_30d"),
        F.round(dau / mau.cast("double"), 4).alias("stickiness"),
    )


# ---------------------------------------------------------------------------
# Pareto cuts — what share of value the top-X% of users drive.
# ---------------------------------------------------------------------------

PARETO_CUTS = (1, 5, 10, 20, 50)

_PARETO_ORACLE = f"""
WITH uv AS (
  SELECT user_id, sum(cast(value AS DECIMAL(18,2))) AS v
  FROM events GROUP BY user_id
), ranked AS (
  SELECT v,
         row_number() OVER (ORDER BY v DESC, user_id) AS rn,
         sum(v) OVER (ORDER BY v DESC, user_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         count(*) OVER () AS n,
         sum(v) OVER () AS tot
  FROM uv
), cuts AS (SELECT unnest([{", ".join(str(c) for c in PARETO_CUTS)}]) AS pct)
SELECT c.pct AS top_pct,
       cast(max(CASE WHEN r.rn <= greatest(1, cast(floor(r.n * c.pct / 100.0) AS BIGINT))
                     THEN r.rn END) AS BIGINT) AS n_users,
       cast(max(CASE WHEN r.rn = greatest(1, cast(floor(r.n * c.pct / 100.0) AS BIGINT))
                     THEN round(r.cum / r.tot, 4) END) AS DOUBLE) AS value_share
FROM ranked r CROSS JOIN cuts c
GROUP BY c.pct
"""


@register("events_value_pareto", oracle=_PARETO_ORACLE, tags=("events", "agg", "window"))
def events_value_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration cut-points: the share of total event value
    driven by the top 1/5/10/20/50% of users — the "do whales dominate"
    readout the Gini coefficient compresses into one number, here kept
    as the curve points a capacity/abuse analysis actually consults.
    Value sums are exact DECIMAL; each cut reads the cumulative share at
    rank floor(n·pct/100) (min 1), rank-ordered with a user_id tiebreak
    so the cut row is engine-exact.

    The ranked frame is USER-sized (one aggregate over events first),
    so the ordering window runs over ~DAU rows, not events; at a scale
    where even users overflow one partition, the range-partitioned rank
    family (functions/ranks.py) is the documented swap-in.
    """
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    uv = e.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("v")
    )
    w = Window.orderBy(F.col("v").desc(), "user_id")
    ranked = uv.select(
        "v",
        F.row_number().over(w).alias("rn"),
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("cum"),
    ).crossJoin(
        F.broadcast(uv.agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("tot")))
    )
    cuts = local_frame(spark, [(c,) for c in PARETO_CUTS], "top_pct int")
    cut_rank = F.greatest(F.lit(1), F.floor(F.col("n") * F.col("top_pct") / 100.0).cast("bigint"))
    return (
        ranked.crossJoin(F.broadcast(cuts))
        .groupBy("top_pct")
        .agg(
            F.max(F.when(F.col("rn") <= cut_rank, F.col("rn"))).cast("bigint").alias("n_users"),
            F.max(
                F.when(F.col("rn") == cut_rank, F.round(F.col("cum") / F.col("tot"), 4))
            )
            .cast("double")
            .alias("value_share"),
        )
    )


# ---------------------------------------------------------------------------
# Peak burst detection — worst 15-minute error window per day.
# ---------------------------------------------------------------------------

_PEAK_BURST_ORACLE = """
WITH err AS (
  SELECT ts FROM events WHERE event_type = 'error'
), fan AS (
  SELECT unnest(generate_series(
           time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 10 MINUTE,
           time_bucket(INTERVAL 5 MINUTE, ts),
           INTERVAL 5 MINUTE)) AS ws
  FROM err
), win AS (
  SELECT ws, count(*) AS n FROM fan GROUP BY ws
), daily AS (
  SELECT cast(ws AS DATE) AS day, ws, n,
         row_number() OVER (PARTITION BY cast(ws AS DATE)
                            ORDER BY n DESC, ws) AS rn
  FROM win
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       strftime(ws, '%Y-%m-%d %H:%M:%S') AS peak_window_start,
       cast(n AS BIGINT) AS peak_errors
FROM daily WHERE rn = 1
"""


@register("events_peak_error_burst", oracle=_PEAK_BURST_ORACLE, tags=("events", "window", "quality"))
def events_peak_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The worst 15-minute error burst per day (sliding 5-minute stride):
    incident triage's first question — not "how many errors today" but
    "how bad was the worst quarter hour". Each error fans out to the 3
    overlapping windows that contain it (the events_sliding_rollup
    device: exact bounded fan-out, never a range-condition nested
    loop), windows aggregate, and the per-day argmax takes the earliest
    window on ties (deterministic on both engines).

    Shape: error-filtered scan (predicate pushdown) → 3× fan-out → one
    window-keyed aggregate → a day-partitioned top-1. Peak state is
    day-count sized.
    """
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events").where(F.col("event_type") == "error")
    bucket = (F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 300) * 300).cast(
        "timestamp"
    )
    fan = e.select(
        F.explode(
            F.sequence(
                bucket - F.expr("INTERVAL 10 MINUTES"),
                bucket,
                F.expr("INTERVAL 5 MINUTES"),
            )
        ).alias("ws")
    )
    win = fan.groupBy("ws").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy(F.col("ws").cast("date")).orderBy(F.col("n").desc(), "ws")
    return (
        win.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.date_format(F.col("ws").cast("date"), "yyyy-MM-dd").alias("day"),
            F.date_format("ws", "yyyy-MM-dd HH:mm:ss").alias("peak_window_start"),
            F.col("n").alias("peak_errors"),
        )
    )


# ---------------------------------------------------------------------------
# Session depth distribution — engagement histogram over session lengths.
# ---------------------------------------------------------------------------

_SESSION_DEPTH_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   > 1800000
              THEN 1 ELSE 0 END AS is_new
  FROM events
), sessions AS (
  SELECT user_id,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
), depth AS (
  SELECT count(*) AS n_events FROM sessions GROUP BY user_id, session_seq
), b AS (
  SELECT CASE WHEN n_events = 1 THEN '01'
              WHEN n_events <= 3 THEN '02-03'
              WHEN n_events <= 10 THEN '04-10'
              WHEN n_events <= 30 THEN '11-30'
              ELSE '31+' END AS depth_bucket,
         n_events
  FROM depth
), tot AS (SELECT count(*) AS t FROM b)
SELECT b.depth_bucket,
       count(*) AS n_sessions,
       cast(sum(b.n_events) AS BIGINT) AS n_events,
       round(count(*) / cast(tot.t AS DOUBLE), 4) AS session_share
FROM b, tot GROUP BY b.depth_bucket, tot.t
"""


@register("events_session_depth", oracle=_SESSION_DEPTH_ORACLE, tags=("events", "session", "agg"))
def events_session_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-depth histogram: how many sessions are bounces (1 event),
    short visits, or deep engagements — the distribution behind every
    bounce-rate/engagement dashboard, bucketed on fixed boundaries so
    cross-period comparisons are stable. Sessionization is the shared
    30-minute-gap rule (``events_sessionize``'s lag → flag → running
    sum, ties broken by event_id; the gap compares EPOCH MILLISECONDS —
    integer on both engines).

    One user_id shuffle covers both window passes and the per-session
    rollup; the bucket aggregate is 5 rows.
    """
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | ((ms - F.unix_millis(F.lag("ts").over(w).cast("timestamp"))) > 1800000),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sessions = flagged.withColumn(
        "session_seq",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    depth = sessions.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    bucket = (
        F.when(F.col("n_events") == 1, "01")
        .when(F.col("n_events") <= 3, "02-03")
        .when(F.col("n_events") <= 10, "04-10")
        .when(F.col("n_events") <= 30, "11-30")
        .otherwise("31+")
    )
    b = depth.select(bucket.alias("depth_bucket"), "n_events")
    tot = b.agg(F.count(F.lit(1)).alias("t"))
    return (
        b.crossJoin(F.broadcast(tot))
        .groupBy("depth_bucket", "t")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.round(F.count(F.lit(1)) / F.col("t").cast("double"), 4).alias("session_share"),
        )
        .drop("t")
    )


# ---------------------------------------------------------------------------
# New vs returning — daily activity split by first-seen date.
# ---------------------------------------------------------------------------

_NEW_RETURNING_ORACLE = """
WITH first_seen AS (
  SELECT user_id, min(cast(ts AS DATE)) AS d0 FROM events GROUP BY user_id
), tagged AS (
  SELECT cast(e.ts AS DATE) AS day,
         CASE WHEN cast(e.ts AS DATE) = f.d0 THEN 1 ELSE 0 END AS is_new,
         e.user_id
  FROM events e JOIN first_seen f ON e.user_id = f.user_id
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       count(DISTINCT CASE WHEN is_new = 1 THEN user_id END) AS new_users,
       count(DISTINCT CASE WHEN is_new = 0 THEN user_id END) AS returning_users,
       cast(sum(is_new) AS BIGINT) AS new_user_events,
       cast(count(*) - sum(is_new) AS BIGINT) AS returning_events
FROM tagged GROUP BY day
"""


@register("events_new_vs_returning", oracle=_NEW_RETURNING_ORACLE, tags=("events", "agg"))
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The growth dashboard's first split: per day, users (and events)
    from people seen for the FIRST time that day vs returners — what
    separates an acquisition spike from an engagement change when the
    DAU line moves. A user's first-seen date is a per-user min (map-side
    combined, user-count sized) joined back onto events; the day rollup
    is calendar-sized. All classification is exact date equality.

    Two plain aggregates instead of two ``COUNT(DISTINCT ...)``: events
    first collapse to one row per (day, user) with its event count, and
    ``is_new`` is constant within that row — a user is new on exactly
    one day — so the day rollup sums rows instead of counting distinct
    users. No ``Expand``, so the plan has one form build to build.
    """
    e = load(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))
    user_days = (
        e.join(first, "user_id")
        .groupBy(
            F.to_date("ts").alias("day"),
            "user_id",
            (F.to_date("ts") == F.col("d0")).cast("int").alias("is_new"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    returning = 1 - F.col("is_new")
    return user_days.groupBy(F.date_format("day", "yyyy-MM-dd").alias("day")).agg(
        F.sum("is_new").alias("new_users"),
        F.sum(returning).alias("returning_users"),
        F.sum(F.col("n") * F.col("is_new")).alias("new_user_events"),
        F.sum(F.col("n") * returning).alias("returning_events"),
    )


# ---------------------------------------------------------------------------
# Load factor — peak-to-mean hourly traffic, the capacity-planning number.
# ---------------------------------------------------------------------------

_LOAD_FACTOR_ORACLE = """
WITH hourly AS (
  SELECT cast(ts AS DATE) AS day, date_trunc('hour', ts) AS h, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       cast(count(*) AS BIGINT) AS active_hours,
       cast(sum(n) AS BIGINT) AS total_events,
       cast(max(n) AS BIGINT) AS peak_hour_events,
       round(max(n) * count(*) / cast(sum(n) AS DOUBLE), 4) AS load_factor
FROM hourly GROUP BY day
"""


@register("events_hourly_load_factor", oracle=_LOAD_FACTOR_ORACLE, tags=("events", "agg"))
def events_hourly_load_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-to-mean hourly load per day — THE capacity-planning number
    (provision for the peak, pay for the mean; a load factor near 1
    means steady traffic, high values mean bursty traffic that wants
    autoscaling or smoothing). Two nested integer aggregates: hourly
    counts (map-side combined), then a day rollup whose ratio divides
    exact integers.
    """
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.to_date("ts").alias("day"), F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    return hourly.groupBy(F.date_format("day", "yyyy-MM-dd").alias("day")).agg(
        F.count(F.lit(1)).alias("active_hours"),
        F.sum("n").alias("total_events"),
        F.max("n").alias("peak_hour_events"),
        F.round(
            F.max("n") * F.count(F.lit(1)) / F.sum("n").cast("double"), 4
        ).alias("load_factor"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch — mergeable point-query counts, fully oracle-checked.
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 256  # small on purpose: collisions are visible at checked SFs


def _cms_depths(spark: SparkSession) -> DataFrame:
    return spark.range(CMS_DEPTH).select(F.col("id").cast("int").alias("d"))


def _cms_bucket(d, uid):
    """Engine-portable CMS bucket: md5('d:uid') 8-hex prefix mod W — the
    same expression the DuckDB oracle evaluates, so sketches built by
    either engine (or merged across both) are cell-identical."""
    return F.conv(
        F.substring(F.md5(F.concat_ws(":", d, uid)), 1, 8), 16, 10
    ).cast("long") % CMS_WIDTH


def cms_cells(e: DataFrame) -> DataFrame:
    """(d, bucket, c) cell counts for a slice of events — ONE ×D-fan-out
    aggregate into ≤D·W rows. Cells from disjoint slices ADD: union +
    re-sum is the merge, which is what makes the sketch shard-, batch-,
    and engine-mergeable (the streaming twin in jobs.py relies on it)."""
    return (
        e.select(F.col("user_id").cast("string").alias("uid"))
        .crossJoin(F.broadcast(_cms_depths(e.sparkSession)))
        .groupBy("d", _cms_bucket(F.col("d"), F.col("uid")).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )

_CMS_ORACLE = f"""
WITH ev AS (
  SELECT cast(user_id AS VARCHAR) AS uid, user_id FROM events
), cells AS (
  SELECT d.d,
         cast(('0x' || substr(md5(d.d || ':' || uid), 1, 8)) AS BIGINT) % {CMS_WIDTH} AS bucket,
         count(*) AS c
  FROM ev CROSS JOIN (SELECT unnest(generate_series(0, {CMS_DEPTH - 1})) AS d) d
  GROUP BY 1, 2
), exact AS (
  SELECT user_id, count(*) AS exact_n FROM events GROUP BY 1
  ORDER BY exact_n DESC, user_id LIMIT 20
), est AS (
  SELECT e.user_id, e.exact_n, min(c.c) AS cms_est
  FROM exact e
  JOIN (SELECT unnest(generate_series(0, {CMS_DEPTH - 1})) AS d) d ON TRUE
  JOIN cells c
    ON c.d = d.d
   AND c.bucket = cast(('0x' || substr(md5(d.d || ':' || cast(e.user_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % {CMS_WIDTH}
  GROUP BY e.user_id, e.exact_n
)
SELECT user_id, cast(exact_n AS BIGINT) AS exact_n,
       cast(cms_est AS BIGINT) AS cms_est,
       cast(cms_est - exact_n AS BIGINT) AS overestimate
FROM est
"""


@register("events_countmin_user_counts", oracle=_CMS_ORACLE, tags=("events", "sketch"))
def events_countmin_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point queries for the top-20 users, checked
    against their exact counts — the mergeable sketch family's point-
    query member (SpaceSaving answers "who is heavy", HLL "how many
    distinct", quantile sketch "where is p99"; CMS answers "how many of
    THIS key" in D·W bounded state). The sketch is deliberately small
    (4×256) so hash collisions actually happen at the checked SFs and
    the ``overestimate`` column shows the one-sided error the structure
    guarantees: est ≥ true always, est ≤ true + e/W·N with prob 1−e^−D.

    Everything is relational and engine-portable: bucket =
    md5(depth:uid)-prefix mod W (the md5→hex→int recipe both engines
    compute identically), the sketch is ONE ×D-fan-out aggregate into
    ≤D·W cells (mergeable by construction — cells ADD across shards/
    batches, same as the streaming SpaceSaving state), and point queries
    broadcast-join the 20-row query set against the cell table. The
    DuckDB oracle rebuilds the identical sketch, so even the collision
    pattern is hash-checked — no rows-only weakening.
    """
    e = load(spark, sf_dir, "events")
    depths = _cms_depths(spark)
    bucket = _cms_bucket
    cells = cms_cells(e)
    exact = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "user_id")
        .limit(20)
    )
    probes = exact.crossJoin(F.broadcast(depths)).select(
        "user_id",
        "exact_n",
        "d",
        bucket(F.col("d"), F.col("user_id").cast("string")).alias("bucket"),
    )
    return (
        probes.join(cells, ["d", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").alias("cms_est"))
        .select(
            "user_id",
            F.col("exact_n").cast("bigint").alias("exact_n"),
            F.col("cms_est").cast("bigint").alias("cms_est"),
            (F.col("cms_est") - F.col("exact_n")).cast("bigint").alias("overestimate"),
        )
    )


# ---------------------------------------------------------------------------
# Health digest — the monitoring dashboard's numbers in ONE scan.
# ---------------------------------------------------------------------------

_DIGEST_ORACLE = """
WITH s AS (
  SELECT cast(count(*) AS DOUBLE) AS n_events,
         cast(count(DISTINCT user_id) AS DOUBLE) AS n_users,
         round(count(CASE WHEN event_type = 'error' THEN 1 END)
               / NULLIF(cast(count(*) AS DOUBLE), 0), 6) AS error_rate,
         round(quantile_cont(value, 0.99), 4) AS p99_value,
         round(sum(value) / NULLIF(cast(count(*) AS DOUBLE), 0), 4) AS mean_value,
         cast(count(DISTINCT cast(ts AS DATE)) AS DOUBLE) AS n_days
  FROM events
)
SELECT metric, value FROM (
  SELECT 'n_events' AS metric, n_events AS value FROM s
  UNION ALL SELECT 'n_users', n_users FROM s
  UNION ALL SELECT 'error_rate', error_rate FROM s
  UNION ALL SELECT 'p99_value', p99_value FROM s
  UNION ALL SELECT 'mean_value', mean_value FROM s
  UNION ALL SELECT 'n_days', n_days FROM s
)
"""


@register("events_health_digest", oracle=_DIGEST_ORACLE, tags=("events", "agg", "pipeline"))
def events_health_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The monitoring dashboard's headline numbers — volume, reach,
    error rate, value tail and mean, coverage days — as (metric, value)
    rows from ONE scan: every figure is a conditional aggregate of the
    same pass (count / distinct / CASE-count / percentile), then a
    6-row ``stack`` unpivot. The single-scan shape is the point at
    100 TB: six dashboard tiles that each re-scan events cost six table
    reads; one fused aggregate costs one. mean_value divides the exact
    sum by the exact count (no avg() fp-order drift at 6 decimals).

    Empty events: one all-NULL/zero stats row still unpivots to 6
    defined rows (count(*)=0, NULL percentiles) — no abort.
    """
    e = load(spark, sf_dir, "events")
    s = e.agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.countDistinct("user_id").cast("double").alias("n_users"),
        # NULLIF guards: zero-row input makes count(*) a non-null 0 and
        # ANSI mode aborts the division (the k-anonymity lesson)
        F.round(
            F.count(F.when(F.col("event_type") == "error", 1))
            / F.nullif(F.count(F.lit(1)).cast("double"), F.lit(0.0)),
            6,
        ).alias("error_rate"),
        F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99_value"),
        F.round(
            F.sum("value") / F.nullif(F.count(F.lit(1)).cast("double"), F.lit(0.0)), 4
        ).alias("mean_value"),
        F.countDistinct(F.col("ts").cast("date")).cast("double").alias("n_days"),
    )
    return s.select(
        F.expr(
            "stack(6, 'n_events', n_events, 'n_users', n_users,"
            " 'error_rate', error_rate, 'p99_value', p99_value,"
            " 'mean_value', mean_value, 'n_days', n_days) AS (metric, value)"
        )
    )


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing — level+trend forecast over the hourly series.
# ---------------------------------------------------------------------------

HOLT_ALPHA = 0.3  # level smoothing
HOLT_BETA = 0.1  # trend smoothing

def _hourly_xs(e: DataFrame) -> DataFrame:
    """(event_type, xs) with xs the GAP-FILLED hourly count series as a
    sorted double array — the shared input of every smoothing fold
    (Holt, Holt–Winters, the backtest). One definition so a change to
    the gap-fill rule can never desynchronize the backtest from the
    operators it ranks; the heavy side is one map-side-combined hourly
    hash aggregate, the fold length |hours|×|types| regardless of
    volume.

    r12 rewrite (guide §2.4), r13 honest re-measurement: bounds and the
    type list both derive from the hourly-count aggregate — ``min(h)``
    over truncated hours equals ``date_trunc('hour', min(ts))`` by
    monotonicity, and the distinct types are the aggregate's own keys.
    Catalyst specializes each consumer again (RemoveRedundantAggregates
    + pruning), and the r13 audit against a plan captured from the r11
    tree shows the rewrite is PLAN-NEUTRAL: identical node-type counts
    (4 Exchange + 2 BroadcastExchange both sides) and the r11 scans
    were already single-column pruned. The r12 write-up's "6 → 4 exchanges /
    un-pruned distinct" claim was wrong, and its 1.19 → 0.92 s delta was
    host noise — the r13 interleaved A/B (one JVM, arms alternated,
    min-of-4 post-codegen) reads old 0.628 s vs new 0.658 s: equal
    within jitter. Kept because it is semantically identical (values
    verified row-identical in the same A/B; oracle green) and expresses
    the derivation without re-stating the bounds/type queries, not for
    a measured win."""
    counts = e.groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    bounds = counts.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    types = counts.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("h"),
        "event_type",
    )
    series = grid.join(F.broadcast(counts), ["h", "event_type"], "left").select(
        "event_type", "h", F.coalesce(F.col("n"), F.lit(0)).cast("double").alias("x")
    )
    return series.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("h", "x"))), lambda s: s["x"]
        ).alias("xs")
    )


def _holt_init_step():
    """(init, step) for the Holt level+trend fold — the ONE definition of
    the recurrence, shared by events_holt_trend and the backtest (each
    model must be scored by exactly the recurrence it ships)."""
    a, b = F.lit(HOLT_ALPHA), F.lit(1.0 - HOLT_ALPHA)
    g, d = F.lit(HOLT_BETA), F.lit(1.0 - HOLT_BETA)
    init = F.named_struct(
        F.lit("level"), F.lit(None).cast("double"),
        F.lit("trend"), F.lit(0.0),
        F.lit("errs"), F.lit(0.0),
    )

    def step(acc, x):
        level1 = a * x + b * (acc["level"] + acc["trend"])
        return F.when(
            acc["level"].isNull(),
            F.named_struct(
                F.lit("level"), x, F.lit("trend"), F.lit(0.0), F.lit("errs"), F.lit(0.0)
            ),
        ).otherwise(
            F.named_struct(
                F.lit("level"), level1,
                F.lit("trend"), g * (level1 - acc["level"]) + d * acc["trend"],
                F.lit("errs"), acc["errs"] + F.abs(x - (acc["level"] + acc["trend"])),
            )
        )

    return init, step


# The fold replays Spark's exact IEEE operation sequence (the
# events_ewma_spikes recipe): list_reduce seeds with the first
# transformed element ([x0, 0, 0] = level x0, trend 0, abs-err 0), and
# every arithmetic step is written as the identical expression tree on
# both engines. The accumulator is a positional DOUBLE list (DuckDB
# lambda struct fields resolve positionally — the documented trap).
_HOLT_ORACLE = f"""
WITH b AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM events
), t AS (
  SELECT DISTINCT event_type FROM events
), g AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
  FROM b CROSS JOIN t
), c AS (
  SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n FROM events GROUP BY 1, 2
), series AS (
  SELECT g.event_type, g.h, CAST(coalesce(c.n, 0) AS DOUBLE) AS x
  FROM g LEFT JOIN c ON c.h = g.h AND c.event_type = g.event_type
), arr AS (
  SELECT event_type,
         list_transform(list_sort(list(struct_pack(h := h, x := x))),
                        s -> [s.x, 0.0, 0.0]) AS xs
  FROM series GROUP BY event_type
), folded AS (
  SELECT event_type, len(xs) AS n_hours,
         list_reduce(xs, (acc, e) -> [
           {HOLT_ALPHA} * e[1] + {1.0 - HOLT_ALPHA} * (acc[1] + acc[2]),
           {HOLT_BETA} * (({HOLT_ALPHA} * e[1] + {1.0 - HOLT_ALPHA} * (acc[1] + acc[2])) - acc[1])
             + {1.0 - HOLT_BETA} * acc[2],
           acc[3] + abs(e[1] - (acc[1] + acc[2]))
         ]) AS st
  FROM arr
)
SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours,
       round(st[1], 4) AS level_final,
       round(st[2], 4) AS trend_final,
       round(st[1] + st[2], 4) AS forecast_next,
       round(st[3] / NULLIF(n_hours - 1, 0), 4) AS mae
FROM folded ORDER BY event_type
"""


@register("events_holt_trend", oracle=_HOLT_ORACLE, tags=("events", "timeseries", "forecast"))
def events_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend, α=0.3 β=0.1)
    over each event type's gap-filled hourly count series: the classic
    short-horizon traffic forecaster (Holt 1957) that EWMA alone can't
    provide because a level-only smoother lags any ramp. Output per
    type: final level/trend, the next-hour forecast (level+trend), and
    the mean absolute one-step-ahead error — the capacity-planning
    number ("what does the next hour look like, and how wrong are we
    usually?").

    The series is densified first (zero-filled hours — the
    events_gapfill_hourly subtree) so the recurrence advances once per
    HOUR, not once per event: the fold's length is bounded by calendar
    hours × types, independent of event volume, which is what makes a
    sequential recurrence scale-safe at 100 TB (the heavy side remains
    one map-side-combined hash aggregate of the scan; the fold itself
    runs over a |hours|-long array per type).

    Engine-exactness: the fold is sequential in a deterministic order
    (sorted dense grid), seeded by the first element (Spark's NULL-init
    first step ≡ DuckDB list_reduce's first-element seed), and both
    sides evaluate the same double expression tree — so the driver row
    is an exact hash match, not a tolerance check. MAE divides by
    (n_hours − 1) with a NULLIF guard: a single-hour corpus yields NULL
    rather than an ANSI abort (empty-input contract).
    """
    arr = _hourly_xs(load(spark, sf_dir, "events"))
    init, step = _holt_init_step()
    folded = arr.select(
        "event_type",
        F.size("xs").cast("bigint").alias("n_hours"),
        F.aggregate("xs", init, step).alias("st"),
    )
    return folded.select(
        "event_type",
        "n_hours",
        F.round("st.level", 4).alias("level_final"),
        F.round("st.trend", 4).alias("trend_final"),
        F.round(F.col("st.level") + F.col("st.trend"), 4).alias("forecast_next"),
        F.round(
            F.col("st.errs") / F.nullif((F.col("n_hours") - 1).cast("double"), F.lit(0.0)), 4
        ).alias("mae"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Theil–Sen robust trend — median of pairwise slopes over the daily series.
# ---------------------------------------------------------------------------

_THEIL_SEN_ORACLE = """
WITH daily AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d, count(*) AS c
  FROM events GROUP BY 1
), pairs AS (
  SELECT (b.c - a.c) / CAST(b.d - a.d AS DOUBLE) AS slope
  FROM daily a JOIN daily b ON b.d > a.d
)
SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(median(slope), 6) AS slope_per_day
FROM pairs
"""


@register("events_theil_sen_trend", oracle=_THEIL_SEN_ORACLE, tags=("events", "timeseries", "robust"))
def events_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen trend of daily event volume: the median of all pairwise
    slopes (c_j−c_i)/(d_j−d_i) — the robust alternative to the OLS line
    in events_daily_trend (29% breakdown point: a third of the days can
    be outage zeros or spike days without moving the estimate, where
    least squares follows them). The pair this makes with
    events_daily_trend is the robust/classical twin pattern used for
    median/MAD vs mean/σ elsewhere in the catalog.

    The pairwise expansion is over the DAILY frame, which is calendar-
    bounded (a decade < 3.7k rows → <7M pairs), not over events — the
    same |days|/|hours|-bounded-frame argument as events_hourly_acf and
    events_changepoint_cusum, so the quadratic term is scale-FREE: at
    100 TB the only data-sized cost is the one map-side-combined daily
    count aggregate. Determinism: slopes are divisions of exact integer
    deltas (identical doubles on both engines); the median interpolates
    the two central order statistics of identical multisets.

    Empty events → zero daily rows → a single (0, 0, NULL) summary row
    on both engines (count aggregates over an empty pair set).
    """
    e = load(spark, sf_dir, "events")
    didx = F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 86400).cast("long")
    daily = e.select(didx.alias("d")).groupBy("d").agg(F.count(F.lit(1)).alias("c"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(F.broadcast(b), F.col("b.d") > F.col("a.d")).select(
        ((F.col("b.c") - F.col("a.c")) / (F.col("b.d") - F.col("a.d")).cast("double")).alias(
            "slope"
        )
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.median("slope"), 6).alias("slope_per_day"),
    ).crossJoin(F.broadcast(n_days)).select("n_days", "n_pairs", "slope_per_day")


# ---------------------------------------------------------------------------
# Entropy rate of the behavior chain — how predictable is the next action?
# ---------------------------------------------------------------------------

_ENTROPY_RATE_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
), pairs AS (
  SELECT cur, nxt, count(*) AS n FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
), marg AS (
  SELECT cur, sum(n) AS ni FROM pairs GROUP BY cur
), st AS (
  SELECT count(*) AS s FROM marg
), cells AS (
  SELECT p.n,
         CAST(floor(ln(p.n / CAST(m.ni AS DOUBLE)) * 100000000 + 0.5) AS BIGINT) AS q
  FROM pairs p JOIN marg m ON m.cur = p.cur
)
SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_transitions,
       CAST(st.s AS BIGINT) AS n_states,
       CAST(count(*) AS BIGINT) AS n_cells,
       round(-sum(n * q) / NULLIF(CAST(sum(n) AS DOUBLE), 0) / 100000000.0, 4)
         AS entropy_rate,
       CASE WHEN st.s > 1 THEN
         round(1 - (-sum(n * q) / NULLIF(CAST(sum(n) AS DOUBLE), 0) / 100000000.0)
                   / ln(CAST(st.s AS DOUBLE)), 4)
       END AS predictability
FROM cells CROSS JOIN st GROUP BY st.s
"""


@register("events_entropy_rate", oracle=_ENTROPY_RATE_ORACLE, tags=("events", "sequence", "infotheory"))
def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the first-order behavior chain: H = −Σ_ij (n_ij/N)
    · ln(n_ij/n_i) over the transition cells of events_type_markov — the
    information-theoretic "how predictable is the next action" number
    (0 = deterministic flows; ln|S| = uniform noise), reported with
    predictability = 1 − H/ln|S|. Drifts in H flag behavior-mix shifts
    (bot waves push it down; instrumentation noise pushes it up), making
    this the 1-row monitor over the Markov surface.

    Shares the Markov subtree: one lead() pass on the standard
    (user, ts, event_id) partitioning, then everything runs on the
    ≤|types|² cell frame. Per-cell ln is integer-quantized (1e-8)
    before the n-weighted sum (n·q stays far inside int64), so H is a
    pure function of engine-identical integers; ln|S| touches only the
    final rounded output, guarded for the single-state corpus.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("cur"), F.lead("event_type").over(w).alias("nxt")
    )
    pairs = (
        seq.where(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    marg = pairs.groupBy("cur").agg(F.sum("n").alias("ni"))
    st = marg.agg(F.count(F.lit(1)).alias("s"))
    cells = pairs.join(marg, "cur").select(
        "n",
        F.floor(F.ln(F.col("n") / F.col("ni").cast("double")) * 100000000 + 0.5)
        .cast("bigint")
        .alias("q"),
    )
    h = (
        -F.sum(F.col("n") * F.col("q"))
        / F.nullif(F.sum("n").cast("double"), F.lit(0.0))
        / 100000000.0
    )
    return (
        cells.crossJoin(F.broadcast(st))
        .groupBy("s")
        .agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_transitions"),
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.round(h, 4).alias("entropy_rate"),
            F.when(
                F.first("s") > 1,
                F.round(1 - h / F.ln(F.first("s").cast("double")), 4),
            ).alias("predictability"),
        )
        .select(
            "n_transitions",
            F.col("s").cast("bigint").alias("n_states"),
            "n_cells",
            "entropy_rate",
            "predictability",
        )
    )


# ---------------------------------------------------------------------------
# Holt–Winters — level + trend + 24h additive seasonality, still one fold.
# ---------------------------------------------------------------------------

HW_ALPHA = 0.3  # level
HW_BETA = 0.1  # trend
HW_GAMMA = 0.2  # seasonal
HW_PERIOD = 24  # diurnal cycle on the hourly series

# State layout (positional DOUBLE list, the list_reduce discipline):
# [1]=level, [2]=trend, [3]=abs-err sum, [4..27]=seasonal ring s1..s24,
# where s1 is ALWAYS the seasonal of the next arriving hour; each step
# rotates the ring. Seeds: level = mean of the first 24 hours, trend 0,
# s_i = x_i − level (the standard classical-decomposition warmup).
_HW_STEP = f"""[
  {HW_ALPHA} * (x[1] - acc[4]) + {1.0 - HW_ALPHA} * (acc[1] + acc[2]),
  {HW_BETA} * (({HW_ALPHA} * (x[1] - acc[4]) + {1.0 - HW_ALPHA} * (acc[1] + acc[2])) - acc[1])
    + {1.0 - HW_BETA} * acc[2],
  acc[3] + abs(x[1] - (acc[1] + acc[2] + acc[4]))
] || list_slice(acc, 5, 27) || [
  {HW_GAMMA} * (x[1] - ({HW_ALPHA} * (x[1] - acc[4]) + {1.0 - HW_ALPHA} * (acc[1] + acc[2])))
    + {1.0 - HW_GAMMA} * acc[4]
]"""

_HW_ORACLE = f"""
WITH b AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM events
), t AS (
  SELECT DISTINCT event_type FROM events
), g AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
  FROM b CROSS JOIN t
), c AS (
  SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n FROM events GROUP BY 1, 2
), arr AS (
  SELECT g.event_type,
         list_transform(list_sort(list(struct_pack(h := g.h, x := CAST(coalesce(c.n, 0) AS DOUBLE)))),
                        s -> s.x) AS xs
  FROM g LEFT JOIN c ON c.h = g.h AND c.event_type = g.event_type
  GROUP BY g.event_type
), seeded AS (
  SELECT event_type, xs, len(xs) AS n_hours,
         list_sum(list_slice(xs, 1, {HW_PERIOD})) / {HW_PERIOD}.0 AS l0
  FROM arr WHERE len(xs) >= {HW_PERIOD + 1}
), folded AS (
  SELECT event_type, n_hours,
         list_reduce(
           [[l0, 0.0, 0.0] || list_transform(list_slice(xs, 1, {HW_PERIOD}), v -> v - l0)]
             || list_transform(list_slice(xs, {HW_PERIOD + 1}, n_hours), v -> [v]),
           (acc, x) -> {_HW_STEP}
         ) AS st
  FROM seeded
)
SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours,
       round(st[1], 4) AS level_final,
       round(st[2], 4) AS trend_final,
       round(st[1] + st[2] + st[4], 4) AS forecast_next,
       round(st[3] / (n_hours - {HW_PERIOD}), 4) AS mae
FROM folded ORDER BY event_type
"""


def _hw_seeded(arr: DataFrame) -> DataFrame:
    """Classical Holt–Winters warmup over the (event_type, xs) frame:
    keep types with > one period of hours, carry n_hours and the
    first-period mean level seed l0."""
    P = HW_PERIOD
    return arr.where(F.size("xs") >= P + 1).select(
        "event_type",
        "xs",
        F.size("xs").cast("bigint").alias("n_hours"),
        (
            F.aggregate(F.slice("xs", 1, P), F.lit(0.0), lambda a, x: a + x)
            / float(P)
        ).alias("l0"),
    )


def _hw_init_step():
    """(init, step) for the Holt–Winters fold over the 27-double
    positional state [level, trend, err, s₁..s₂₄] — the ONE definition
    of the recurrence (and of which constants feed it), shared by
    events_holt_winters and the backtest: the backtest previously
    restated the step reading the HOLT constants, which only coincide
    with the HW ones today."""
    P = HW_PERIOD
    al, bl = F.lit(HW_ALPHA), F.lit(1.0 - HW_ALPHA)
    be, de = F.lit(HW_BETA), F.lit(1.0 - HW_BETA)
    ga, dg = F.lit(HW_GAMMA), F.lit(1.0 - HW_GAMMA)

    init = F.concat(
        F.array(F.col("l0"), F.lit(0.0), F.lit(0.0)),
        F.transform(F.slice("xs", 1, P), lambda v: v - F.col("l0")),
    )

    def step(acc, x):
        l, b, e_, s1 = (F.element_at(acc, i) for i in (1, 2, 3, 4))
        l1 = al * (x - s1) + bl * (l + b)
        return F.concat(
            F.array(
                l1,
                be * (l1 - l) + de * b,
                e_ + F.abs(x - (l + b + s1)),
            ),
            F.slice(acc, 5, P - 1),
            F.array(ga * (x - l1) + dg * s1),
        )

    return init, step


@register(
    "events_holt_winters",
    oracle=_HW_ORACLE,
    headline=True,  # bench-visible representative of the round-6 forecasting family
    tags=("events", "timeseries", "forecast"),
)
def events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt–Winters additive smoothing (level + trend + 24-hour seasonal
    ring, α=.3 β=.1 γ=.2) per event type over the gap-filled hourly
    series — the diurnal-aware forecaster events_holt_trend can't be
    (a level+trend model treats every morning ramp as trend change;
    the seasonal ring absorbs it). Output: final level/trend, the
    next-hour forecast level+trend+s_next, and the mean absolute
    one-step-ahead error over the post-warmup steps.

    Still ONE sequential fold, zero Python: the 27-double state vector
    [level, trend, err, s₁..s₂₄] rotates its seasonal ring each step so
    s₁ is always the next hour's seasonal — array surgery (slice ++
    append) that both Spark ``F.aggregate`` and DuckDB ``list_reduce``
    express over a positional DOUBLE list. Warmup is the classical seed
    (level = mean of the first day, s_i = x_i − level), computed outside
    the fold; types shorter than one full day are skipped. Engine
    exactness: the first-day mean is a sum of integer-valued doubles
    (order-free) and every fold step is the same expression tree on
    both engines — exact hash parity, like the Holt and EWMA folds.
    A pure-Python replay pins the HW recurrence itself.

    Scale: identical to events_holt_trend — the fold length is calendar
    hours × types (volume-independent); the data-sized cost is the one
    hourly hash aggregate.
    """
    P = HW_PERIOD
    seeded = _hw_seeded(_hourly_xs(load(spark, sf_dir, "events")))
    init, step = _hw_init_step()
    folded = seeded.select(
        "event_type",
        "n_hours",
        F.aggregate(
            F.slice("xs", P + 1, F.size("xs") - P), init, step
        ).alias("st"),
    )
    st = lambda i: F.element_at("st", i)  # noqa: E731
    return folded.select(
        "event_type",
        "n_hours",
        F.round(st(1), 4).alias("level_final"),
        F.round(st(2), 4).alias("trend_final"),
        F.round(st(1) + st(2) + st(4), 4).alias("forecast_next"),
        F.round(st(3) / (F.col("n_hours") - P), 4).alias("mae"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Growth accounting — new / retained / resurrected / churned users per week.
# ---------------------------------------------------------------------------

_GROWTH_ORACLE = """
WITH uw AS (
  SELECT DISTINCT user_id, CAST(floor(epoch(ts) / 604800) AS BIGINT) AS w
  FROM events
), seq AS (
  SELECT user_id, w,
         min(w)  OVER (PARTITION BY user_id) AS first_w,
         lag(w)  OVER (PARTITION BY user_id ORDER BY w) AS prev_w,
         lead(w) OVER (PARTITION BY user_id ORDER BY w) AS next_w
  FROM uw
), active AS (
  SELECT w,
         count(CASE WHEN w = first_w THEN 1 END) AS n_new,
         count(CASE WHEN prev_w = w - 1 THEN 1 END) AS n_retained,
         count(CASE WHEN prev_w IS NOT NULL AND prev_w < w - 1 THEN 1 END) AS n_resurrected
  FROM seq GROUP BY w
), churn AS (
  SELECT w + 1 AS w, count(*) AS n_churned
  FROM seq WHERE next_w IS NULL OR next_w > w + 1
  GROUP BY w + 1
), mx AS (
  SELECT max(w) AS maxw FROM uw
)
SELECT a.w - (SELECT min(w) FROM uw) AS week,
       CAST(a.n_new AS BIGINT) AS n_new,
       CAST(a.n_retained AS BIGINT) AS n_retained,
       CAST(a.n_resurrected AS BIGINT) AS n_resurrected,
       CAST(coalesce(c.n_churned, 0) AS BIGINT) AS n_churned,
       round((a.n_new + a.n_resurrected)
             / NULLIF(CAST(coalesce(c.n_churned, 0) AS DOUBLE), 0), 4) AS quick_ratio
FROM active a LEFT JOIN churn c ON c.w = a.w CROSS JOIN mx
WHERE a.w <= mx.maxw
ORDER BY a.w
"""


@register("events_growth_accounting", oracle=_GROWTH_ORACLE, tags=("events", "retention", "window"))
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting (the DAU/MAU decomposition every product team
    runs, popularized by the a16z "growth accounting" framework): each
    active user-week is NEW (first week ever), RETAINED (active the week
    before), or RESURRECTED (returning after a gap), and a user active
    in week w but not w+1 counts as CHURNED in w+1 — so
    active_w = new + retained + resurrected, and
    active_w − active_{w−1} = new + resurrected − churned by
    construction. quick_ratio = (new+resurrected)/churned is the
    headline health number. Weeks are epoch-week indices reported
    relative to the first observed week.

    Shapes: one distinct (user, week) aggregate over the scan (the only
    data-sized step), lag/lead windows on the per-user week sequence
    (bounded by weeks-per-user), then |weeks|-sized aggregates.
    All-integer classification — no boundary floats anywhere.

    Complements events_retention_cohorts (forward-looking cohort decay)
    with the week-over-week stock/flow view; the churn attribution via
    lead() needs no dense week spine — a user's gap IS the signal.
    """
    e = load(spark, sf_dir, "events")
    uw = e.select(
        "user_id",
        F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 604800)
        .cast("long")
        .alias("w"),
    ).distinct()
    wu = Window.partitionBy("user_id").orderBy("w")
    seq = uw.select(
        "w",
        F.min("w").over(Window.partitionBy("user_id")).alias("first_w"),
        F.lag("w").over(wu).alias("prev_w"),
        F.lead("w").over(wu).alias("next_w"),
    )
    active = seq.groupBy("w").agg(
        F.count(F.when(F.col("w") == F.col("first_w"), 1)).alias("n_new"),
        F.count(F.when(F.col("prev_w") == F.col("w") - 1, 1)).alias("n_retained"),
        F.count(
            F.when(F.col("prev_w").isNotNull() & (F.col("prev_w") < F.col("w") - 1), 1)
        ).alias("n_resurrected"),
    )
    churn = (
        seq.where(F.col("next_w").isNull() | (F.col("next_w") > F.col("w") + 1))
        .groupBy((F.col("w") + 1).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    bounds = uw.agg(F.min("w").alias("minw"), F.max("w").alias("maxw"))
    return (
        active.join(F.broadcast(churn), "w", "left")
        .crossJoin(F.broadcast(bounds))
        .where(F.col("w") <= F.col("maxw"))
        .select(
            (F.col("w") - F.col("minw")).alias("week"),
            F.col("n_new").cast("bigint").alias("n_new"),
            F.col("n_retained").cast("bigint").alias("n_retained"),
            F.col("n_resurrected").cast("bigint").alias("n_resurrected"),
            F.coalesce("n_churned", F.lit(0)).cast("bigint").alias("n_churned"),
            F.round(
                (F.col("n_new") + F.col("n_resurrected"))
                / F.nullif(F.coalesce("n_churned", F.lit(0)).cast("double"), F.lit(0.0)),
                4,
            ).alias("quick_ratio"),
        )
        .orderBy("week")
    )


# ---------------------------------------------------------------------------
# Forward-fill (LOCF) — carry the last observation across silent days.
# ---------------------------------------------------------------------------

_LOCF_ORACLE = """
WITH daily AS (
  SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
), b AS (
  SELECT min(d) AS lo, max(d) AS hi FROM daily
), u AS (
  SELECT DISTINCT user_id FROM daily
), spine AS (
  SELECT u.user_id, unnest(generate_series(b.lo, b.hi)) AS d
  FROM u CROSS JOIN b
), joined AS (
  SELECT s.user_id, s.d, daily.v
  FROM spine s LEFT JOIN daily ON daily.user_id = s.user_id AND daily.d = s.d
)
SELECT user_id, d - (SELECT lo FROM b) AS day,
       round(last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS v_filled,
       CASE WHEN v IS NULL THEN 0 ELSE 1 END AS is_observed
FROM joined
"""


@register("events_locf_daily", oracle=_LOCF_ORACLE, tags=("events", "timeseries", "imputation"))
def events_locf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill imputation (last observation carried forward): every
    user gets a dense day spine over the corpus range, and silent days
    inherit the user's last observed daily value — the standard
    imputation step before per-user time-series modeling, feature
    snapshots, or "current balance"-style point-in-time reads (days
    before a user's first observation stay NULL rather than inventing
    history). is_observed keeps the imputed rows distinguishable for
    downstream weighting.

    Mechanics: ``last_value(ignorenulls=True)`` over a running frame per
    user — Spark's LOCF idiom — against a spine built in-plan (1-row
    bounds × distinct users, no driver collect). Daily values aggregate
    in DECIMAL before the one rounded double output, so fills are
    engine-exact. Scale: the spine is |users|·|days| — the window
    partitions by user (bounded by calendar days each), and the heavy
    side stays the one daily aggregate of the scan.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id",
        F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 86400)
        .cast("long")
        .alias("d"),
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("v"))
    b = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    users = daily.select("user_id").distinct()
    spine = users.crossJoin(F.broadcast(b)).select(
        "user_id", F.explode(F.sequence("lo", "hi")).alias("d"), "lo"
    )
    joined = spine.join(daily, ["user_id", "d"], "left")
    w = Window.partitionBy("user_id").orderBy("d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return joined.select(
        "user_id",
        (F.col("d") - F.col("lo")).alias("day"),
        F.round(F.last("v", ignorenulls=True).over(w), 2).alias("v_filled"),
        F.when(F.col("v").isNull(), 0).otherwise(1).alias("is_observed"),
    )


# ---------------------------------------------------------------------------
# Cohort LTV curves — cumulative value per user by signup-week cohort.
# ---------------------------------------------------------------------------

_LTV_ORACLE = """
WITH uw AS (
  SELECT user_id, CAST(floor(epoch(ts) / 604800) AS BIGINT) AS w,
         CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
), fc AS (
  SELECT user_id, min(w) AS w0 FROM uw GROUP BY user_id
), base AS (
  SELECT min(w) AS minw FROM uw
), size_ AS (
  SELECT w0, count(*) AS cohort_size FROM fc GROUP BY w0
), cell AS (
  SELECT fc.w0, uw.w - fc.w0 AS off,
         count(*) AS n_active, CAST(sum(uw.cents) AS BIGINT) AS cents
  FROM uw JOIN fc ON fc.user_id = uw.user_id
  GROUP BY 1, 2
), cum AS (
  SELECT w0, off, n_active,
         sum(cents) OVER (PARTITION BY w0 ORDER BY off
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents
  FROM cell
)
SELECT c.w0 - b.minw AS cohort_week,
       CAST(c.off AS BIGINT) AS offset_weeks,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       CAST(c.n_active AS BIGINT) AS n_active,
       round(c.cum_cents / 100.0 / s.cohort_size, 4) AS ltv_cum_per_user
FROM cum c JOIN size_ s ON s.w0 = c.w0 CROSS JOIN base b
ORDER BY cohort_week, offset_weeks
"""


@register("events_cohort_ltv", oracle=_LTV_ORACLE, tags=("events", "retention", "ltv"))
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: users grouped by first-seen week, cumulative
    event value per cohort member at each week offset — the
    payback/lifetime-value triangle that sits beside the retention
    triangle (events_retention_cohorts counts WHO comes back; this sums
    WHAT they're worth, normalized by the original cohort size so
    churned users correctly drag the average). Flattening curves =
    monetization decay; a cohort whose curve crosses an older one's is
    the canonical product-improvement signal.

    Exactness: per-cell value sums in DECIMAL cents → BIGINT, the
    cumulative along each curve as an integer window sum, one division
    by the (integer) cohort size at output. Scale: one (user, week)
    aggregate from the scan, the per-user first-week aggregate reused
    via its user_id partitioning, then |cohorts|×|offsets| cells — the
    triangle is calendar²-bounded regardless of event volume.
    """
    e = load(spark, sf_dir, "events")
    uw = e.groupBy(
        "user_id",
        F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 604800)
        .cast("long")
        .alias("w"),
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("cents")
    )
    fc = uw.groupBy("user_id").agg(F.min("w").alias("w0"))
    base = uw.agg(F.min("w").alias("minw"))
    size = fc.groupBy("w0").agg(F.count(F.lit(1)).alias("cohort_size"))
    cell = (
        uw.join(fc, "user_id")
        .groupBy("w0", (F.col("w") - F.col("w0")).alias("off"))
        .agg(F.count(F.lit(1)).alias("n_active"), F.sum("cents").cast("bigint").alias("cents"))
    )
    wc = Window.partitionBy("w0").orderBy("off").rowsBetween(Window.unboundedPreceding, 0)
    cum = cell.withColumn("cum_cents", F.sum("cents").over(wc))
    return (
        cum.join(F.broadcast(size), "w0")
        .crossJoin(F.broadcast(base))
        .select(
            (F.col("w0") - F.col("minw")).alias("cohort_week"),
            F.col("off").cast("bigint").alias("offset_weeks"),
            F.col("cohort_size").cast("bigint").alias("cohort_size"),
            F.col("n_active").cast("bigint").alias("n_active"),
            F.round(F.col("cum_cents") / 100.0 / F.col("cohort_size"), 4).alias(
                "ltv_cum_per_user"
            ),
        )
        .orderBy("cohort_week", "offset_weeks")
    )


# ---------------------------------------------------------------------------
# Peak concurrency — sweep-line max of simultaneously-active windows.
# ---------------------------------------------------------------------------

_DAY_MS = 86_400_000

_PEAK_CONCURRENCY_ORACLE = f"""
WITH iv AS (
  SELECT epoch_ms(ts) AS s, epoch_ms(ts) + {ACTIVE_WINDOW_MS} AS e FROM events
), pieces AS (
  SELECT d, greatest(s, d * {_DAY_MS}) AS ps, least(e, (d + 1) * {_DAY_MS}) AS pe
  FROM (
    SELECT s, e, unnest(generate_series(s // {_DAY_MS}, (e - 1) // {_DAY_MS})) AS d
    FROM iv
  )
), bounds AS (
  SELECT d, ps AS t, 1 AS delta FROM pieces
  UNION ALL
  SELECT d, pe AS t, -1 AS delta FROM pieces
), swept AS (
  SELECT d, t, delta,
         sum(delta) OVER (PARTITION BY d ORDER BY t, delta
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
  FROM bounds
), peak AS (
  SELECT d, max(conc) AS peak FROM swept GROUP BY d
)
SELECT p.d - (SELECT min(d) FROM pieces) AS day,
       CAST(p.peak AS BIGINT) AS peak_concurrency,
       CAST(min(s.t) AS BIGINT) AS peak_at_ms
FROM peak p JOIN swept s ON s.d = p.d AND s.conc = p.peak
GROUP BY p.d, p.peak ORDER BY day
"""


@register("events_peak_concurrency", oracle=_PEAK_CONCURRENCY_ORACLE, tags=("events", "interval", "capacity"))
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day: the classic sweep-line — every 5-minute
    activity window contributes a +1 at its start and a −1 at its end,
    and the running sum's maximum is the most sessions ever active at
    once, with the first instant it was reached. This is THE capacity
    number (max simultaneous load), which no aggregate of counts can
    give: events_hourly_load_factor bounds the hour, the sweep finds the
    instant. End-before-start tie order (delta ascending at equal t)
    makes touching windows non-concurrent — half-open [s, e) semantics.

    Midnight-crossing windows split into per-day pieces in-plan (an
    explode over their ≤2 covered days), so each day's sweep is
    self-contained and the window partitions by day. Per-day boundary
    counts are data-sized at 100 TB — the running sum is a prefix
    aggregation, so the ranged-rank recipe (functions/ranks.py:
    repartitionByRange + per-partition sums + P-row offsets) is the
    documented swap, exactly as the spend-decile twins demonstrate.
    All arithmetic on epoch-ms integers — engine-exact.
    """
    e = load(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    iv = e.select(ms.alias("s"), (ms + ACTIVE_WINDOW_MS).alias("e"))
    pieces = iv.select(
        "s",
        "e",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / _DAY_MS).cast("long"),
                F.floor((F.col("e") - 1) / _DAY_MS).cast("long"),
            )
        ).alias("d"),
    ).select(
        "d",
        F.greatest("s", F.col("d") * _DAY_MS).alias("ps"),
        F.least("e", (F.col("d") + 1) * _DAY_MS).alias("pe"),
    )
    bounds = pieces.select("d", F.col("ps").alias("t"), F.lit(1).alias("delta")).unionByName(
        pieces.select("d", F.col("pe").alias("t"), F.lit(-1).alias("delta"))
    )
    ws = Window.partitionBy("d").orderBy("t", "delta").rowsBetween(
        Window.unboundedPreceding, 0
    )
    swept = bounds.withColumn("conc", F.sum("delta").over(ws))
    peak = swept.groupBy("d").agg(F.max("conc").alias("peak"))
    base = pieces.agg(F.min("d").alias("mind"))
    return (
        swept.join(peak, "d")
        .where(F.col("conc") == F.col("peak"))
        .groupBy("d", "peak")
        .agg(F.min("t").alias("peak_at_ms"))
        .crossJoin(F.broadcast(base))
        .select(
            (F.col("d") - F.col("mind")).alias("day"),
            F.col("peak").cast("bigint").alias("peak_concurrency"),
            F.col("peak_at_ms").cast("bigint").alias("peak_at_ms"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Mann–Kendall trend test — the significance companion to Theil–Sen.
# ---------------------------------------------------------------------------

_MK_ORACLE = """
WITH daily AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d, count(*) AS c
  FROM events GROUP BY 1
), n_ AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM daily
), s_ AS (
  SELECT CAST(sum(CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s
  FROM daily a JOIN daily b ON b.d > a.d
), ties AS (
  SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tsum
  FROM (SELECT count(*) AS t FROM daily GROUP BY c) WHERE t > 1
)
SELECT n_.n AS n_days, s_.s AS s_stat,
       round((n_.n * (n_.n - 1) * (2 * n_.n + 5) - ties.tsum) / 18.0, 4) AS var_s,
       round(CASE WHEN s_.s > 0 THEN (s_.s - 1)
                  WHEN s_.s < 0 THEN (s_.s + 1)
                  ELSE 0 END
             / sqrt((n_.n * (n_.n - 1) * (2 * n_.n + 5) - ties.tsum) / 18.0), 4) AS z_stat,
       CAST(CASE WHEN abs(CASE WHEN s_.s > 0 THEN (s_.s - 1)
                               WHEN s_.s < 0 THEN (s_.s + 1) ELSE 0 END
                      / sqrt((n_.n * (n_.n - 1) * (2 * n_.n + 5) - ties.tsum) / 18.0)) > 1.96
            THEN 1 ELSE 0 END AS INT) AS trend_5pct
FROM n_ CROSS JOIN s_ CROSS JOIN ties
WHERE n_.n >= 3
"""


@register("events_mann_kendall", oracle=_MK_ORACLE, tags=("events", "timeseries", "stats"))
def events_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test on daily event volume — the significance
    companion to events_theil_sen_trend (the pair every hydrology/
    monitoring handbook prescribes: Theil–Sen estimates the slope, MK
    says whether a monotone trend exists at all). S = Σ sign(x_j − x_i)
    over ordered day pairs, variance with the tie correction
    (Σt(t−1)(2t+5) — integer-count series tie heavily), continuity-
    corrected z, and the 5% two-sided flag.

    Everything up to the final sqrt is INTEGER: S, n, and the tie sum
    are exact on both engines, so the statistic can't drift. The pair
    expansion runs on the calendar-bounded daily frame (same argument
    as Theil–Sen: quadratic in |days|, scale-free in volume); ties
    aggregate over distinct counts. n < 3 yields no row (no variance).
    """
    e = load(spark, sf_dir, "events")
    didx = F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 86400).cast("long")
    daily = e.select(didx.alias("d")).groupBy("d").agg(F.count(F.lit(1)).alias("c"))
    n_ = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a, b = daily.alias("a"), daily.alias("b")
    s_ = a.join(F.broadcast(b), F.col("b.d") > F.col("a.d")).agg(
        F.sum(
            F.when(F.col("b.c") > F.col("a.c"), 1)
            .when(F.col("b.c") < F.col("a.c"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s")
    )
    ties = (
        daily.groupBy("c")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)), F.lit(0)
            )
            .cast("bigint")
            .alias("tsum")
        )
    )
    var_s = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tsum")
    ) / 18.0
    s_adj = (
        F.when(F.col("s") > 0, F.col("s") - 1)
        .when(F.col("s") < 0, F.col("s") + 1)
        .otherwise(0)
    )
    z = s_adj / F.sqrt(var_s)
    return (
        n_.crossJoin(F.broadcast(s_))
        .crossJoin(F.broadcast(ties))
        .where(F.col("n") >= 3)
        .select(
            F.col("n").alias("n_days"),
            F.col("s").alias("s_stat"),
            F.round(var_s, 4).alias("var_s"),
            F.round(z, 4).alias("z_stat"),
            F.when(F.abs(z) > 1.96, 1).otherwise(0).cast("int").alias("trend_5pct"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic Poisson bootstrap — CI on the daily mean without RNG state.
# ---------------------------------------------------------------------------

BOOT_REPLICATES = 200
# Poisson(1) inverse CDF as INTEGER thresholds in [0, 1e9): u < t[k] → k.
# floor(cdf * 1e9) of e^{-1}·Σ 1/j! — integer compares, no float boundary.
_POIS1_THRESH = (367879441, 735758882, 919698602, 981011843, 996340153, 999405815, 999916758)

_BOOT_CASE = "CASE " + " ".join(
    f"WHEN u < {t} THEN {k}" for k, t in enumerate(_POIS1_THRESH)
) + " ELSE 7 END"

_BOOT_ORACLE = f"""
WITH daily AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d, count(*) AS c
  FROM events GROUP BY 1
), reps AS (
  SELECT unnest(generate_series(1, {BOOT_REPLICATES})) AS b
), u_ AS (
  SELECT daily.d, daily.c, reps.b,
         CAST(('0x' || substr(md5(daily.d || ':' || reps.b), 1, 15)) AS BIGINT)
           % 1000000000 AS u
  FROM daily CROSS JOIN reps
), w_ AS (
  SELECT d, c, b, {_BOOT_CASE} AS w FROM u_
), rep_means AS (
  SELECT b, sum(w * c) / CAST(sum(w) AS DOUBLE) AS m
  FROM w_ GROUP BY b HAVING sum(w) > 0
)
SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
       CAST(count(*) AS BIGINT) AS n_replicates,
       round((SELECT sum(c) / CAST(count(*) AS DOUBLE) FROM daily), 4) AS mean_daily,
       round(quantile_cont(m, 0.025), 4) AS ci_lo,
       round(quantile_cont(m, 0.975), 4) AS ci_hi
FROM rep_means
"""


@register("events_bootstrap_daily_mean", oracle=_BOOT_ORACLE, tags=("events", "stats", "resampling"))
def events_bootstrap_daily_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval on mean daily event volume — by the
    POISSON bootstrap (Chamandy et al. 2012, the bootstrap that works on
    distributed data: each element enters replicate b with an i.i.d.
    Poisson(1) weight, no shared sampling state, mergeable partial
    sums), derandomized the engine way: the weight is the Poisson(1)
    inverse CDF applied to an md5-derived integer uniform, so every
    (day, replicate) weight is a pure function of the data — identical
    across engines, runs, and partitionings, yet distributionally a
    faithful bootstrap. INTEGER thresholds (floor(cdf·1e9)) mean not
    even the CDF comparison touches a float.

    The 2.5/97.5 percentile band over 200 replicate means is the
    uncertainty every "the mean moved" dashboard claim needs. Scale:
    the ×B fan-out runs on the |days| frame (calendar-bounded), NOT on
    events — the same trick as every daily/hourly operator here; at
    element-level granularity the identical recipe rides the raw scan
    with w as one more projected column (mergeable by construction).
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 86400)
        .cast("long")
        .alias("d")
    ).agg(F.count(F.lit(1)).alias("c"))
    reps = spark.range(1, BOOT_REPLICATES + 1).select(F.col("id").alias("b"))
    # 15 hex chars = 60 bits before the mod — an 8-char (32-bit) draw
    # mod 1e9 is visibly non-uniform (2^32/1e9 ≈ 4.3 wraps → ~7% low-u
    # excess → mean weight 0.92, caught by the Poisson-sanity test);
    # at 60 bits the wrap bias is ~1e-9.
    u = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col("d"), F.col("b"))), 1, 15), 16, 10
    ).cast("bigint") % 1000000000
    w = F.lit(7)
    for k, t in reversed(list(enumerate(_POIS1_THRESH))):
        w = F.when(F.col("u") < t, k).otherwise(w)
    weighted = (
        daily.crossJoin(F.broadcast(reps)).withColumn("u", u).withColumn("w", w)
    )
    rep_means = (
        weighted.groupBy("b")
        .agg(F.sum(F.col("w") * F.col("c")).alias("swc"), F.sum("w").alias("sw"))
        .where(F.col("sw") > 0)
        .select((F.col("swc") / F.col("sw").cast("double")).alias("m"))
    )
    stats = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        (F.sum("c") / F.count(F.lit(1)).cast("double")).alias("mean_daily"),
    )
    return (
        rep_means.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
            F.round(F.percentile("m", F.lit(0.025)), 4).alias("ci_lo"),
            F.round(F.percentile("m", F.lit(0.975)), 4).alias("ci_hi"),
        )
        .crossJoin(F.broadcast(stats))
        .select(
            "n_days",
            "n_replicates",
            F.round("mean_daily", 4).alias("mean_daily"),
            "ci_lo",
            "ci_hi",
        )
    )


# ---------------------------------------------------------------------------
# Retention decay fit — is the curve exponential (doomed) or power-law?
# ---------------------------------------------------------------------------

_RETFIT_Q = 1_000_000  # 1e-6 ln quantum: products stay far inside int64

_RETFIT_ORACLE = f"""
WITH fs AS (
  SELECT user_id, min(cast(ts AS DATE)) AS c FROM events GROUP BY user_id
), mx AS (
  SELECT max(cast(ts AS DATE)) AS m FROM events
), act AS (
  SELECT DISTINCT e.user_id, date_diff('day', f.c, cast(e.ts AS DATE)) AS t
  FROM events e JOIN fs f ON f.user_id = e.user_id
), num AS (
  SELECT t, count(*) AS a FROM act WHERE t >= 1 GROUP BY t
), csz AS (
  SELECT c, count(*) AS s FROM fs GROUP BY c
), grid AS (
  SELECT unnest(generate_series(1, date_diff('day', (SELECT min(c) FROM fs), (SELECT m FROM mx)))) AS t
), den AS (
  SELECT g.t, sum(csz.s) AS d
  FROM grid g JOIN csz ON csz.c <= (SELECT m FROM mx) - to_days(CAST(g.t AS INT))
  CROSS JOIN mx GROUP BY g.t
), pts AS (
  SELECT num.t,
         CAST(floor(ln(num.a / CAST(den.d AS DOUBLE)) * {_RETFIT_Q} + 0.5) AS BIGINT) AS qy,
         CAST(floor(ln(CAST(num.t AS DOUBLE)) * {_RETFIT_Q} + 0.5) AS BIGINT) AS qlt,
         CAST(num.t AS BIGINT) AS qt
  FROM num JOIN den ON den.t = num.t WHERE num.a > 0 AND den.d > 0
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(qt) AS BIGINT) AS sx1, CAST(sum(qt * qt) AS BIGINT) AS sxx1,
         CAST(sum(qlt) AS BIGINT) AS sx2, CAST(sum(qlt * qlt) AS BIGINT) AS sxx2,
         CAST(sum(qy) AS BIGINT) AS sy, CAST(sum(qy * qy) AS BIGINT) AS syy,
         CAST(sum(qt * qy) AS BIGINT) AS sxy1, CAST(sum(qlt * qy) AS BIGINT) AS sxy2
  FROM pts
)
SELECT n AS n_offsets,
       CASE WHEN (n * sxy1 - sx1 * sy) < 0 THEN
         round(-ln(2) / ((n * sxy1 - sx1 * sy) / CAST(n * sxx1 - sx1 * sx1 AS DOUBLE) / {_RETFIT_Q}), 4)
       END AS exp_halflife_days,
       round(pow(CAST(n * sxy1 - sx1 * sy AS DOUBLE), 2)
             / (CAST(n * sxx1 - sx1 * sx1 AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6)
         AS exp_r2,
       round((n * sxy2 - sx2 * sy) / CAST(n * sxx2 - sx2 * sx2 AS DOUBLE), 4) AS pow_exponent,
       round(pow(CAST(n * sxy2 - sx2 * sy AS DOUBLE), 2)
             / (CAST(n * sxx2 - sx2 * sx2 AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6)
         AS pow_r2,
       CASE WHEN pow(CAST(n * sxy2 - sx2 * sy AS DOUBLE), 2)
                 / (CAST(n * sxx2 - sx2 * sx2 AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
               > pow(CAST(n * sxy1 - sx1 * sy AS DOUBLE), 2)
                 / (CAST(n * sxx1 - sx1 * sx1 AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
            THEN 'power' ELSE 'exponential' END AS better_fit
FROM s WHERE n >= 3 AND (n * sxx1 - sx1 * sx1) > 0 AND (n * sxx2 - sx2 * sx2) > 0
          AND (n * syy - sy * sy) > 0
"""


@register("events_retention_decay_fit", oracle=_RETFIT_ORACLE, tags=("events", "retention", "fit"))
def events_retention_decay_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit the pooled retention curve r(t) two ways and say which shape
    wins: exponential (ln r ~ t — constant churn hazard; the product is
    losing everyone eventually, half-life reported) vs power-law
    (ln r ~ ln t — decay slows; a loyal core asymptotes out), the
    standard growth-analysis diagnosis on top of the retention triangle
    (events_retention_cohorts renders the triangle; this reads its
    verdict). r(t) pools cohorts with an observation window ≥ t, so
    right-censoring can't fake decay.

    Exactness: numerators/denominators are integer distinct-counts;
    ln r and ln t are quantized to 1e-6 integers and all five regression
    sums are exact integer arithmetic — both fits and their r² are pure
    functions of engine-identical integers. Every frame after the two
    user-keyed aggregates is |days|-bounded.
    """
    e = load(spark, sf_dir, "events")
    fs = e.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("c"))
    mx = e.agg(F.max(F.col("ts").cast("date")).alias("m"))
    act = (
        e.join(fs, "user_id")
        .select("user_id", F.datediff(F.col("ts").cast("date"), "c").alias("t"))
        .where(F.col("t") >= 1)
        .distinct()
    )
    num = act.groupBy("t").agg(F.count(F.lit(1)).alias("a"))
    csz = fs.groupBy("c").agg(F.count(F.lit(1)).alias("s"))
    bounds = fs.agg(F.min("c").alias("c0")).crossJoin(F.broadcast(mx))
    grid = bounds.select(
        F.explode(F.sequence(F.lit(1), F.datediff("m", "c0"))).alias("t"), "m"
    )
    den = (
        grid.join(F.broadcast(csz), F.col("c") <= F.date_sub(F.col("m"), 0) - F.col("t"))
        .groupBy("t")
        .agg(F.sum("s").alias("d"))
    )
    q = _RETFIT_Q
    pts = (
        num.join(den, "t")
        .where((F.col("a") > 0) & (F.col("d") > 0))
        .select(
            F.col("t").cast("bigint").alias("qt"),
            F.floor(F.ln(F.col("t").cast("double")) * q + 0.5).cast("bigint").alias("qlt"),
            F.floor(F.ln(F.col("a") / F.col("d").cast("double")) * q + 0.5)
            .cast("bigint")
            .alias("qy"),
        )
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("qt").cast("bigint").alias("sx1"),
        F.sum(F.col("qt") * F.col("qt")).cast("bigint").alias("sxx1"),
        F.sum("qlt").cast("bigint").alias("sx2"),
        F.sum(F.col("qlt") * F.col("qlt")).cast("bigint").alias("sxx2"),
        F.sum("qy").cast("bigint").alias("sy"),
        F.sum(F.col("qy") * F.col("qy")).cast("bigint").alias("syy"),
        F.sum(F.col("qt") * F.col("qy")).cast("bigint").alias("sxy1"),
        F.sum(F.col("qlt") * F.col("qy")).cast("bigint").alias("sxy2"),
    )
    n = F.col("n")
    v1 = (n * F.col("sxx1") - F.col("sx1") * F.col("sx1")).cast("double")
    v2 = (n * F.col("sxx2") - F.col("sx2") * F.col("sx2")).cast("double")
    vy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    c1 = (n * F.col("sxy1") - F.col("sx1") * F.col("sy")).cast("double")
    c2 = (n * F.col("sxy2") - F.col("sx2") * F.col("sy")).cast("double")
    exp_r2 = F.pow(c1, 2) / (v1 * vy)
    pow_r2 = F.pow(c2, 2) / (v2 * vy)
    return (
        s.where(
            (n >= 3)
            & ((n * F.col("sxx1") - F.col("sx1") * F.col("sx1")) > 0)
            & ((n * F.col("sxx2") - F.col("sx2") * F.col("sx2")) > 0)
            & ((n * F.col("syy") - F.col("sy") * F.col("sy")) > 0)
        )
        .select(
            n.alias("n_offsets"),
            # no decay (slope ≥ 0) → NULL half-life, not a negative number
            F.when(c1 < 0, F.round(-F.log(F.lit(2.0)) / (c1 / v1 / q), 4)).alias(
                "exp_halflife_days"
            ),
            F.round(exp_r2, 6).alias("exp_r2"),
            F.round(c2 / v2, 4).alias("pow_exponent"),
            F.round(pow_r2, 6).alias("pow_r2"),
            F.when(pow_r2 > exp_r2, "power").otherwise("exponential").alias("better_fit"),
        )
    )


# ---------------------------------------------------------------------------
# Forecast backtest — naive vs Holt vs Holt–Winters on the same series.
# ---------------------------------------------------------------------------

_BACKTEST_ORACLE = f"""
WITH b AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM events
), t AS (
  SELECT DISTINCT event_type FROM events
), g AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
  FROM b CROSS JOIN t
), c AS (
  SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n FROM events GROUP BY 1, 2
), arr AS (
  SELECT g.event_type,
         list_transform(list_sort(list(struct_pack(h := g.h, x := CAST(coalesce(c.n, 0) AS DOUBLE)))),
                        s -> s.x) AS xs
  FROM g LEFT JOIN c ON c.h = g.h AND c.event_type = g.event_type
  GROUP BY g.event_type
), seeded AS (
  SELECT event_type, xs, len(xs) AS n_hours,
         list_sum(list_slice(xs, 1, {HW_PERIOD})) / {HW_PERIOD}.0 AS l0
  FROM arr WHERE len(xs) >= {HW_PERIOD + 1}
), folded AS (
  SELECT event_type, n_hours,
         -- naive: |x_t − x_(t−1)| accumulated in [2]=prev, [1]=err
         list_reduce(list_transform(xs, v -> [0.0, v]),
                     (acc, x) -> [acc[1] + abs(x[2] - acc[2]), x[2]])[1] AS err_naive,
         -- Holt (α/β as events_holt_trend): [1]=level, [2]=trend, [3]=err
         list_reduce(list_transform(xs, v -> [v, 0.0, 0.0]),
           (acc, x) -> [
             {HOLT_ALPHA} * x[1] + {1.0 - HOLT_ALPHA} * (acc[1] + acc[2]),
             {HOLT_BETA} * (({HOLT_ALPHA} * x[1] + {1.0 - HOLT_ALPHA} * (acc[1] + acc[2])) - acc[1])
               + {1.0 - HOLT_BETA} * acc[2],
             acc[3] + abs(x[1] - (acc[1] + acc[2]))
           ])[3] AS err_holt,
         -- Holt–Winters (the events_holt_winters fold, same seed)
         list_reduce(
           [[l0, 0.0, 0.0] || list_transform(list_slice(xs, 1, {HW_PERIOD}), v -> v - l0)]
             || list_transform(list_slice(xs, {HW_PERIOD + 1}, n_hours), v -> [v]),
           (acc, x) -> {_HW_STEP}
         )[3] AS err_hw
  FROM seeded
)
SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours,
       round(err_naive / (n_hours - 1), 4) AS mae_naive,
       round(err_holt / (n_hours - 1), 4) AS mae_holt,
       round(err_hw / (n_hours - {HW_PERIOD}), 4) AS mae_hw,
       round((err_holt / (n_hours - 1)) / (err_naive / (n_hours - 1)), 4) AS mase_holt,
       round((err_hw / (n_hours - {HW_PERIOD})) / (err_naive / (n_hours - 1)), 4) AS mase_hw,
       CASE WHEN err_hw / (n_hours - {HW_PERIOD}) <= err_holt / (n_hours - 1)
             AND err_hw / (n_hours - {HW_PERIOD}) <= err_naive / (n_hours - 1)
            THEN 'holt_winters'
            WHEN err_holt / (n_hours - 1) <= err_naive / (n_hours - 1) THEN 'holt'
            ELSE 'naive' END AS best_model
FROM folded WHERE err_naive > 0 ORDER BY event_type
"""


@register("events_forecast_backtest", oracle=_BACKTEST_ORACLE, tags=("events", "forecast", "eval"))
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead backtest of the forecasting ladder on each type's
    hourly series: naive (tomorrow = today), Holt (level+trend), and
    Holt–Winters (plus the 24 h seasonal ring), each scored by its mean
    absolute error, with MASE (model MAE / naive MAE — Hyndman's
    scale-free skill score; < 1 beats naive) and a per-type verdict.
    This is the operator that keeps the forecaster family HONEST: a
    seasonal model that can't beat last-hour's-value on a series has no
    business running in production, and the verdict column is exactly
    what a model-selection job materializes.

    All three recurrences run as JVM folds over ONE shared gap-filled
    array per type, and the Holt/Holt–Winters folds are the SAME
    (init, step) definitions the registered operators run
    (``_holt_init_step`` / ``_hw_init_step`` / ``_hourly_xs``) — the
    backtest must score exactly the recurrences it ranks, and the
    previous inline restatement read the HOLT constants into the HW
    fold (coincidentally equal today; a silent desync the moment either
    is tuned). The backtest costs one extra fold over frames already
    built: hours × types, volume-independent. Flat series (zero naive
    error) drop out — no division, no fake infinite skill.
    """
    P = HW_PERIOD
    seeded = _hw_seeded(_hourly_xs(load(spark, sf_dir, "events")))

    # naive fold: state [err, prev]
    naive = F.aggregate(
        "xs",
        F.named_struct(F.lit("err"), F.lit(0.0), F.lit("prev"), F.lit(None).cast("double")),
        lambda acc, x: F.named_struct(
            F.lit("err"),
            acc["err"] + F.when(acc["prev"].isNull(), 0.0).otherwise(F.abs(x - acc["prev"])),
            F.lit("prev"),
            x,
        ),
    )["err"]

    holt_init, holt_step = _holt_init_step()
    holt = F.aggregate("xs", holt_init, holt_step)["errs"]

    hw_init, hw_step = _hw_init_step()
    hw = F.element_at(
        F.aggregate(F.slice("xs", P + 1, F.size("xs") - P), hw_init, hw_step), 3
    )

    folded = seeded.select(
        "event_type",
        "n_hours",
        naive.alias("err_naive"),
        holt.alias("err_holt"),
        hw.alias("err_hw"),
    )
    mn = F.col("err_naive") / (F.col("n_hours") - 1)
    mh = F.col("err_holt") / (F.col("n_hours") - 1)
    mw = F.col("err_hw") / (F.col("n_hours") - P)
    return (
        folded.where(F.col("err_naive") > 0)
        .select(
            "event_type",
            "n_hours",
            F.round(mn, 4).alias("mae_naive"),
            F.round(mh, 4).alias("mae_holt"),
            F.round(mw, 4).alias("mae_hw"),
            F.round(mh / mn, 4).alias("mase_holt"),
            F.round(mw / mn, 4).alias("mase_hw"),
            F.when((mw <= mh) & (mw <= mn), "holt_winters")
            .when(mh <= mn, "holt")
            .otherwise("naive")
            .alias("best_model"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Experimentation primitives — hash-split A/B z-test and CUPED.
# ---------------------------------------------------------------------------

_AB_ORACLE = """
WITH u AS (
  SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
         CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR) || ':'
                                  || CAST(CAST(floor(epoch(ts) / 86400) AS BIGINT) AS VARCHAR)),
                     1, 15)) AS BIGINT) % 2 AS v,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT)
), g AS (
  SELECT v, CAST(count(*) AS BIGINT) AS n, CAST(sum(converted) AS BIGINT) AS c
  FROM u GROUP BY v
)
SELECT a.n AS n_a, b.n AS n_b, a.c AS conv_a, b.c AS conv_b,
       round(a.c / CAST(a.n AS DOUBLE), 6) AS rate_a,
       round(b.c / CAST(b.n AS DOUBLE), 6) AS rate_b,
       round((b.c / CAST(b.n AS DOUBLE)) - (a.c / CAST(a.n AS DOUBLE)), 6) AS abs_lift,
       round(((b.c / CAST(b.n AS DOUBLE)) - (a.c / CAST(a.n AS DOUBLE)))
             / sqrt(((a.c + b.c) / CAST(a.n + b.n AS DOUBLE))
                    * (1 - (a.c + b.c) / CAST(a.n + b.n AS DOUBLE))
                    * (1.0 / a.n + 1.0 / b.n)), 4) AS z_stat,
       CAST(CASE WHEN abs(((b.c / CAST(b.n AS DOUBLE)) - (a.c / CAST(a.n AS DOUBLE)))
                      / sqrt(((a.c + b.c) / CAST(a.n + b.n AS DOUBLE))
                             * (1 - (a.c + b.c) / CAST(a.n + b.n AS DOUBLE))
                             * (1.0 / a.n + 1.0 / b.n))) > 1.96
            THEN 1 ELSE 0 END AS INT) AS significant_5pct
FROM (SELECT * FROM g WHERE v = 0) a CROSS JOIN (SELECT * FROM g WHERE v = 1) b
WHERE a.n > 0 AND b.n > 0 AND (a.c + b.c) > 0 AND (a.c + b.c) < (a.n + b.n)
"""


@register("events_ab_conversion_ztest", oracle=_AB_ORACLE, tags=("events", "experiment", "stats"))
def events_ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on purchase conversion under a deterministic
    hash split — the A/B analysis primitive, with the assignment done
    the way production experiment platforms do it (salted hash of the
    unit id: stable, uniform, engine-reproducible; never rand()). The
    unit is the ACTIVE USER-DAY (daily conversion = any purchase that
    day) — on this always-purchasing corpus a per-user split has no
    non-converters to compare, while daily conversion is genuinely
    partial at every SF. On an un-treated corpus this is an A/A test, which is exactly what you
    want from a catalog entry: the pipeline's false-positive behavior
    is itself under test (|z| should be ~N(0,1); a 'significant' A/A
    result flags a broken split or metric).

    Pooled-variance z with both degenerate guards (empty arm, all- or
    no-conversion) dropping the row. Counts are integers; every rate
    and the statistic are pure functions of four integers. One
    user-keyed aggregate + a 2-row arm frame.
    """
    e = load(spark, sf_dir, "events")
    d = F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 86400).cast("bigint")
    u = e.groupBy("user_id", d.alias("d")).agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("converted")
    )
    v = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("ab:"),
                        F.col("user_id").cast("string"),
                        F.lit(":"),
                        F.col("d").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    )
    u = u.select(v.alias("v"), "converted")
    g = u.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("c"),
    )
    a = g.where(F.col("v") == 0).select(F.col("n").alias("n_a"), F.col("c").alias("conv_a"))
    b = g.where(F.col("v") == 1).select(F.col("n").alias("n_b"), F.col("c").alias("conv_b"))
    ra = F.col("conv_a") / F.col("n_a").cast("double")
    rb = F.col("conv_b") / F.col("n_b").cast("double")
    pp = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b")).cast("double")
    z = (rb - ra) / F.sqrt(pp * (1 - pp) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    return (
        a.crossJoin(F.broadcast(b))
        .where(
            (F.col("n_a") > 0)
            & (F.col("n_b") > 0)
            & ((F.col("conv_a") + F.col("conv_b")) > 0)
            & ((F.col("conv_a") + F.col("conv_b")) < (F.col("n_a") + F.col("n_b")))
        )
        .select(
            "n_a",
            "n_b",
            "conv_a",
            "conv_b",
            F.round(ra, 6).alias("rate_a"),
            F.round(rb, 6).alias("rate_b"),
            F.round(rb - ra, 6).alias("abs_lift"),
            F.round(z, 4).alias("z_stat"),
            F.when(F.abs(z) > 1.96, 1).otherwise(0).cast("int").alias("significant_5pct"),
        )
    )


_CUPED_ORACLE = """
WITH mid AS (
  SELECT CAST(floor((epoch(min(ts)) + epoch(max(ts))) / 2) AS BIGINT) AS m FROM events
), u AS (
  SELECT user_id,
         CAST(sum(CASE WHEN epoch(ts) < mid.m
                       THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END)
              AS BIGINT) AS pre,
         CAST(sum(CASE WHEN epoch(ts) >= mid.m
                       THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END)
              AS BIGINT) AS post
  FROM events CROSS JOIN mid GROUP BY user_id, mid.m
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(pre AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(sum(CAST(post AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(sum(CAST(pre AS DECIMAL(38,0)) * pre) AS DOUBLE) AS sxx,
         CAST(sum(CAST(post AS DECIMAL(38,0)) * post) AS DOUBLE) AS syy,
         CAST(sum(CAST(pre AS DECIMAL(38,0)) * post) AS DOUBLE) AS sxy
  FROM u
)
SELECT n AS n_users,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx) / 100.0 * 100.0, 6) AS theta,
       round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS pre_post_corr,
       round(pow(n * sxy - sx * sy, 2) / ((n * sxx - sx * sx) * (n * syy - sy * sy)) * 100, 4)
         AS variance_reduction_pct
FROM s WHERE n > 1 AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
"""


@register("events_cuped_adjustment", oracle=_CUPED_ORACLE, tags=("events", "experiment", "stats"))
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al. 2013): regress each user's post-period value on
    their pre-period value and report θ (the adjustment coefficient) and
    the variance reduction ρ²·100% — the experimentation-platform
    technique that shrinks A/B confidence intervals for free by
    subtracting what the pre-period already predicted. The reduction
    number IS the business case: 40% variance reduction ≈ 40% less
    traffic for the same power. Periods split at the corpus midpoint
    timestamp; users aggregate both sides (absent side = 0 — a new
    user's pre is genuinely zero).

    All moments accumulate as exact DECIMAL(38,0) products of integer
    cents (Σ(pre·post) crosses int64 comfortably before sf1), so θ, ρ,
    and the reduction are pure functions of engine-identical integers.
    One user-keyed aggregate; 1-row output; degenerate variance drops
    the row.
    """
    e = load(spark, sf_dir, "events")
    mid = e.agg(
        F.floor(
            (
                F.unix_timestamp(F.min(F.col("ts")).cast("timestamp"))
                + F.unix_timestamp(F.max(F.col("ts")).cast("timestamp"))
            )
            / 2
        )
        .cast("bigint")
        .alias("m")
    )
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    ep = F.unix_timestamp(F.col("ts").cast("timestamp"))
    u = (
        e.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(ep < F.col("m"), cents).otherwise(0)).cast("bigint").alias("pre"),
            F.sum(F.when(ep >= F.col("m"), cents).otherwise(0)).cast("bigint").alias("post"),
        )
    )
    s = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("pre").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(F.col("post").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum(F.col("pre").cast("decimal(38,0)") * F.col("pre")).cast("double").alias("sxx"),
        F.sum(F.col("post").cast("decimal(38,0)") * F.col("post")).cast("double").alias("syy"),
        F.sum(F.col("pre").cast("decimal(38,0)") * F.col("post")).cast("double").alias("sxy"),
    )
    n = F.col("n")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        s.where((n > 1) & (vx > 0) & (vy > 0))
        .select(
            n.alias("n_users"),
            F.round(cov / vx / 100.0 * 100.0, 6).alias("theta"),
            F.round(cov / F.sqrt(vx * vy), 6).alias("pre_post_corr"),
            F.round(F.pow(cov, 2) / (vx * vy) * 100, 4).alias("variance_reduction_pct"),
        )
    )


# ---------------------------------------------------------------------------
# Power analysis — how big an experiment can this traffic support?
# ---------------------------------------------------------------------------

_POWER_Z_ALPHA = 1.959964  # two-sided 5%
_POWER_Z_BETA = 0.841621  # 80% power

_POWER_ORACLE = f"""
WITH u AS (
  SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY 1, 2
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(converted) AS BIGINT) AS c FROM u
), grid AS (
  SELECT CAST(unnest([0.01, 0.02, 0.05, 0.10]) AS DOUBLE) AS mde
)
SELECT round(g.mde, 2) AS mde_abs,
       CAST(s.n AS BIGINT) AS units_available,
       round(s.c / CAST(s.n AS DOUBLE), 6) AS baseline_rate,
       CAST(ceil(pow({_POWER_Z_ALPHA} + {_POWER_Z_BETA}, 2)
                 * 2 * (s.c / CAST(s.n AS DOUBLE)) * (1 - s.c / CAST(s.n AS DOUBLE))
                 / (g.mde * g.mde)) AS BIGINT) AS n_per_arm_required,
       CAST(CASE WHEN 2 * ceil(pow({_POWER_Z_ALPHA} + {_POWER_Z_BETA}, 2)
                               * 2 * (s.c / CAST(s.n AS DOUBLE)) * (1 - s.c / CAST(s.n AS DOUBLE))
                               / (g.mde * g.mde)) <= s.n
            THEN 1 ELSE 0 END AS INT) AS feasible_now
FROM grid g CROSS JOIN s
WHERE s.n > 0 AND s.c > 0 AND s.c < s.n
ORDER BY g.mde
"""


@register("events_experiment_power", oracle=_POWER_ORACLE, tags=("events", "experiment", "stats"))
def events_experiment_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis on the corpus' own traffic: for a grid
    of absolute minimum-detectable-effects, the required units per arm
    at α=5%/power=80% — n = (z_{{α/2}}+z_β)²·2p(1−p)/δ² — against the
    user-days actually available, with a feasibility verdict per MDE.
    The DESIGN-side companion to events_ab_conversion_ztest (that one
    analyzes a split; this one says whether the experiment you're about
    to run can possibly conclude) — the first question any platform
    asks before burning traffic on an underpowered test.

    Baseline rate and unit counts come from the same user-day
    conversion frame as the z-test (shared subtree); the z constants
    are fixed literals so every output is a pure function of two
    integers. Degenerate baselines (0% / 100%) drop the rows.
    """
    e = load(spark, sf_dir, "events")
    d = F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 86400).cast("bigint")
    u = e.groupBy("user_id", d.alias("d")).agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("converted")
    )
    s = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("c"),
    )
    grid = local_frame(spark, [(m,) for m in (0.01, 0.02, 0.05, 0.10)], "mde double")
    p = F.col("c") / F.col("n").cast("double")
    n_req = F.ceil(
        F.pow(F.lit(_POWER_Z_ALPHA + _POWER_Z_BETA), 2)
        * 2
        * p
        * (1 - p)
        / (F.col("mde") * F.col("mde"))
    ).cast("bigint")
    return (
        grid.crossJoin(F.broadcast(s))
        .where((F.col("n") > 0) & (F.col("c") > 0) & (F.col("c") < F.col("n")))
        .select(
            F.round("mde", 2).alias("mde_abs"),
            F.col("n").alias("units_available"),
            F.round(p, 6).alias("baseline_rate"),
            n_req.alias("n_per_arm_required"),
            F.when(2 * n_req <= F.col("n"), 1).otherwise(0).cast("int").alias("feasible_now"),
        )
        .orderBy("mde_abs")
    )


# ---------------------------------------------------------------------------
# Difference-in-differences — the causal-inference placebo on A/A data.
# ---------------------------------------------------------------------------

_DID_ORACLE = """
WITH mid AS (
  SELECT CAST(floor((epoch(min(ts)) + epoch(max(ts))) / 2) AS BIGINT) AS m FROM events
), u AS (
  SELECT user_id,
         CAST(('0x' || substr(md5('did:' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS grp,
         CAST(sum(CASE WHEN epoch(ts) < mid.m
                       THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END)
              AS BIGINT) AS pre,
         CAST(sum(CASE WHEN epoch(ts) >= mid.m
                       THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END)
              AS BIGINT) AS post
  FROM events CROSS JOIN mid GROUP BY user_id, mid.m
), g AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(post - pre AS DECIMAL(38,0))) AS DOUBLE) AS sd,
         CAST(sum(CAST(post - pre AS DECIMAL(38,0)) * (post - pre)) AS DOUBLE) AS sdd
  FROM u GROUP BY grp
)
SELECT t.n AS n_treat, c.n AS n_control,
       round((t.sd / t.n - c.sd / c.n) / 100.0, 4) AS did_estimate,
       round(((t.sd / t.n - c.sd / c.n)
              / sqrt((t.sdd - t.sd * t.sd / t.n) / (t.n - 1) / t.n
                     + (c.sdd - c.sd * c.sd / c.n) / (c.n - 1) / c.n)), 4) AS z_stat,
       CAST(CASE WHEN abs((t.sd / t.n - c.sd / c.n)
                      / sqrt((t.sdd - t.sd * t.sd / t.n) / (t.n - 1) / t.n
                             + (c.sdd - c.sd * c.sd / c.n) / (c.n - 1) / c.n)) > 1.96
            THEN 1 ELSE 0 END AS INT) AS significant_5pct
FROM (SELECT * FROM g WHERE grp = 1) t CROSS JOIN (SELECT * FROM g WHERE grp = 0) c
WHERE t.n > 1 AND c.n > 1
  AND (t.sdd - t.sd * t.sd / t.n) > 0 AND (c.sdd - c.sd * c.sd / c.n) > 0
"""


@register("events_did_placebo", oracle=_DID_ORACLE, tags=("events", "experiment", "causal"))
def events_did_placebo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences with per-user diffs: Δ = post − pre
    spend per user, DiD = mean Δ(treat) − mean Δ(control) under a
    salted-hash group assignment, with the two-sample z on user-level
    diffs — the workhorse causal estimator in its PLACEBO configuration:
    no one treated anything, so the estimate must hover at 0 and
    'significant' flags a broken pipeline (the A/A discipline applied
    to causal inference; the same query pointed at a real rollout
    boundary is the production estimator). The user-diff formulation is
    the robust one — it nets out per-user level differences exactly
    instead of comparing four group means.

    Moments in exact DECIMAL cents as everywhere; one user aggregate,
    a 2-row group frame, 1-row output; degenerate groups drop the row.
    """
    e = load(spark, sf_dir, "events")
    mid = e.agg(
        F.floor(
            (
                F.unix_timestamp(F.min(F.col("ts")).cast("timestamp"))
                + F.unix_timestamp(F.max(F.col("ts")).cast("timestamp"))
            )
            / 2
        )
        .cast("bigint")
        .alias("m")
    )
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    ep = F.unix_timestamp(F.col("ts").cast("timestamp"))
    grp = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("did:"), F.col("user_id").cast("string"))), 1, 15),
            16,
            10,
        ).cast("bigint")
        % 2
    )
    u = (
        e.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(ep < F.col("m"), cents).otherwise(0)).cast("bigint").alias("pre"),
            F.sum(F.when(ep >= F.col("m"), cents).otherwise(0)).cast("bigint").alias("post"),
        )
        .select(grp.alias("grp"), (F.col("post") - F.col("pre")).alias("dlt"))
    )
    g = u.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("dlt").cast("decimal(38,0)")).cast("double").alias("sd"),
        F.sum(F.col("dlt").cast("decimal(38,0)") * F.col("dlt")).cast("double").alias("sdd"),
    )
    t = g.where(F.col("grp") == 1).select(
        F.col("n").alias("n_treat"), F.col("sd").alias("tsd"), F.col("sdd").alias("tsdd")
    )
    c = g.where(F.col("grp") == 0).select(
        F.col("n").alias("n_control"), F.col("sd").alias("csd"), F.col("sdd").alias("csdd")
    )
    did = F.col("tsd") / F.col("n_treat") - F.col("csd") / F.col("n_control")
    var_t = (F.col("tsdd") - F.col("tsd") * F.col("tsd") / F.col("n_treat")) / (
        F.col("n_treat") - 1
    )
    var_c = (F.col("csdd") - F.col("csd") * F.col("csd") / F.col("n_control")) / (
        F.col("n_control") - 1
    )
    z = did / F.sqrt(var_t / F.col("n_treat") + var_c / F.col("n_control"))
    return (
        t.crossJoin(F.broadcast(c))
        .where(
            (F.col("n_treat") > 1)
            & (F.col("n_control") > 1)
            & ((F.col("tsdd") - F.col("tsd") * F.col("tsd") / F.col("n_treat")) > 0)
            & ((F.col("csdd") - F.col("csd") * F.col("csd") / F.col("n_control")) > 0)
        )
        .select(
            "n_treat",
            "n_control",
            F.round(did / 100.0, 4).alias("did_estimate"),
            F.round(z, 4).alias("z_stat"),
            F.when(F.abs(z) > 1.96, 1).otherwise(0).cast("int").alias("significant_5pct"),
        )
    )
