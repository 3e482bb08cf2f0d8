"""Structured Streaming tests: AvailableNow drains vs batch ground truth.

Each streaming job runs over a temp directory of event files and its sink
output is compared to the equivalent batch computation on the same rows —
the semantics contract between streaming/jobs.py and streaming/
events_batch.py. The landing-stream test mirrors the reference DAG's
incremental append (two drops → two micro-batch runs → exactly-once).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from live_data_spark.streaming import jobs

T0 = dt.datetime(2026, 8, 1, 10, 0, 0)


def _mk_events(spark, rows):
    return spark.createDataFrame(
        [
            (i, T0 + dt.timedelta(minutes=m), uid, et, float(v), "{}")
            for i, (m, uid, et, v) in enumerate(rows)
        ],
        schema=jobs.EVENTS_SCHEMA,
    )


SENTINEL_MIN = 3000  # one far-future event per user advances the watermark
                     # past every real window so append mode emits them all
                     # before the AvailableNow drain terminates


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """~200 events over ~7 hours, 5 users, duplicate ids + sentinels."""
    rows = []
    for i in range(200):
        rows.append((i * 2, i % 5, ["click", "view", "buy"][i % 3], (i % 7) + 0.5))
    df = _mk_events(spark, rows)
    dup = df.limit(10)  # duplicate ids for the dedup test
    sentinels = spark.createDataFrame(
        [
            (100000 + uid, T0 + dt.timedelta(minutes=SENTINEL_MIN), uid, "sentinel", 0.0, "{}")
            for uid in range(5)
        ],
        schema=jobs.EVENTS_SCHEMA,
    )
    out = tmp_path_factory.mktemp("events_src")
    df.unionByName(dup).unionByName(sentinels).write.mode("overwrite").parquet(str(out))
    return str(out)


def _drain(spark, result, tmp_path, name):
    sink = tmp_path / f"{name}_sink"
    ckpt = tmp_path / f"{name}_ckpt"
    jobs.run_available_now(result, str(sink), str(ckpt))
    return spark.read.parquet(str(sink))


def test_hourly_rollup_matches_batch(spark, events_dir, tmp_path):
    stream = jobs.read_events_stream(spark, events_dir)
    got = _drain(spark, jobs.hourly_rollup(stream), tmp_path, "hourly").collect()

    # sentinel windows are the (intentionally) unflushed ones -- exclude
    batch = spark.read.parquet(events_dir).where(F.col("event_type") != "sentinel")
    want = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
            "approx_users",
        )
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0


def test_sessionize_stream(spark, events_dir, tmp_path):
    stream = jobs.read_events_stream(spark, events_dir)
    got = _drain(spark, jobs.sessionize(stream), tmp_path, "sess")
    # regular events are ≤10min apart per user (< the 30min gap) → one
    # closed session per user (sentinel sessions stay open in state);
    # emitted sessions conserve the 210 regular rows
    assert got.count() == 5
    assert got.agg(F.sum("n_events")).collect()[0][0] == 210
    assert got.where(F.col("session_value").isNull()).count() == 0


def test_dedup_stream_drops_duplicate_ids(spark, events_dir, tmp_path):
    stream = jobs.read_events_stream(spark, events_dir)
    got = _drain(spark, jobs.dedup_events(stream), tmp_path, "dedup")
    assert got.count() == 205  # 215 rows in, 10 dup ids dropped
    assert got.select("event_id").distinct().count() == 205


def test_user_running_totals_state_survives_restart(spark, tmp_path):
    """applyInPandasWithState: state accumulates ACROSS AvailableNow runs
    (restored from the checkpoint, the contract that makes custom
    stateful operators restart-safe)."""
    src = tmp_path / "ev"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    sink = str(tmp_path / "totals")
    batch1 = _mk_events(spark, [(m, m % 2, "click", 10.0) for m in range(10)])
    batch1.write.parquet(str(src / "b1"))
    stream = jobs.read_events_stream(spark, f"{src}/*")
    jobs.run_available_now_update(jobs.user_running_totals(stream), sink, ckpt)
    t1 = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.read.parquet(sink).collect()
    }
    assert t1 == {0: (5, 50.0), 1: (5, 50.0)}

    batch2 = _mk_events(spark, [(m + 100, 1, "click", 1.0) for m in range(4)])
    batch2.write.parquet(str(src / "b2"))
    stream = jobs.read_events_stream(spark, f"{src}/*")
    jobs.run_available_now_update(jobs.user_running_totals(stream), sink, ckpt)
    latest = (
        spark.read.parquet(sink)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n"), F.max("total_value").alias("v"))
    )
    t2 = {r["user_id"]: (r["n"], r["v"]) for r in latest.collect()}
    # user 1 continued from checkpoint-restored state (5+4 events,
    # 50+4 value); user 0 saw no new events → no new emission, latest
    # stays at the run-1 totals
    assert t2 == {0: (5, 50.0), 1: (9, 54.0)}


SHUFFLE = "spark.sql.shuffle.partitions"


@contextlib.contextmanager
def _session_conf(spark, key, value):
    before = spark.conf.get(key)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        spark.conf.set(key, before)


def _land(spark, src, name, first_min, last_min, sentinels=False):
    """One file drop: an event every 2 minutes over [first_min, last_min),
    5 users; ``sentinels`` adds one far-future event per user so append
    mode emits every real window."""
    rows = [(m, m % 5, ["click", "view", "buy"][m % 3], (m % 7) + 0.5)
            for m in range(first_min, last_min, 2)]
    if sentinels:
        rows += [(SENTINEL_MIN, uid, "sentinel", 0.0) for uid in range(5)]
    df = _mk_events(spark, rows).withColumn("event_id", F.col("event_id") + first_min * 1000)
    df.write.parquet(str(src / name))


def _drain_rollup_and_totals(spark, src, out):
    events = lambda: jobs.read_events_stream(spark, f"{src}/*")  # noqa: E731
    jobs.run_available_now(
        jobs.hourly_rollup(events()), str(out / "rollup"), str(out / "rollup_ckpt")
    )
    jobs.run_available_now_update(
        jobs.user_running_totals(events()), str(out / "totals"), str(out / "totals_ckpt")
    )


def _state_layout(ckpt):
    """(shuffle partitions in the latest offset-log entry, state partition dirs)"""
    offsets = max((ckpt / "offsets").glob("[0-9]*"), key=lambda f: int(f.name))
    conf = json.loads(offsets.read_text().splitlines()[1])["conf"]
    dirs = [d for d in (ckpt / "state" / "0").iterdir() if d.name.isdigit()]
    return int(conf[SHUFFLE]), len(dirs)


def _assert_sinks_match_batch(spark, src, out):
    landed = spark.read.schema(jobs.EVENTS_SCHEMA).parquet(f"{src}/*")
    # the sentinel windows are the (intentionally) unflushed ones
    want = jobs.hourly_rollup(landed.where(F.col("event_type") != "sentinel"))
    got = spark.read.parquet(str(out / "rollup")).select(*want.columns)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    want_totals = {
        r["user_id"]: (r["n"], r["v"])
        for r in landed.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    emitted = sorted(spark.read.parquet(str(out / "totals")).collect(), key=lambda r: r["__batch_id"])
    latest = {r["user_id"]: (r["n_events"], r["total_value"]) for r in emitted}
    assert latest == want_totals


def test_stream_state_partitions_capped_at_parallelism(spark, tmp_path):
    """A session at 32 shuffle partitions starts its stateful streams
    with at most one state partition per core: the offset log records
    min(32, defaultParallelism), that many state stores exist, results
    equal the batch twins over two landed slices, and the session keeps
    its own count for batch work."""
    cap = min(32, spark.sparkContext.defaultParallelism)
    src = tmp_path / "ev"
    with _session_conf(spark, SHUFFLE, 32):
        _land(spark, src, "s1", 0, 180)
        _drain_rollup_and_totals(spark, src, tmp_path)
        _land(spark, src, "s2", 180, 400, sentinels=True)
        _drain_rollup_and_totals(spark, src, tmp_path)
        assert spark.conf.get(SHUFFLE) == "32"
    for q in ("rollup", "totals"):
        assert _state_layout(tmp_path / f"{q}_ckpt") == (cap, cap), q
    _assert_sinks_match_batch(spark, src, tmp_path)


def test_stream_restart_keeps_its_first_state_partition_count(spark, tmp_path, monkeypatch):
    """A checkpoint first started at 32 state partitions (a 32-core host)
    resumes at 32 on a smaller one: Spark restores the count from the
    offset log and the state stays addressable, results unchanged."""
    from pyspark import SparkContext

    src = tmp_path / "ev"
    with _session_conf(spark, SHUFFLE, 32):
        _land(spark, src, "s1", 0, 180)
        with monkeypatch.context() as m:
            m.setattr(SparkContext, "defaultParallelism", property(lambda self: 32))
            _drain_rollup_and_totals(spark, src, tmp_path)
        _land(spark, src, "s2", 180, 400, sentinels=True)
        _drain_rollup_and_totals(spark, src, tmp_path)
    for q in ("rollup", "totals"):
        assert _state_layout(tmp_path / f"{q}_ckpt") == (32, 32), q
    _assert_sinks_match_batch(spark, src, tmp_path)


def test_stream_keeps_a_lower_session_partition_count(spark, tmp_path):
    src = tmp_path / "ev"
    _land(spark, src, "s1", 0, 400, sentinels=True)
    with _session_conf(spark, SHUFFLE, 1):
        _drain_rollup_and_totals(spark, src, tmp_path)
    for q in ("rollup", "totals"):
        assert _state_layout(tmp_path / f"{q}_ckpt") == (1, 1), q
    _assert_sinks_match_batch(spark, src, tmp_path)


def test_stream_start_restores_session_partitions_when_start_raises(spark, tmp_path, monkeypatch):
    """The cap is visible inside ``start()`` only: the session's value
    comes back when ``start()`` raises, both from Spark (complete mode
    without an aggregate is rejected at start) and from any other error."""
    from pyspark.errors import AnalysisException
    from pyspark.sql.streaming import DataStreamWriter

    src = tmp_path / "ev"
    _land(spark, src, "s1", 0, 10)
    stream = jobs.read_events_stream(spark, f"{src}/*")
    with _session_conf(spark, SHUFFLE, 32):
        with pytest.raises(AnalysisException):
            jobs.run_available_now(
                stream, str(tmp_path / "sink"), str(tmp_path / "ckpt"), output_mode="complete"
            )
        assert spark.conf.get(SHUFFLE) == "32"

        seen = []

        def failing_start(self, *args, **kwargs):
            seen.append(spark.conf.get(SHUFFLE))
            raise RuntimeError("start failed")

        monkeypatch.setattr(DataStreamWriter, "start", failing_start)
        with pytest.raises(RuntimeError, match="start failed"):
            jobs.run_available_now(stream, str(tmp_path / "sink2"), str(tmp_path / "ckpt2"))
        assert seen == [str(min(32, spark.sparkContext.defaultParallelism))]
        assert spark.conf.get(SHUFFLE) == "32"


def test_concurrent_stream_starts_keep_the_session_partitions(spark, tmp_path, monkeypatch):
    """Four streams start on four threads at once (as the pipeline's COPYs
    do): each offset log records the cap, and the session keeps its own
    value. A slowed ``start()`` holds each swap open while the next thread
    arrives, so unguarded swaps would restore a capped value."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql.streaming import DataStreamWriter

    start = DataStreamWriter.start

    def slow_start(self, *args, **kwargs):
        time.sleep(0.3)
        return start(self, *args, **kwargs)

    monkeypatch.setattr(DataStreamWriter, "start", slow_start)
    src = tmp_path / "ev"
    _land(spark, src, "s1", 0, 180)

    def drain(i):
        rollup = jobs.hourly_rollup(jobs.read_events_stream(spark, f"{src}/*"))
        time.sleep(0.1 * i)
        jobs.run_available_now(rollup, str(tmp_path / f"sink{i}"), str(tmp_path / f"ckpt{i}"))

    with _session_conf(spark, SHUFFLE, 32):
        with ThreadPoolExecutor(4) as pool:
            list(pool.map(drain, range(4)))
        assert spark.conf.get(SHUFFLE) == "32"
    cap = min(32, spark.sparkContext.defaultParallelism)
    for i in range(4):
        assert _state_layout(tmp_path / f"ckpt{i}") == (cap, cap), i


def test_landing_append_stream_exactly_once(spark, tmp_path):
    """Two file drops → two AvailableNow runs → appended exactly once,
    and a re-run with no new files is a no-op (checkpoint offsets)."""
    from live_data_spark.bikeshop.generator import MockDataSpark
    from live_data_spark.bikeshop.schema import CUSTOMERS
    from live_data_spark.sources.files import write_tsv

    landing = tmp_path / "landing"
    raw = tmp_path / "raw"
    ckpt = tmp_path / "ckpt"
    gen = MockDataSpark(spark, seed=1)

    write_tsv(gen.customers(100, batch=0), str(landing / "b0"))
    jobs.landing_append_stream(spark, f"{landing}/*", str(raw), str(ckpt), CUSTOMERS)
    assert spark.read.parquet(str(raw)).count() == 100

    write_tsv(gen.customers(50, batch=1), str(landing / "b1"))
    jobs.landing_append_stream(spark, f"{landing}/*", str(raw), str(ckpt), CUSTOMERS)
    assert spark.read.parquet(str(raw)).count() == 150

    # no new files → no new rows (exactly-once file tracking)
    jobs.landing_append_stream(spark, f"{landing}/*", str(raw), str(ckpt), CUSTOMERS)
    df = spark.read.parquet(str(raw))
    assert df.count() == 150
    # schema survived the TSV round trip, incl. timestamp_ntz
    assert dict(df.dtypes)["loaded_at"] == "timestamp_ntz"


def test_stream_stream_error_context_join(spark, tmp_path):
    """Stream-stream interval join matches the batch join on the same rows:
    only same-user events strictly before the error and within 5 minutes."""
    rows = [  # (minute, user, type, value)
        (0, 0, "click", 1.0),
        (3, 0, "view", 1.0),
        (6, 0, "click", 1.0),   # < err(7) and >= 7-5=2 → in
        (7, 0, "error", 0.0),
        (7, 1, "click", 1.0),   # other user, same minute → out
        (9, 0, "click", 1.0),   # after the error → out
        (20, 1, "error", 0.0),  # no user-1 events in [15,20) → no pairs
    ]
    src = tmp_path / "ss_src"
    _mk_events(spark, rows).write.parquet(str(src))

    stream = jobs.read_events_stream(spark, str(src))
    got = _drain(spark, jobs.error_context_join(stream), tmp_path, "ss_join")

    batch = spark.read.parquet(str(src))
    err = batch.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("err_user"),
        F.col("ts").alias("err_ts"),
    )
    ctx = batch.where(F.col("event_type") != "error")
    want = err.join(
        ctx,
        (F.col("user_id") == F.col("err_user"))
        & (F.col("ts") >= F.col("err_ts") - F.expr("interval 5 minutes"))
        & (F.col("ts") < F.col("err_ts")),
    ).select("error_id", F.col("event_id").alias("context_event_id"))

    got_pairs = sorted((r["error_id"], r["context_event_id"]) for r in got.collect())
    want_pairs = sorted(map(tuple, want.collect()))
    assert got_pairs == want_pairs
    # the in-window events for the user-0 error, nothing for user-1's
    assert got_pairs == [(3, 1), (3, 2)]


def test_funnel_tracker_matches_batch_and_survives_restart(spark, tmp_path):
    """Stage counts from the stateful streaming funnel must equal the batch
    events_funnel semantics; a conversion split across micro-batches must
    still count (state restored from checkpoint)."""
    src = tmp_path / "funnel_src"
    src.mkdir()
    sink = tmp_path / "funnel_sink"
    ckpt = tmp_path / "funnel_ckpt"

    # batch 1: u0 view->click; u1 view only; u2 click only (no view: stays 0)
    b1 = _mk_events(
        spark,
        [(0, 0, "view", 1.0), (5, 0, "click", 1.0), (1, 1, "view", 1.0), (2, 2, "click", 1.0)],
    )
    b1.write.parquet(str(src / "b1"))
    stream = jobs.read_events_stream(spark, f"{src}/*")
    jobs.run_available_now_update(jobs.funnel_tracker(stream), str(sink), str(ckpt))

    # batch 2: u0 purchases (needs the click state from batch 1); u1 clicks
    # at the SAME minute as the view — strictly-after forbids the advance
    b2 = _mk_events(
        spark,
        [(10, 0, "purchase", 1.0), (1, 1, "click", 1.0)],
    )
    # distinct event ids per batch: _mk_events enumerates from 0, so shift
    b2 = b2.withColumn("event_id", F.col("event_id") + 100)
    b2.write.parquet(str(src / "b2"))
    stream = jobs.read_events_stream(spark, f"{src}/*")
    jobs.run_available_now_update(jobs.funnel_tracker(stream), str(sink), str(ckpt))

    latest = (
        spark.read.parquet(str(sink))
        .groupBy("user_id")
        .agg(F.max("stage").alias("stage"))
        .collect()
    )
    stages = {r["user_id"]: r["stage"] for r in latest}
    assert stages == {0: 3, 1: 1, 2: 0}

    # funnel counts = users with stage >= k — the batch events_funnel contract
    n_at = lambda k: sum(1 for s in stages.values() if s >= k)
    assert (n_at(1), n_at(2), n_at(3)) == (2, 1, 1)


def test_value_spike_monitor_matches_reference_and_survives_restart(spark, tmp_path):
    """transformWithStateInPandas EWMA alerts must match a plain-Python
    fold over the same event order, including a spike whose baseline
    state was written by an earlier micro-batch."""
    # the TWS driver worker requires protobuf (absent in this container)
    pytest.importorskip("google.protobuf")
    src = tmp_path / "spike_src"
    src.mkdir()
    sink = tmp_path / "spike_sink"
    ckpt = tmp_path / "spike_ckpt"

    # batch 1: u0 builds a ~1.0 baseline; u1 spikes INSIDE the batch
    b1 = _mk_events(
        spark,
        [(0, 0, "view", 1.0), (1, 0, "view", 1.2), (2, 1, "view", 2.0), (3, 1, "view", 9.0)],
    )
    b1.write.parquet(str(src / "b1"))
    stream = jobs.read_events_stream(spark, f"{src}/*")
    jobs.run_available_now_update(jobs.value_spike_monitor(stream), str(sink), str(ckpt))

    # batch 2: u0 spikes against the checkpointed batch-1 EWMA; u1 calm
    b2 = _mk_events(spark, [(10, 0, "view", 50.0), (11, 1, "view", 4.0)])
    b2 = b2.withColumn("event_id", F.col("event_id") + 100)
    b2.write.parquet(str(src / "b2"))
    stream = jobs.read_events_stream(spark, f"{src}/*")
    jobs.run_available_now_update(jobs.value_spike_monitor(stream), str(sink), str(ckpt))

    got = {
        (r["user_id"], r["event_id"]): r["ewma_before"]
        for r in spark.read.parquet(str(sink)).collect()
    }

    # reference fold (same order, same constants)
    def fold(values):
        ewma, alerts = None, {}
        for eid, v in values:
            if ewma is None:
                ewma = v
                continue
            if v > jobs.SPIKE_FACTOR * ewma:
                alerts[eid] = ewma
            ewma = jobs.SPIKE_ALPHA * v + (1 - jobs.SPIKE_ALPHA) * ewma
        return alerts

    want = {}
    for uid, seq in {0: [(0, 1.0), (1, 1.2), (100, 50.0)], 1: [(2, 2.0), (3, 9.0), (101, 4.0)]}.items():
        for eid, ewma in fold(seq).items():
            want[(uid, eid)] = ewma
    assert set(got) == set(want)
    for k, v in want.items():
        assert got[k] == pytest.approx(v, rel=1e-12), k


def test_value_spike_monitor_plan_builds_without_protobuf(spark, tmp_path):
    """The TWS plan itself (analysis + schema) must build in any env —
    only query EXECUTION needs the protobuf driver worker."""
    src = tmp_path / "spike_plan_src"
    src.mkdir()
    _mk_events(spark, [(0, 0, "view", 1.0)]).write.parquet(str(src / "b1"))
    stream = jobs.read_events_stream(spark, f"{src}/*")
    monitored = jobs.value_spike_monitor(stream)
    assert monitored.isStreaming
    assert [f.name for f in monitored.schema.fields] == [
        "user_id",
        "event_id",
        "value",
        "ewma_before",
    ]


def test_sliding_rollup_matches_batch(spark, events_dir, tmp_path):
    """Streaming sliding windows must equal the batch Expand assignment
    on every window the watermark closed."""
    stream = jobs.read_events_stream(spark, events_dir)
    got = _drain(spark, jobs.sliding_rollup(stream), tmp_path, "sliding").collect()

    batch = spark.read.parquet(events_dir).where(F.col("event_type") != "sentinel")
    want = (
        batch.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0


def test_stream_static_enrichment_join(spark, events_dir, tmp_path):
    """Stream-static broadcast join: stateless per-batch enrichment must
    equal the batch left join, and unmatched events must survive."""
    dim = spark.createDataFrame(
        [(0, "gold"), (1, "silver"), (2, "bronze")], ["d_user_id", "tier"]
    )
    stream = jobs.read_events_stream(spark, events_dir)
    enriched = jobs.enrich_events_stream(stream, dim)
    got = _drain(spark, enriched, tmp_path, "enrich")

    batch = spark.read.parquet(events_dir)
    want = batch.join(
        F.broadcast(dim), batch["user_id"] == dim["d_user_id"], "left"
    ).drop("d_user_id")
    assert got.count() == batch.count()  # left join never drops facts
    g = {(r["event_id"], r["tier"]) for r in got.select("event_id", "tier").collect()}
    w = {(r["event_id"], r["tier"]) for r in want.select("event_id", "tier").collect()}
    assert g == w
    # users 3/4 have no dim row -> NULL tier survives
    assert got.where(F.col("tier").isNull()).count() > 0


def test_stream_static_enrichment_with_same_key_name(spark, events_dir, tmp_path):
    """The natural dim naming — its key column named exactly like the
    events key ('user_id') — must keep the events key in the output.
    The string-form drop removed EVERY 'user_id' column (both sides),
    silently deleting the stream's key; the column-reference drop
    removes only the dim's."""
    dim = spark.createDataFrame(
        [(0, "gold"), (1, "silver"), (2, "bronze")], ["user_id", "tier"]
    )
    stream = jobs.read_events_stream(spark, events_dir)
    enriched = jobs.enrich_events_stream(stream, dim)
    assert "user_id" in enriched.columns, "events key lost to a by-name drop"
    got = _drain(spark, enriched, tmp_path, "enrich_samekey")
    assert got.where(F.col("user_id").isNotNull()).count() == got.count()
    assert got.where(F.col("tier").isNotNull()).count() > 0


def test_events_operators_survive_degenerate_streams(spark, sf_dir, monkeypatch):
    """Singleton user streams, a lone event type, and null value/props —
    shapes real event feeds produce constantly and the driver testdata
    never does. Contract: every batch events operator runs clean (the
    text-surface probe found four job-aborting division/null bugs, so
    this class of coverage has proven value; the events surface passed
    on first probe and this pin keeps it that way)."""
    import datetime as dt
    import inspect

    import live_data_spark.streaming.events_batch as eb

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 10, "view", None, None),
        (2, t0 + dt.timedelta(seconds=5), 10, "purchase", 3.5, '{"k":1}'),
        (3, t0 + dt.timedelta(seconds=9), 11, "error", 1.0, None),
    ]
    fake = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
    )
    monkeypatch.setattr(eb, "load", lambda _s, _d, _t: fake)

    ran = 0
    for name in sorted(dir(eb)):
        if not name.startswith("events_"):
            continue
        fn = getattr(eb, name)
        if not callable(fn) or len(inspect.signature(fn).parameters) != 2:
            continue
        fn(spark, sf_dir).collect()  # must not raise
        ran += 1
    assert ran >= 25  # the whole batch events surface actually ran


def test_heavy_hitter_tracker_exact_when_capacity_fits_and_survives_restart(spark, tmp_path):
    """Sharded SpaceSaving twin: with capacity >= users per shard the
    sketch must equal exact per-user counts (err 0), accumulate ACROSS
    AvailableNow restarts via the checkpoint, and keep shard = user % 8."""
    src = tmp_path / "hh"
    ckpt = str(tmp_path / "hh_ckpt")
    sink = str(tmp_path / "hh_out")
    src.mkdir()

    batch1 = _mk_events(spark, [(m, m % 5, "click", 1.0) for m in range(25)])
    batch1.write.parquet(str(src / "b1"))
    stream = jobs.read_events_stream(spark, f"{src}/*")
    jobs.run_available_now_update(jobs.heavy_hitter_tracker(stream), sink, ckpt)

    batch2 = _mk_events(spark, [(m + 100, 1, "click", 1.0) for m in range(7)])
    batch2.write.parquet(str(src / "b2"))
    stream = jobs.read_events_stream(spark, f"{src}/*")
    jobs.run_available_now_update(jobs.heavy_hitter_tracker(stream), sink, ckpt)

    latest = (
        spark.read.parquet(sink)
        .groupBy("user_id")
        .agg(F.max("est_count").alias("est"), F.max("max_err").alias("err"))
        .collect()
    )
    got = {r["user_id"]: (r["est"], r["err"]) for r in latest}
    assert got == {0: (5, 0), 1: (12, 0), 2: (5, 0), 3: (5, 0), 4: (5, 0)}
    shards = {
        (r["user_id"], r["shard"]) for r in spark.read.parquet(sink).collect()
    }
    assert all(s == u % 8 for u, s in shards)


def test_heavy_hitter_tracker_eviction_bounds(spark, tmp_path):
    """Under capacity pressure the SpaceSaving invariants must hold for
    every emitted row: true <= est and est - err <= true, with state
    bounded at capacity entries per shard."""
    src = tmp_path / "hhe"
    src.mkdir()
    # one shard (all users even), 6 distinct users, capacity 3
    rows = []
    minute = 0
    for u, n in ((2, 30), (4, 20), (6, 10), (8, 3), (10, 2), (12, 1)):
        for _ in range(n):
            rows.append((minute, u, "click", 1.0))
            minute += 1
    _mk_events(spark, rows).write.parquet(str(src / "b1"))
    stream = jobs.read_events_stream(spark, f"{src}/*")
    sink = str(tmp_path / "hhe_out")
    jobs.run_available_now_update(
        jobs.heavy_hitter_tracker(stream, capacity=3, shards=1), sink, str(tmp_path / "hhe_ckpt")
    )
    true = {2: 30, 4: 20, 6: 10, 8: 3, 10: 2, 12: 1}
    out = spark.read.parquet(sink).collect()
    assert 0 < len(out) <= 3
    for r in out:
        t = true[r["user_id"]]
        assert t <= r["est_count"], r
        assert r["est_count"] - r["max_err"] <= t, r
    # the two dominant users must survive eviction
    kept = {r["user_id"] for r in out}
    assert {2, 4} <= kept


def test_spacesaving_batch_twin_degrades_with_bounds(spark, sf_dir, monkeypatch):
    """The batch twin's oracle row checks only the forced-exact config;
    THIS pins the degraded regime: with an undersized capacity, emitted
    rows still satisfy SpaceSaving's bounds (true <= est, est - err <=
    true) and every truly-heavy user survives (heaviest-first weighted
    fold means top entries are inserted before capacity pressure)."""
    from live_data_spark.streaming import events_batch as eb

    monkeypatch.setattr(eb, "_SS_CAPACITY", 5)
    monkeypatch.setattr(eb, "_SS_SHARDS", 2)
    out = eb.events_spacesaving_topk(spark, sf_dir).collect()
    true = {
        r["user_id"]: r["n_events"]
        for r in eb.load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert 0 < len(out) <= 10  # 2 shards x capacity 5
    for r in out:
        t = true[r["user_id"]]
        assert t <= r["est_count"], r
        assert r["est_count"] - r["max_err"] <= t, r
    # heaviest-first fold: the global top-2 by true count must be present
    top2 = sorted(true, key=lambda u: (-true[u], u))[:2]
    assert set(top2) <= {r["user_id"] for r in out}


def test_psi_flags_planted_drift(spark, monkeypatch):
    """PSI ≈ 0 on identically-distributed cohorts and large on a planted
    shift — the operator must actually move when the distribution does."""
    import datetime as dt

    from live_data_spark.streaming import events_batch as eb

    base = dt.datetime(2024, 1, 1)
    stable = [(i, i % 7, "click", base, float((i * 37) % 400)) for i in range(2000)]
    # drifted: odd ids (the 'current' cohort) shifted up by 200
    drifted = [
        (i, i % 7, "shop", base, float((i * 37) % 400 + (200 if i % 2 else 0)))
        for i in range(2000)
    ]
    fake = spark.createDataFrame(
        stable + drifted,
        "event_id long, user_id long, event_type string, ts timestamp, value double",
    )
    monkeypatch.setattr(eb, "load", lambda _s, _d, _t: fake)
    psi = {r["event_type"]: r["psi"] for r in eb.events_value_drift_psi(spark, "x").collect()}
    assert psi["click"] < 0.05, psi
    assert psi["shop"] > 0.25, psi


def test_stream_stream_outer_join_emits_contextless_errors(spark, tmp_path):
    """The leftOuter interval join must emit BOTH matched pairs and —
    only after the watermark passes the join horizon — null-padded rows
    for errors with no preceding activity. A second batch of far-future
    events advances the watermark so the unmatched tail flushes during
    the AvailableNow drain (the emit-on-eviction semantics documented on
    error_context_join_outer)."""
    src = tmp_path / "sso_src"
    src.mkdir()
    rows1 = [
        (3, 0, "view", 1.0),
        (7, 0, "error", 0.0),   # has context (event 0)
        (20, 1, "error", 0.0),  # NO user-1 activity in [15, 20) → outer row
    ]
    _mk_events(spark, rows1).coalesce(1).write.parquet(str(src / "b1"))
    # The watermark pushers must be ERRORS: the global watermark is the
    # MIN over both join inputs, and the error side's watermark only
    # advances when later errors arrive — a far-future click alone
    # leaves the error side (and hence eviction) stuck at the last
    # real error. The third batch gives eviction a boundary to emit at.
    # ...and BOTH sides need one: each sentinel batch carries a far-
    # future error AND click so neither input's watermark lags the min.
    _mk_events(
        spark, [(SENTINEL_MIN, 9, "error", 0.0), (SENTINEL_MIN, 9, "click", 1.0)]
    ).coalesce(1).write.parquet(str(src / "b2"))
    _mk_events(
        spark, [(SENTINEL_MIN + 1, 9, "error", 0.0), (SENTINEL_MIN + 1, 9, "click", 1.0)]
    ).coalesce(1).write.parquet(str(src / "b3"))

    # one file per trigger: outer rows emit only at a batch boundary AFTER
    # the watermark advanced — a single mega-batch would never flush them
    stream = jobs.read_events_stream(spark, f"{src}/*", max_files_per_trigger=1)
    got = _drain(spark, jobs.error_context_join_outer(stream), tmp_path, "sso").collect()

    by_error = {}
    for r in got:
        by_error.setdefault(r["error_id"], []).append(r)
    matched = by_error[1]
    assert len(matched) == 1 and matched[0]["context_event_id"] == 0
    orphan = by_error[2]
    assert len(orphan) == 1
    assert orphan[0]["context_event_id"] is None
    assert orphan[0]["context_type"] is None
    assert orphan[0]["user_id"] == 1  # the error's own columns survive


def test_incremental_dedup_stream_classifies_and_is_exactly_once(spark, tmp_path):
    """Streaming twin of dedup_incremental: two drain invocations over a
    growing landing dir. Batch 2 docs repeating batch-1 text classify
    dup_history (store hit), in-batch repeats classify dup_batch with the
    min-doc_id holder as new, and an empty drain emits nothing new."""
    landing = tmp_path / "landing"
    landing.mkdir()
    store, dec, ckpt = (str(tmp_path / d) for d in ("store", "decisions", "ckpt"))

    def stage(rows, name):
        spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(str(landing / name))

    # batch 1: doc 2 repeats doc 1's text within the batch
    stage([(1, "alpha beta"), (2, "alpha beta"), (3, "gamma")], "b1")
    jobs.incremental_dedup_stream(spark, f"{landing}/*", store, dec, ckpt)
    d1 = {r["doc_id"]: r["decision"] for r in spark.read.parquet(dec).collect()}
    assert d1 == {1: "new", 2: "dup_batch", 3: "new"}
    # store holds exactly the two new fingerprints
    assert spark.read.parquet(store).distinct().count() == 2

    # batch 2: doc 4 repeats history, docs 5/6 repeat each other, doc 7 fresh
    stage([(4, "gamma"), (5, "delta x"), (6, "delta x"), (7, "epsilon")], "b2")
    jobs.incremental_dedup_stream(spark, f"{landing}/*", store, dec, ckpt)
    d2 = {r["doc_id"]: r["decision"] for r in spark.read.parquet(dec).collect()}
    assert d2[4] == "dup_history" and d2[5] == "new"
    assert d2[6] == "dup_batch" and d2[7] == "new"
    # batch-1 decisions unchanged (exactly-once per file: no reprocessing)
    assert {k: d2[k] for k in (1, 2, 3)} == d1
    assert spark.read.parquet(store).distinct().count() == 4

    # third drain with nothing staged: no new decisions, store unchanged
    n_before = spark.read.parquet(dec).count()
    jobs.incremental_dedup_stream(spark, f"{landing}/*", store, dec, ckpt)
    assert spark.read.parquet(dec).count() == n_before
    assert spark.read.parquet(store).distinct().count() == 4


def test_ewma_spikes_batch_twin_matches_python_replay(spark, sf_dir):
    """The JVM fold must replay the documented spike-monitor semantics
    exactly: (ts, event_id) order, seed never alerts, alert on
    v > 3x pre-EWMA, alpha=0.3 fold."""
    from live_data_spark.catalog import load
    from live_data_spark.streaming.events_batch import events_ewma_spikes
    from live_data_spark.streaming.jobs import SPIKE_ALPHA, SPIKE_FACTOR

    got = {r["user_id"]: r for r in events_ewma_spikes(spark, sf_dir).collect()}

    rows = load(spark, sf_dir, "events").collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["ts"], r["event_id"], r["value"]))
    want = {}
    for u, evs in by_user.items():
        ewma, n_alerts = None, 0
        for _, _, v in sorted(evs):
            if ewma is None:
                ewma = v
                continue
            if v > SPIKE_FACTOR * ewma:
                n_alerts += 1
            ewma = SPIKE_ALPHA * v + (1.0 - SPIKE_ALPHA) * ewma
        if n_alerts:
            want[u] = (len(evs), n_alerts, round(ewma, 4))
    assert set(got) == set(want)
    for u, (n_ev, n_al, ew) in want.items():
        g = got[u]
        assert (g["n_events"], g["n_alerts"]) == (n_ev, n_al), u
        assert g["ewma_final"] == pytest.approx(ew, abs=1e-9), u


def test_upsert_events_stream_keeps_latest_per_key(spark, tmp_path):
    """Streaming incremental_merge twin: per (user, type) the store holds
    exactly the latest row after each drain; replayed drains are no-ops;
    an older-timestamp arrival never regresses the store."""
    import datetime as dt

    landing = tmp_path / "landing"
    landing.mkdir()
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")

    def ev(eid, ts_min, uid, typ, val):
        return (eid, dt.datetime(2024, 1, 1, 0, ts_min), uid, typ, val, "{}")

    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"

    def stage(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(landing / name)
        )

    stage([ev(1, 10, 1, "view", 1.0), ev(2, 20, 2, "click", 2.0)], "b1")
    jobs.upsert_events_stream(spark, f"{landing}/*", store, ckpt)
    s1 = {(r["user_id"], r["event_type"]): r for r in spark.read.parquet(store).collect()}
    assert len(s1) == 2 and s1[(1, "view")]["value"] == 1.0

    # batch 2: newer row for (1, view), OLDER row for (2, click), new key
    stage(
        [ev(3, 30, 1, "view", 9.0), ev(4, 5, 2, "click", 8.0), ev(5, 15, 3, "view", 3.0)],
        "b2",
    )
    jobs.upsert_events_stream(spark, f"{landing}/*", store, ckpt)
    s2 = {(r["user_id"], r["event_type"]): r for r in spark.read.parquet(store).collect()}
    assert len(s2) == 3
    assert s2[(1, "view")]["value"] == 9.0, "newer arrival must win"
    assert s2[(2, "click")]["value"] == 2.0, "older arrival must NOT regress"
    assert s2[(3, "view")]["value"] == 3.0

    # empty drain: store unchanged (exactly-once per file)
    jobs.upsert_events_stream(spark, f"{landing}/*", store, ckpt)
    s3 = {(r["user_id"], r["event_type"]): r["value"] for r in spark.read.parquet(store).collect()}
    assert s3 == {k: v["value"] for k, v in s2.items()}


def test_upsert_store_survives_crash_mid_swap(spark, tmp_path):
    """The swap's crash window must never lose the store. Simulate a kill
    between the two renames (out moved to the backup, the new state not
    yet renamed in): the next merge must heal the store from the backup
    and see the FULL prior history — the rmtree-then-rename form it
    replaces silently reset the store to one batch, because the input
    files were already checkpoint-committed and never replay."""
    import datetime as dt
    import shutil
    from pathlib import Path

    from live_data_spark.sources.files import _SWAP_BAK_SUFFIX

    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"
    store = tmp_path / "store"

    def df(rows):
        return spark.createDataFrame(rows, schema)

    t0 = dt.datetime(2024, 1, 1)
    jobs.merge_upsert_batch(df([(1, t0, 1, "view", 1.0, "{}")]), str(store), ("user_id", "event_type"), "ts")
    jobs.merge_upsert_batch(df([(2, t0, 2, "click", 2.0, "{}")]), str(store), ("user_id", "event_type"), "ts")
    assert spark.read.parquet(str(store)).count() == 2

    # simulate the crash: out renamed away, replacement never landed
    bak = store.parent / (store.name + _SWAP_BAK_SUFFIX)
    store.rename(bak)

    # next merge heals from the backup, then merges the new batch
    jobs.merge_upsert_batch(df([(3, t0, 3, "view", 3.0, "{}")]), str(store), ("user_id", "event_type"), "ts")
    got = {(r["user_id"], r["event_type"]) for r in spark.read.parquet(str(store)).collect()}
    assert got == {(1, "view"), (2, "click"), (3, "view")}, "prior history lost in the swap window"
    assert not bak.exists()

    # the other crash arm: backup left behind AFTER the new state landed
    shutil.copytree(store, bak)
    jobs.merge_upsert_batch(df([(4, t0, 4, "view", 4.0, "{}")]), str(store), ("user_id", "event_type"), "ts")
    assert spark.read.parquet(str(store)).count() == 4
    assert not bak.exists()


def test_incremental_rollup_update_equals_full_recompute(spark, sf_dir, tmp_path):
    """Late data repairs ONLY its hours, yet the repaired rollup must
    equal a from-scratch rebuild (count DISTINCT makes delta-merges
    wrong — group recompute is the correct unit); the repair scan must
    partition-prune to the touched hours."""
    from live_data_spark.catalog import load
    from live_data_spark.streaming.events_batch import (
        hourly_rollup_of,
        incremental_rollup_update,
    )

    e = load(spark, sf_dir, "events")
    hour = F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
    # hold out half of the busiest hour (split by event_id parity — the
    # minute-based split can be empty when data starts mid-hour)
    target_hour = (
        e.groupBy(hour.alias("h")).count().orderBy(F.desc("count"), "h").first()["h"]
    )
    late = e.where((hour == target_hour) & (F.col("event_id") % 2 == 1))
    assert late.count() > 0
    base = e.subtract(late)

    events_dir = str(tmp_path / "events_store")
    rollup_dir = str(tmp_path / "rollup")
    base.withColumn("hour", hour).write.partitionBy("hour").parquet(events_dir)
    hourly_rollup_of(base).write.parquet(rollup_dir)

    touched = incremental_rollup_update(spark, events_dir, rollup_dir, late)
    assert touched == [target_hour]

    got = {tuple(r) for r in spark.read.parquet(rollup_dir).collect()}
    want = {tuple(r) for r in hourly_rollup_of(e).collect()}
    assert got == want, "repaired rollup diverges from full recompute"

    # the repair's scan prunes to the touched hour partitions
    pruned = spark.read.parquet(events_dir).where(F.col("hour").isin(touched))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "hour" in plan.split("PartitionFilters")[1].split("]")[0]


def test_hourly_acf_bounds(spark, sf_dir):
    """|acf| ≤ 1 (Cauchy-Schwarz over the shared deviation frame),
    n_pairs = series_length − lag, and all requested lags present."""
    from live_data_spark.streaming.events_batch import ACF_MAX_LAG, events_hourly_acf

    rows = {r["lag"]: r for r in events_hourly_acf(spark, sf_dir).collect()}
    assert set(rows) == set(range(1, ACF_MAX_LAG + 1))
    n = rows[1]["n_pairs"] + 1  # spine length
    for lag, r in rows.items():
        assert r["n_pairs"] == n - lag
        assert abs(r["acf"]) <= 1.0 + 1e-9


def test_changepoint_cusum_telescopes(spark, sf_dir):
    """The final CUSUM is exactly 0 (S_N = total − N·total/N telescopes),
    shift_rank is a permutation of 1..n_days, and the rank-1 day carries
    the max |cusum|."""
    from live_data_spark.streaming.events_batch import events_changepoint_cusum

    rows = sorted(events_changepoint_cusum(spark, sf_dir).collect(), key=lambda r: r["day"])
    assert rows, "daily series must be non-empty on testdata"
    assert abs(rows[-1]["cusum"]) < 1e-6
    ranks = sorted(r["shift_rank"] for r in rows)
    assert ranks == list(range(1, len(rows) + 1))
    peak = max(abs(r["cusum"]) for r in rows)
    top = next(r for r in rows if r["shift_rank"] == 1)
    assert abs(abs(top["cusum"]) - peak) < 1e-9


def test_countmin_one_sided_error(spark, sf_dir):
    """CMS guarantee: the estimate NEVER undercounts, and the top-20
    probe set's overestimates respect the e/W·N Markov bound with slack
    (depth 4 makes a bound-breaking min astronomically unlikely)."""
    import math

    from live_data_spark.catalog import load
    from live_data_spark.streaming.events_batch import (
        CMS_WIDTH,
        events_countmin_user_counts,
    )

    rows = events_countmin_user_counts(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20  # sf0.001 has <20 distinct users
    n_total = load(spark, sf_dir, "events").count()
    bound = math.e / CMS_WIDTH * n_total
    for r in rows:
        assert r["overestimate"] >= 0, "CMS must never undercount"
        assert r["cms_est"] == r["exact_n"] + r["overestimate"]
        assert r["overestimate"] <= bound, "error beyond the e/W*N guarantee"


def test_countmin_stream_equals_batch_sketch(spark, sf_dir, tmp_path):
    """Mergeability end-to-end: CMS cells built by TWO streamed drains
    over a split landing dir, summed on read, equal the one-shot batch
    sketch over the same events cell-for-cell — and an empty re-drain
    adds nothing (exactly-once per file)."""
    from live_data_spark.catalog import load
    from live_data_spark.streaming.events_batch import cms_cells

    landing = tmp_path / "landing"
    landing.mkdir()
    cells_dir, ckpt = str(tmp_path / "cells"), str(tmp_path / "ckpt")

    ev = load(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id",
        "event_type", "value", "props",
    )
    half1 = ev.where(F.col("event_id") % 2 == 0)
    half2 = ev.where(F.col("event_id") % 2 == 1)
    half1.coalesce(1).write.parquet(str(landing / "b1"))
    jobs.countmin_update_stream(spark, f"{landing}/*", cells_dir, ckpt)
    half2.coalesce(1).write.parquet(str(landing / "b2"))
    jobs.countmin_update_stream(spark, f"{landing}/*", cells_dir, ckpt)

    merged = {
        (r["d"], r["bucket"]): r["c"]
        for r in jobs.countmin_cells_state(spark, cells_dir).collect()
    }
    batch = {(r["d"], r["bucket"]): r["c"] for r in cms_cells(ev).collect()}
    assert merged == batch

    n_rows = spark.read.parquet(cells_dir).count()
    jobs.countmin_update_stream(spark, f"{landing}/*", cells_dir, ckpt)  # no new files
    assert spark.read.parquet(cells_dir).count() == n_rows


def test_observed_stream_metrics_ride_micro_batches(spark, events_dir, tmp_path):
    """df.observe on a streaming frame surfaces per-micro-batch write
    metrics in query progress — the streaming face of the registry's
    observe materialization metrics. Summed over batches the counts must
    equal the drained sink exactly (accumulator metrics are per-batch
    exact for completed batches)."""
    stream = jobs.read_events_stream(spark, events_dir)
    sink = tmp_path / "obs_sink"
    ckpt = tmp_path / "obs_ckpt"
    got = jobs.run_available_now_observed(
        stream,
        str(sink),
        str(ckpt),
        {"n_rows": "count(1)", "n_buy": "sum(cast(event_type = 'buy' AS BIGINT))"},
    )
    assert got, "no observed metrics in query progress"
    sunk = spark.read.parquet(str(sink))
    assert sum(m["n_rows"] for m in got) == sunk.count()
    assert sum(m["n_buy"] or 0 for m in got) == sunk.where("event_type = 'buy'").count()


def test_observed_stream_metrics_cover_every_batch_past_progress_retention(spark, tmp_path):
    """The query's own progress buffer keeps only the last
    ``numRecentProgressUpdates`` batches; the observed metrics must still
    cover every batch of a longer drain."""
    src = tmp_path / "ev"
    for i in range(4):  # one file per drop → one micro-batch each
        drop = _mk_events(spark, [(m, 0, "click", 1.0) for m in range(i + 1)])
        drop.coalesce(1).write.parquet(str(src / f"f{i}"))
    with _session_conf(spark, "spark.sql.streaming.numRecentProgressUpdates", 2):
        got = jobs.run_available_now_observed(
            jobs.read_events_stream(spark, f"{src}/*", max_files_per_trigger=1),
            str(tmp_path / "sink"),
            str(tmp_path / "ckpt"),
            {"n_rows": "count(1)"},
        )
    assert sorted(m["n_rows"] for m in got) == [1, 2, 3, 4]


def test_snapshot_scd2_stream_versions_and_replays_idempotently(spark, tmp_path):
    """Streaming SCD2: change batches drain into versioned generations —
    updates close-and-reopen, new keys insert, quiet drains write
    nothing; a multi-file batch with several versions of one key keeps
    only the latest (dbt-between-runs semantics); and re-draining
    everything from a WIPED checkpoint replays to the SAME state content
    (the merge is idempotent, so replayed generations differ only in
    counter, never in history)."""
    import datetime as dt
    import shutil

    T1, T2, T3 = (dt.datetime(2026, 1, d) for d in (1, 2, 3))
    landing = tmp_path / "landing"
    landing.mkdir()
    root, ckpt = str(tmp_path / "snap"), str(tmp_path / "ckpt")
    schema = "id long, status string, updated_at timestamp"

    def stage(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(landing / name))

    def drain():
        jobs.snapshot_scd2_stream(
            spark, f"{landing}/*", root, ckpt, schema, "id", "updated_at"
        )

    def state():
        from live_data_spark.plans.snapshot import VALID_FROM, VALID_TO, read_snapshot

        return {
            (r["id"], r["status"], r[VALID_FROM], r[VALID_TO])
            for r in read_snapshot(spark, root).collect()
        }

    def gens():
        return len(list((tmp_path / "snap").glob("_v*")))

    stage([(1, "new", T1), (2, "new", T1)], "b1")
    drain()
    assert state() == {(1, "new", T1, None), (2, "new", T1, None)}

    # one update, one insert; key 2 untouched carries
    stage([(1, "shipped", T2), (2, "new", T1), (3, "new", T2)], "b2")
    drain()
    assert state() == {
        (1, "new", T1, T2),
        (1, "shipped", T2, None),
        (2, "new", T1, None),
        (3, "new", T2, None),
    }

    # quiet drain: no files → no merge, no new generation
    n = gens()
    drain()
    assert gens() == n

    # two files land between drains, BOTH moving key 3: one micro-batch
    # carries two versions; only the latest (T3) may open
    stage([(3, "packed", T2 + dt.timedelta(hours=1))], "b3a")
    stage([(3, "shipped", T3)], "b3b")
    drain()
    assert (3, "shipped", T3, None) in state()
    assert sum(1 for r in state() if r[0] == 3 and r[3] is None) == 1
    expect = state()

    # wipe the checkpoint: every file replays against the built state —
    # content must not change (idempotent merge), only the gen counter
    shutil.rmtree(ckpt)
    drain()
    assert state() == expect
