"""The live event stream the ``live_refresh`` workload feeds.

Each step lands one slice of seeded, out-of-order events as a parquet file
and drains two checkpointed streaming queries over the landing directory
with AvailableNow triggers: ``hourly_rollup`` (windowed, append mode,
parquet sink) and ``user_running_totals`` (``applyInPandasWithState``,
update mode, ``foreachBatch`` sink). State store, checkpoint WAL,
file-source listing and Python state all run on every step.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np

from perfbench import datagen
from perfbench.metrics import STREAMS

SLICE_EVENTS = 1000
# events arrive up to 90 minutes late, inside the rollup's 2-hour
# watermark, so the stream drops none of them
MAX_LATENESS_US = 90 * 60 * 1_000_000
WATERMARK_US = 2 * 3600 * 1_000_000


def event_slices(seed: int, out: Path) -> list:
    """The seeded events table in arrival order, cut into slices.

    Events are taken in time order, then each one's timestamp is moved
    back by up to ``MAX_LATENESS_US``, so every slice arrives out of order
    and overlaps the one before it.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    datagen.events(rng, out)
    t = pq.read_table(out / "events.parquet").sort_by("ts")
    late = pa.array(rng.integers(0, MAX_LATENESS_US, len(t)), pa.duration("us"))
    t = t.set_column(t.schema.get_field_index("ts"), "ts", pc.subtract(t.column("ts"), late))
    return [t.slice(i, SLICE_EVENTS) for i in range(0, len(t), SLICE_EVENTS)]


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


class ProgressListener:
    """Collects streaming progress, tagged with the step that was running.

    The traced run drains the listener bus when each query's span closes,
    so a step's progress events have all arrived before the next step
    starts.
    """

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []
        self.step = 0
        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append((outer.step, str(event.progress.id), event.progress))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()

    def readings(self, ids: dict[str, str], step: int) -> dict[str, float]:
        """One step's per-query readings from its progress events."""
        out = {}
        for q in STREAMS:
            progs = [p for s, qid, p in self.events if s == step and qid == ids[q]]
            state = [p.stateOperators[0] for p in progs if p.stateOperators]

            def dur(*keys):
                return float(sum(p.durationMs.get(k, 0) for p in progs for k in keys))

            out.update({
                f"{q}.batches": float(len(progs)),
                f"{q}.add_batch_ms": dur("addBatch"),
                f"{q}.commit_ms": dur("walCommit", "commitOffsets"),
                f"{q}.source_ms": dur("latestOffset", "getBatch"),
                f"{q}.planning_ms": dur("queryPlanning"),
                f"{q}.state_rows": float(state[-1].numRowsTotal) if state else 0.0,
                f"{q}.state_bytes": float(state[-1].memoryUsedBytes) if state else 0.0,
            })
        return out


class EventStream:
    """Landing directory, two streaming queries and their sinks.

    With ``traced`` set, a progress listener and a checkpoint walk record
    per-step readings; ``close()`` removes the listener again.
    """

    def __init__(self, spark, seed: int, root: Path, traced: bool):
        self.spark = spark
        self.slices = event_slices(seed, root / "gen")
        self.land = root / "landing"
        self.land.mkdir(parents=True)
        self.sinks = {q: root / f"sink_{q}" for q in STREAMS}
        self.ckpt = {q: root / f"checkpoint_{q}" for q in STREAMS}
        self.landed = 0
        self.ckpt_bytes: dict[int, dict[str, float]] = {}  # by step
        self.listener = ProgressListener() if traced else None
        if self.listener is not None:
            spark.streams.addListener(self.listener.listener)

    def step(self) -> None:
        """Land the next slice and drain both queries."""
        import pyarrow.parquet as pq
        from live_data_spark.streaming import jobs

        if self.listener is not None:
            self.listener.step = self.landed
        pq.write_table(self.slices[self.landed], self.land / f"slice-{self.landed:04d}.parquet")
        self.landed += 1
        events = lambda: jobs.read_events_stream(self.spark, str(self.land))  # noqa: E731
        jobs.run_available_now(jobs.hourly_rollup(events()),
                               str(self.sinks["rollup"]), str(self.ckpt["rollup"]))
        jobs.run_available_now_update(jobs.user_running_totals(events()),
                                      str(self.sinks["totals"]), str(self.ckpt["totals"]))
        if self.listener is not None:
            self.ckpt_bytes[self.landed - 1] = {
                f"{q}.checkpoint_bytes": float(_dir_bytes(self.ckpt[q])) for q in STREAMS}

    def step_readings(self, steps: range) -> list[dict[str, float]]:
        """Per-step readings of a traced run (empty when untraced)."""
        if self.listener is None:
            return []
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        ids = {q: json.loads((self.ckpt[q] / "metadata").read_text())["id"] for q in STREAMS}
        return [{**self.listener.readings(ids, s), **self.ckpt_bytes.get(s, {})} for s in steps]

    def close(self) -> None:
        if self.listener is not None:
            self.spark.streams.removeListener(self.listener.listener)

    def check(self, canon) -> list[str]:
        """The rollup sink against the batch rollup over closed windows,
        and each user's latest running total against a recount of the
        landed events apart from Spark."""
        import pyarrow.dataset as ds
        from live_data_spark.streaming import jobs

        spark, land, problems = self.spark, self.land, []
        landed = ds.dataset(land, format="parquet").to_table()
        # append mode emits a window once the watermark (latest event time
        # minus 2 hours) has passed its end
        wm_us = int(landed.column("ts").cast("int64").to_numpy().max()) - WATERMARK_US
        batch = jobs.hourly_rollup(spark.read.schema(jobs.EVENTS_SCHEMA).parquet(str(land)))
        closed = batch.where(f"unix_micros(to_timestamp(window_start)) + 3600000000 <= {wm_us}")
        cols = closed.columns
        want_rows = closed.collect()
        got_rows = spark.read.parquet(str(self.sinks["rollup"])).select(*cols).collect()
        if not want_rows:
            problems.append("rollup: no closed windows to check")
        elif canon(got_rows, cols) != canon(want_rows, cols):
            problems.append(f"rollup: {len(got_rows)} sink rows differ from the batch "
                            f"rollup's {len(want_rows)} closed-window rows")

        tot = landed.group_by("user_id").aggregate([("value", "count"), ("value", "sum")])
        want = dict(zip(tot.column("user_id").to_pylist(),
                        zip(tot.column("value_count").to_pylist(),
                            tot.column("value_sum").to_pylist())))
        latest = {}
        for r in spark.read.parquet(str(self.sinks["totals"])).collect():
            if r["user_id"] not in latest or r["__batch_id"] > latest[r["user_id"]][0]:
                latest[r["user_id"]] = (r["__batch_id"], r["n_events"], r["total_value"])
        if set(latest) != set(want):
            problems.append(f"totals: {len(latest)} users in the sink, {len(want)} landed")
        for u, (n, v) in want.items():
            if u in latest and (latest[u][1] != n
                                or abs(latest[u][2] - v) > 1e-6 * max(1.0, abs(v))):
                problems.append(f"totals: user {u} has {latest[u][1:]}, landed {(n, v)}")
                break
        return problems
