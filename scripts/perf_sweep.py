#!/usr/bin/env python
"""Full-catalog Spark-counter sweep at sf0.1 — bench.py's wide twin.

bench.py watches 16 headline queries; this runs EVERY catalog entry once
and records Spark's stage counters for it in a committed artifact
(PERF_SF01.json), so a plan change anywhere in the catalog is caught.

Each entry is one noop write inside one ``perfbench.trace.Tracer`` span,
in sorted order, in a fresh session that starts with one untraced
warm-up. The span's counters are the entry's record:

- exact: ``jobs``, ``stages``, ``tasks``, ``shuffle_bytes`` and
  ``input_bytes``. For a fixed plan, data and core count they repeat
  run to run, so any change is a change of plan (SHUFFLE_BYTES_VARY
  names the few entries whose bytes alone do not repeat). Run
  ``--check`` on a quiet host: beside another Spark or pytest run,
  ``dedup_incremental_minhash`` has read 2 more jobs and stages and
  ``dedup_simhash`` 103 more shuffle bytes. Quiet sweeps of one tree
  have moved them too: the first read 12 or 14 jobs (14 alone in a
  fresh session), the second's bytes moved by up to 538;
- plan shape, also exact: ``exchanges`` (shuffle ``Exchange`` nodes)
  and ``broadcasts`` (``BroadcastExchange`` nodes) in the entry frame's
  physical plan. The noop write plans its own query, so the frame's
  plan is AQE's initial plan; it is read after the span closes and
  starts no job;
- informational: ``jvm_cpu_s`` (executor CPU) and ``sec`` (wall). Both
  move with host load; CPU gets only a loose check, wall none.

Each entry runs once, in a fixed order in a fresh session.

Usage:
    python scripts/perf_sweep.py            # measure and REWRITE the artifact
    python scripts/perf_sweep.py --check    # measure and COMPARE: exit 1 if an
                                            # entry's exact counters changed or
                                            # its jvm_cpu_s more than tripled
                                            # above the 0.2 s floor

The counters depend on the core count (tasks, AQE's coalesced
partitions), so the artifact records ``parallelism`` and ``--check``
exits 2 before starting Spark when this host's differs. The structural
half of the tripwire (artifact exists, covers the catalog, integer
counters) runs in pytest (tests/test_perf_artifact.py).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from live_data_spark.catalog import catalog  # noqa: E402
from live_data_spark.session import get_spark  # noqa: E402
from perfbench import host  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

SF = "/root/testdata/sf0.1"
ARTIFACT = REPO / "PERF_SF01.json"
WARMUP = "dedup_exact"  # JVM/codegen + Arrow worker warm-up, untraced
PLAN_NODES = {"exchanges": "Exchange", "broadcasts": "BroadcastExchange"}
EXACT = ("jobs", "stages", "tasks", "shuffle_bytes", "input_bytes", *PLAN_NODES)
TRIP_RATIO = 3.0  # flag an entry whose jvm_cpu_s more than tripled...
CPU_FLOOR_SEC = 0.2  # ...measured from at least this much CPU
# Entries whose shuffle_bytes differ between sweeps of one tree while
# their records, stages and tasks do not: the rows inside a map output
# come out in another order or split, which moves only the compressed
# size. Spark numbers expressions from one global counter and orders
# some rewritten expressions by hash, so a plan can flip between two
# forms that list an Exchange's key columns in either order.
# events_health_digest and privacy_pseudonymize_users each hold two
# COUNT(DISTINCT ...) groups in one Expand, which swap places build to
# build. A one-plan rewrite of the privacy entry (group by user_id and
# token, then a count and one distinct) kept its rows but read 5 stages
# for 4 and 84,716 shuffle B, so it stays; the digest also takes an
# exact percentile over all rows, so it cannot pre-aggregate per user.
# q20_outsized_suppliers flips in its final adaptive plan, and
# window_spend_deciles_ranged keeps one plan and still varies; neither
# cause is isolated. Their shuffle_bytes are not compared; every other
# counter is. Values: lowest and highest seen.
SHUFFLE_BYTES_VARY = {
    "events_health_digest": (174_979, 177_798),
    "privacy_pseudonymize_users": (59_648, 60_631),
    "q20_outsized_suppliers": (2_313_663, 2_313_697),
    "window_spend_deciles_ranged": (620_376, 620_628),
}
SESSION_CONF = {
    "spark.ui.showConsoleProgress": "false",
    # past this many stages the status store drops skipped stages first,
    # and the tracer then fails on a later job that lists one
    "spark.ui.retainedStages": str(1 << 20),
}


def parallelism() -> int:
    """The core count a session from ``get_spark`` will run with, read
    without starting one."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return host.nproc() if cpus == "*" else int(cpus)


def measure(tracer: Tracer, spark, name: str, spec, sf_dir: str) -> dict:
    """One noop write of ``spec`` inside one tracer span: its exact
    counters, ``jvm_cpu_s`` and wall ``sec``. Building the frame is in
    the span too, so plan-time jobs count. The plan's node counts are
    read after the span, so they cannot move the span's counters."""
    with tracer.span(name) as span:
        df = spec.spark(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
    rec = {k: int(span.counters[k]) for k in EXACT if k not in PLAN_NODES}
    # node name after the tree drawing and any codegen stage marker
    nodes = re.findall(
        r"^[\s:|+-]*(?:\*\(\d+\) )?(\w+)",
        df._jdf.queryExecution().executedPlan().toString(),
        re.MULTILINE,
    )
    rec.update({k: nodes.count(node) for k, node in PLAN_NODES.items()})
    rec["jvm_cpu_s"] = round(span.counters["jvm_cpu_s"], 3)
    rec["sec"] = round(span.duration, 3)
    return rec


def sweep() -> dict:
    spark = get_spark(extra_conf=SESSION_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    cat = catalog()
    cat[WARMUP].spark(spark, SF).limit(1).collect()
    tracer = Tracer(spark)
    entries: dict[str, dict] = {}
    t0 = time.perf_counter()
    for i, (name, spec) in enumerate(sorted(cat.items())):
        rec = entries[name] = measure(tracer, spark, name, spec, SF)
        print(
            f"[{i + 1}/{len(cat)}] {name}: {rec['stages']} stages, "
            f"{rec['shuffle_bytes']} shuffle B, {rec['jvm_cpu_s']} cpu s, {rec['sec']} s",
            flush=True,
        )
    out = {
        "sf": 0.1,
        "parallelism": int(spark.sparkContext.defaultParallelism),
        "sweep_sec": round(time.perf_counter() - t0, 1),
        "entries": entries,
    }
    spark.stop()
    return out


def flag_entries(base: dict, fresh: dict) -> dict[str, list[str]]:
    """Entry name -> what moved, for each entry ``fresh`` shares with
    ``base`` whose exact counters differ (shuffle_bytes skipped for
    SHUFFLE_BYTES_VARY) or whose jvm_cpu_s exceeds TRIP_RATIO times its
    recorded value (floored at CPU_FLOOR_SEC)."""
    flagged = {}
    for name, now in fresh["entries"].items():
        was = base["entries"].get(name)
        if was is None:  # new since the artifact — a rewrite picks it up
            continue
        exact = [k for k in EXACT if not (k == "shuffle_bytes" and name in SHUFFLE_BYTES_VARY)]
        moved = [f"{k} {was[k]} -> {now[k]}" for k in exact if now[k] != was[k]]
        if now["jvm_cpu_s"] > TRIP_RATIO * max(was["jvm_cpu_s"], CPU_FLOOR_SEC):
            moved.append(f"jvm_cpu_s {was['jvm_cpu_s']} -> {now['jvm_cpu_s']}")
        if moved:
            flagged[name] = moved
    return flagged


def main() -> int:
    check = "--check" in sys.argv
    if check:
        # read the baseline BEFORE the sweep: a missing artifact or a
        # different core count should fail in under a second, not after
        base = json.loads(ARTIFACT.read_text())
        if base["parallelism"] != parallelism():
            print(
                f"perf_sweep: artifact was written at parallelism "
                f"{base['parallelism']}, this host runs {parallelism()} — "
                "task counts and coalesced partitions would differ; "
                "compare on a matching host or rewrite the artifact."
            )
            return 2
    fresh = sweep()
    print(f"perf_sweep: {len(fresh['entries'])} entries in {fresh['sweep_sec']} s")
    if not check:
        ARTIFACT.write_text(json.dumps(fresh, indent=1, sort_keys=True) + "\n")
        print(f"perf_sweep: wrote {ARTIFACT.name}")
        return 0
    flagged = flag_entries(base, fresh)
    for name, moved in sorted(flagged.items()):
        print(f"TRIPWIRE {name}: {'; '.join(moved)}")
    missing = sorted(set(base["entries"]) - set(fresh["entries"]))
    if missing:
        print(f"entries in artifact but gone from catalog: {missing}")
    print(f"perf_sweep --check: {len(flagged)} flagged of {len(fresh['entries'])}")
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
