#!/usr/bin/env python3
"""Scale-linearity replay: time catalog entries on m×-unioned corpora.

Promotes the round-9 one-off recipe (SCALE.md "Measured scale-linearity")
into a reusable tool: for each multiplier m it materializes a scaled
sf-dir — the corpus tables unioned m× with remapped ids — then times the
entry against it, and prints a wall-time table with observed slopes so a
claimed-linear path gets a measured number instead of a paragraph.

    python scripts/scale_replay.py dedup_minhash dedup_clusters \
        [--mults 1,3,10] [--runs 2] [--sf-dir /root/testdata/sf0.1]

Scaled-copy construction (the part that keeps the replay HONEST —
naively unioning identical copies manufactures m-sized duplicate
clusters and ~m² candidate pairs, which would misreport a linear
banded path as super-linear):

- documents: copy i>0 suffixes EVERY whitespace token with ``~i``.
  Token/char-count distributions and the in-copy duplicate structure
  are preserved exactly (equal texts stay equal within a copy), while
  shingle sets across copies become disjoint — m× the corpus means m×
  the clusters, not bigger ones. n_chars is recomputed; doc_id shifts
  by i×(max_id+1).
- embeddings: copy i>0 multiplies each dimension by a per-copy
  Rademacher ±1 vector (sign from xxhash64(i, dim)). diag(±1) is an
  orthogonal transform, so norms and ALL in-copy angles are exactly
  preserved — each copy is an isometric image with identical near-dup
  structure — while cross-copy cosines decorrelate. vec_id shifts by
  i×(max_id+1).
- events (``--tables`` opt-in): copy i>0 shifts event_id and user_id
  by i×(max+1); ts/type/value/props unchanged — per-user temporal
  structure (sessions, interarrival gaps) is preserved exactly and
  copies' user populations are disjoint, so m× corpus means m× the
  sessions, not longer ones. Time-bucket aggregates see m× rows in the
  SAME buckets (more users, same hours) — fair for growth.
- lineitem / orders / part (``--tables`` opt-in, scaled as a UNIT with
  shared key offsets so referential integrity holds): copy i>0 shifts
  l_orderkey/o_orderkey by i×(max_orderkey+1) and l_partkey/p_partkey
  by i×(max_partkey+1); o_custkey and l_suppkey stay UNSHIFTED (the
  unscaled customer/supplier dims absorb m× the volume — real growth).
  The co-purchase graph becomes m disjoint isomorphic components: m×
  nodes and edges at the same diameter, so iterative graph entries
  scale honestly. CAVEAT: text columns (p_name etc.) are NOT salted —
  do not replay name-similarity entries (fuzzy_part_names) with part
  scaled, or identical names manufacture m² fuzzy pairs.
- every other table is symlinked unscaled.

Measurement: each point is ``perf_sweep.measure`` (one noop write inside
a ``perfbench.trace.Tracer`` span), run --runs times. The row keeps the
min wall time (first run pays one-time codegen; min discounts it and
load bursts — same rationale as bench.py) and the FIRST run's stages,
shuffle bytes and executor CPU. Slopes compare successive multipliers:
slope = t[m2]/t[m1] vs the linear reference m2/m1; a slope persistently
above linear is the super-linear red flag. The shuffle-byte slope is the
same ratio over bytes, which host load cannot move.

The settle loop, the 1× drift re-time and --settle-sec stay: they
protect the WALL slopes, and executor CPU is no substitute because
pandas-UDF worker CPU is not in Spark's ``executorCpuTime``. This is
evidence for SCALE.md prose, not a committed artifact.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

DEFAULT_TABLES = "documents,embeddings"
# lineitem/orders/part share key offsets — requesting any of them scales
# all three so foreign keys stay intact (see module docstring)
TPCH_UNIT = ("lineitem", "orders", "part")


def fuzzy_hazard(entries, tables, cat) -> list[str]:
    """ADVICE r10 guard as a pure predicate: names in ``entries`` whose
    replay over the scaled ``tables`` would manufacture m² fuzzy pairs.
    Scaled part copies carry IDENTICAL unsalted text columns, so any
    name-similarity ("fuzzy"-tagged) entry replayed with the part FK
    unit in the scaled set reports fake super-linear slopes. Empty list
    = combo is safe (e.g. fuzzy entries over salted documents copies)."""
    if not (set(tables) & set(TPCH_UNIT)):
        return []
    return [e for e in entries if "fuzzy" in cat[e].tags]


def _scaled_documents(spark, src: str, m: int):
    from pyspark.sql import functions as F

    d = spark.read.parquet(src)
    offset = d.agg(F.max("doc_id")).collect()[0][0]
    if offset is None:
        raise SystemExit("cannot scale an empty documents table")
    offset += 1
    copies = []
    for i in range(m):
        c = d
        if i > 0:
            salted = F.concat_ws(
                " ",
                F.transform(
                    F.split(F.col("text"), r"\s+"),
                    lambda w: F.concat(w, F.lit(f"~{i}")),
                ),
            )
            c = c.withColumn("text", salted)
        copies.append(
            c.withColumn("doc_id", F.col("doc_id") + F.lit(i * offset)).withColumn(
                "n_chars", F.length("text").cast("long")
            )
        )
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out.select("doc_id", "text", "lang", "source", "n_chars")


def _scaled_embeddings(spark, src: str, m: int):
    from pyspark.sql import functions as F

    d = spark.read.parquet(src)
    offset = d.agg(F.max("vec_id")).collect()[0][0]
    if offset is None:
        raise SystemExit("cannot scale an empty embeddings table")
    offset += 1
    def _signer(i: int):
        def sign(v, j):
            flip = F.lit(1.0) - 2.0 * F.pmod(F.xxhash64(F.lit(i), j), F.lit(2)).cast(
                "double"
            )
            return (v * flip).cast("float")

        return sign

    copies = []
    for i in range(m):
        c = d
        if i > 0:
            c = c.withColumn("embedding", F.transform(F.col("embedding"), _signer(i)))
        copies.append(c.withColumn("vec_id", F.col("vec_id") + F.lit(i * offset)))
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out.select("vec_id", "embedding", "label")


def _max_key(spark, sf_dir: str, table: str, col: str) -> int:
    from pyspark.sql import functions as F

    mx = spark.read.parquet(f"{sf_dir}/{table}.parquet").agg(F.max(col)).collect()[0][0]
    if mx is None:
        raise SystemExit(f"cannot scale empty table {table!r} (no {col} to offset)")
    return mx + 1


def _scaled_shifted(spark, src: str, m: int, shifts: dict[str, int]):
    """m unioned copies of ``src``; copy i>0 adds i×offset to each named
    key column, everything else verbatim (structure-preserving for key
    domains: copies are disjoint isomorphic images)."""
    from pyspark.sql import functions as F

    d = spark.read.parquet(src)
    copies = [d]
    for i in range(1, m):
        c = d
        for col, off in shifts.items():
            c = c.withColumn(col, F.col(col) + F.lit(i * off))
        copies.append(c)
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out.select(*d.columns)


def build_scaled_dir(spark, sf_dir: str, m: int, root: Path, tables: set[str]) -> str:
    """Materialize the m× sf-dir: scaled tables per request, symlinked rest."""
    out = root / f"x{m}"
    if m == 1:
        return sf_dir  # identity — time against the real dir
    if tables & set(TPCH_UNIT):
        tables = tables | set(TPCH_UNIT)  # FK unit: all or none
    out.mkdir(parents=True, exist_ok=True)
    for f in Path(sf_dir).glob("*.parquet"):
        if f.stem not in tables:
            dst = out / f.name
            if not dst.exists():
                # absolute target: a relative --sf-dir would otherwise
                # produce symlinks that resolve against the scaled dir
                # itself and dangle
                os.symlink(f.resolve(), dst)

    if "documents" in tables:
        _scaled_documents(spark, f"{sf_dir}/documents.parquet", m).write.mode(
            "overwrite"
        ).parquet(str(out / "documents.parquet"))
    if "embeddings" in tables:
        _scaled_embeddings(spark, f"{sf_dir}/embeddings.parquet", m).write.mode(
            "overwrite"
        ).parquet(str(out / "embeddings.parquet"))
    if "events" in tables:
        ev_shifts = {
            "event_id": _max_key(spark, sf_dir, "events", "event_id"),
            "user_id": _max_key(spark, sf_dir, "events", "user_id"),
        }
        _scaled_shifted(spark, f"{sf_dir}/events.parquet", m, ev_shifts).write.mode(
            "overwrite"
        ).parquet(str(out / "events.parquet"))
    if set(TPCH_UNIT) & tables:
        order_off = _max_key(spark, sf_dir, "orders", "o_orderkey")
        part_off = _max_key(spark, sf_dir, "part", "p_partkey")
        unit_shifts = {
            "lineitem": {"l_orderkey": order_off, "l_partkey": part_off},
            "orders": {"o_orderkey": order_off},
            "part": {"p_partkey": part_off},
        }
        for t, shifts in unit_shifts.items():
            _scaled_shifted(spark, f"{sf_dir}/{t}.parquet", m, shifts).write.mode(
                "overwrite"
            ).parquet(str(out / f"{t}.parquet"))
    return str(out)


def force_gate_closed() -> None:
    """Force every size-gated plan arm shut for this process:
    ``catalog.BROADCAST_GATE_BYTES = -1``. Every gate reads the module
    constant at CALL time (the gate-closed sweep contract), so patching
    it here flips entries with a small-state driver arm (pagerank,
    dedup_clusters, the LSH re-score) onto their DISTRIBUTED arms.
    Factored out of main() so tests can exercise the actual patch path
    instead of grepping for the flag strings (ADVICE r12)."""
    from live_data_spark import catalog as _catmod

    _catmod.BROADCAST_GATE_BYTES = -1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("entries", nargs="+", help="catalog entry names")
    ap.add_argument("--mults", default="1,3,10", help="comma-separated multipliers")
    ap.add_argument("--runs", type=int, default=2, help="timed runs per point (min kept)")
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument(
        "--tables",
        default=DEFAULT_TABLES,
        help="comma-separated tables to scale (documents,embeddings,events,"
        "lineitem,orders,part — the TPC-H three scale as a unit); the rest "
        "symlink unscaled",
    )
    ap.add_argument("--keep", action="store_true", help="keep the scaled dirs on exit")
    ap.add_argument(
        "--gate-closed",
        action="store_true",
        help="force every size-gated plan arm shut (catalog."
        "BROADCAST_GATE_BYTES = -1), so the replay measures the "
        "DISTRIBUTED arm of entries that gained a small-state driver "
        "arm in r12 (pagerank, dedup_clusters, the LSH re-score): at "
        "replay multipliers their state still fits the gate, and "
        "without this flag the slope would describe the wrong arm",
    )
    ap.add_argument(
        "--settle-sec",
        type=float,
        default=180,
        help="max seconds to wait for the 1-min loadavg to decay below "
        "1.5 before each entry's timing block (0 disables)",
    )
    args = ap.parse_args()
    # ADVICE r10: malformed tokens ('', '1,,3', 'x') must take the clean
    # exit-2 path, not an int() traceback
    try:
        mults = sorted({int(x) for x in args.mults.split(",")})
    except ValueError:
        print(f"bad --mults {args.mults!r}: comma-separated integers", file=sys.stderr)
        return 2
    if mults[0] < 1:
        print("multipliers must be >= 1", file=sys.stderr)
        return 2
    tables = {t.strip() for t in args.tables.split(",") if t.strip()}
    known = {"documents", "embeddings", "events", *TPCH_UNIT}
    if tables - known:
        print(f"unknown tables: {sorted(tables - known)}", file=sys.stderr)
        return 2

    from live_data_spark.catalog import resolve_runnable
    from live_data_spark.session import get_spark
    from perfbench.trace import Tracer
    from scripts.perf_sweep import SESSION_CONF, measure

    # catalog entries AND the named swap-in configurations
    # (catalog.NON_CATALOG_HELPERS) resolve here — production rungs get
    # replayed with the same tool as the entries they tune
    cat = {e: resolve_runnable(e) for e in args.entries}
    unknown = [e for e, spec in cat.items() if spec is None]
    if unknown:
        print(f"unknown entries: {unknown}", file=sys.stderr)
        return 2
    hazard = fuzzy_hazard(args.entries, tables, cat)
    if hazard:
        print(
            f"refusing: {hazard} do name-similarity over part's UNSALTED "
            "text columns; scaling part manufactures m² identical-name "
            "pairs and the slope would be meaningless. Drop part (and "
            "the lineitem/orders FK unit) from --tables for these.",
            file=sys.stderr,
        )
        return 2

    if args.gate_closed:
        force_gate_closed()
        print("gate-closed replay: BROADCAST_GATE_BYTES = -1 (distributed arms)")

    spark = get_spark(app_name="scale_replay", extra_conf=SESSION_CONF)
    spark.sparkContext.setLogLevel("ERROR")

    root = Path(tempfile.mkdtemp(prefix="scale_replay_"))
    try:
        dirs = {m: build_scaled_dir(spark, args.sf_dir, m, root, tables) for m in mults}
        results: dict[str, dict[int, dict]] = {}
        drifts: dict[str, float] = {}
        steals: dict[str, float | None] = {}
        tracer = Tracer(spark)

        def point(name: str, m: int, runs: int) -> dict:
            """Min wall ``sec`` over ``runs`` measured writes at ``m``×,
            with the first run's counters."""
            recs = [measure(tracer, spark, name, cat[name], dirs[m]) for _ in range(runs)]
            return {**recs[0], "sec": min(r["sec"] for r in recs)}

        # steal share per entry (bench.py's /proc/stat probe): the drift
        # column says WHETHER a row is valid; this says WHY it wasn't
        import bench

        for name in args.entries:
            # settle before timing: the corpus build (and the previous
            # entry's large multipliers) saturate all cores for minutes,
            # so the next 1× point otherwise starts inside the decay/GC
            # shadow and reads high — the RECOVERY-drift mode (1× drift
            # < 1/1.3) that invalidated five replay rows across r11-r12
            # (simhash ×2, basket ×3, minhash-30× ×1). The JVM idles
            # between jobs, so the 1-min loadavg decaying below 1.5 is a
            # usable "shadow has passed" signal; the drift self-check
            # below stays the arbiter of validity.
            settle_deadline = time.time() + args.settle_sec
            while os.getloadavg()[0] >= 1.5 and time.time() < settle_deadline:
                time.sleep(10)
            results[name] = {}
            cpu_pre = bench._proc_stat_snapshot()
            # one untimed run at the smallest multiplier: session-level
            # warmup (codegen, worker pools) would otherwise land entirely
            # on the first timed point and flatten the measured slope
            point(name, mults[0], 1)
            for m in mults:
                rec = results[name][m] = point(name, m, args.runs)
                print(
                    f"  {name} x{m}: {rec['sec']:.2f}s, {rec['stages']} stages, "
                    f"{rec['shuffle_bytes']} shuffle B",
                    file=sys.stderr,
                )
            # drift self-check: slopes are within-session ratios, so a
            # STABLE host (even a stably-degraded one) cancels out — but
            # a ramp DURING the entry's sweep masquerades as slope.
            # Re-time the smallest point after the largest; outside
            # [1/1.3, 1.3] of its first reading marks this entry's
            # slopes suspect — a host that SLOWED inflates them (fake
            # super-linearity), a host that RECOVERED deflates them
            # (hides real super-linearity; the dedup_simhash 0.43-drift
            # row that motivated the lower bound).
            if len(mults) > 1:
                first_sec = results[name][mults[0]]["sec"]
                re1 = point(name, mults[0], args.runs)["sec"]
                drifts[name] = round(re1 / max(first_sec, 1e-9), 2)
                if not (1 / 1.3 <= drifts[name] <= 1.3):
                    print(
                        f"  {name}: 1x re-time {re1:.2f}s = {drifts[name]}x its "
                        "first reading — host ramped mid-entry; slopes suspect, "
                        "re-run this entry",
                        file=sys.stderr,
                    )
            steals[name] = bench._steal_pct(cpu_pre, bench._proc_stat_snapshot())

        # markdown table for SCALE.md (one row per entry and multiplier;
        # slopes against the previous multiplier) + one JSON line for tooling
        print(
            "| entry | × | sec | stages | shuffle bytes | jvm cpu s "
            "| wall slope (lin) | byte slope | 1× drift |"
        )
        print("|" + "---|" * 9)
        for name, pts in results.items():
            d = drifts.get(name)
            suspect = d is not None and not (1 / 1.3 <= d <= 1.3)
            dcell = f"{d:.2f}" + (" SUSPECT" if suspect else "") if d else "—"
            for a, m in zip([None, *mults], mults):
                p = pts[m]
                wall = byte = "—"
                if a is not None:
                    wall = f"{p['sec'] / max(pts[a]['sec'], 1e-9):.2f} ({m / a:.1f})"
                    if pts[a]["shuffle_bytes"]:
                        byte = f"{p['shuffle_bytes'] / pts[a]['shuffle_bytes']:.2f}"
                print(
                    f"| {name} | {m}× | {p['sec']:.2f} | {p['stages']} "
                    f"| {p['shuffle_bytes']:,} | {p['jvm_cpu_s']:.2f} "
                    f"| {wall} | {byte} | {dcell if a is None else ''} |"
                )
        print(
            json.dumps(
                {
                    "sf_dir": args.sf_dir,
                    "mults": mults,
                    "runs": args.runs,
                    "tables": sorted(tables),
                    "points": results,
                    "drift_1x": drifts,
                    "steal_pct": steals,
                }
            )
        )
    finally:
        if args.keep:
            print(f"scaled dirs kept at {root}", file=sys.stderr)
        else:
            shutil.rmtree(root, ignore_errors=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
