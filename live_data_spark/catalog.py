"""Query catalog: named (Spark query, DuckDB oracle) pairs.

Every operator from SURVEY.md §2 lands here as a registered query over the
driver's TPC-H-ish testdata tables, together with the ANSI-SQL oracle the
driver runs through DuckDB. Keeping both halves in one place keeps column
names/aliases in lockstep (the driver's compare hashes values after sorting
columns by name).

Determinism conventions (so order-insensitive value hashes match):
- Every float aggregate is ``round()``-ed identically on both sides (sum
  order differs between engines; rounding masks the ~1e-9 fp drift).
- Timestamps in output are formatted to strings (session-TZ independent).
- Anything ranked/limited carries a total order (explicit tiebreak keys).
- No nondeterministic functions (rand/uuid/sample) in oracle-checked queries.
"""

from __future__ import annotations

import functools as _functools
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path as _Path

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    """One catalog entry: the Spark implementation + its oracle SQL."""

    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None  # None → driver records rows-only check
    headline: bool = False  # include in bench.py
    doc: str = ""
    tags: tuple[str, ...] = field(default=())


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    headline: bool = False,
    tags: tuple[str, ...] = (),
):
    """Decorator: register fn(spark, sf_dir) -> DataFrame under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = QuerySpec(
            spark=fn, oracle=oracle, headline=headline, doc=(fn.__doc__ or "").strip(), tags=tags
        )
        return fn

    return deco


def catalog() -> dict[str, QuerySpec]:
    """All registered queries (imports operator modules for side effects).

    Ordering: the driver's correctness sweep verifies a 50-entry PREFIX of
    this dict, so the order IS the check schedule. It is computed by the
    rotation policy in :mod:`live_data_spark.ledger` — red rows first, then
    never-checked entries (new operators land there automatically), then
    entries edited since their last green row, then oldest-evidence-first.
    tests/test_engine.py pins the policy invariants.
    """
    # Imported lazily so `import live_data_spark` stays cheap.
    from live_data_spark.operators import classifier, clustering, curation, dedup, graph, profiling, similarity, multimodal, text, tokenizer  # noqa: F401
    from live_data_spark.streaming import events_batch  # noqa: F401
    from live_data_spark.corpus import pipeline  # noqa: F401
    from live_data_spark.plans import snapshot  # noqa: F401
    from live_data_spark.sources import pysource  # noqa: F401
    from live_data_spark import queries_analytics, queries_reference, queries_tpch_extra  # noqa: F401

    from live_data_spark.ledger import check_order

    has_oracle = {n: s.oracle is not None for n, s in _REGISTRY.items()}
    return {n: _REGISTRY[n] for n in check_order(_REGISTRY, has_oracle)}


# events.parquet stores ts as INT64 TIMESTAMP(NANOS) — Spark has no nanosecond
# timestamp, so we read nanos as long and rebuild a TIMESTAMP_NTZ at microsecond
# precision with pure integer arithmetic (session-TZ independent; matches
# DuckDB's nanos→micros truncation).
_EVENTS_TS_NTZ = (
    "timestampadd(MICROSECOND, (ts div 1000) % 1000000, "
    "timestampadd(SECOND, ts div 1000000000, TIMESTAMP_NTZ '1970-01-01 00:00:00'))"
)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one driver testdata table (TESTDATA.md)."""
    if table == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.expr(_EVENTS_TS_NTZ))
        return df
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _table_state(
    sf_dir: str, table: str
) -> tuple[tuple[str, ...], tuple[int, int, int]]:
    """ONE directory walk per metadata call: the table's file list plus
    its (n_files, total_bytes, max_mtime_ns) stat fingerprint — the
    change detector the footer caches below key on, so they track the
    table's current ON-DISK state rather than its path. A path-only
    cache silently serves pre-rewrite numbers after a
    compaction/re-ingest at the same location, mis-sizing every
    data-dependent plan parameter (LSH plane counts, IVF k_lists,
    driver-arm gates) for the rest of the driver process. Stats are
    O(files) with no file opens — the footer PARSE is what's worth
    caching — and the file list travels WITH the fingerprint so cached
    bodies never re-glob."""
    path = _Path(sf_dir) / f"{table}.parquet"
    files = [path] if path.is_file() else sorted(path.glob("**/*.parquet"))
    st = [f.stat() for f in files]
    fp = (
        len(st),
        sum(s.st_size for s in st),
        max((s.st_mtime_ns for s in st), default=0),
    )
    return tuple(str(f) for f in files), fp


@_functools.lru_cache(maxsize=128)
def _rowcount_at(files: tuple[str, ...], fingerprint: tuple[int, int, int]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def table_rowcount(sf_dir: str, table: str) -> int:
    """Row count from parquet FOOTER metadata — a driver-side file-stat
    read, not a Spark job. Used to size data-dependent plan parameters
    (LSH plane counts, bucket fan-outs) without an eager ``df.count()``
    pass over the table: on a 100 TB table that eager count is a full
    extra scan per query build, while footers are O(files) metadata.
    Handles both a single ``{table}.parquet`` file and a directory of
    part-files (Spark's layout). Cached per on-disk STATE (stat
    fingerprint), not per path — a rewritten/appended table re-parses
    its footers instead of serving stale counts."""
    files, fp = _table_state(sf_dir, table)
    return _rowcount_at(files, fp)


def table_bytes(sf_dir: str, table: str) -> int:
    """On-disk parquet bytes for a table — a file-stat read, no Spark job.

    This is the same size estimate Spark's own planner uses for file
    sources (``sizeInBytes`` = total file length). Pure stat work,
    recomputed every call (caching would only save the glob while
    risking post-rewrite staleness)."""
    return _table_state(sf_dir, table)[1][1]


# Budget for the gates that pick between a driver arm and a distributed
# arm for one result: the collected-edge driver arms (edges_fit_gate)
# and similarity's re-score matrix. 32 MiB of compressed parquet ≈
# low-hundreds of MB deserialized — safely inside executor/driver
# budgets at production settings. Join strategy is not
# gated here: Spark's autoBroadcastJoinThreshold (64 MB, session.py) and
# AQE size joins from the plan's own statistics, and plain F.broadcast is
# kept for fixed-domain frames only (nation/region, grids, 1-row
# aggregates).
BROADCAST_GATE_BYTES = 32 * 1024 * 1024

# One size model for a collected 2-long edge row (src, dst), shared by
# every small-graph driver arm (pagerank, dedup_clusters/survivors): 16 B
# of payload plus driver-side row overhead headroom. r12 shipped two
# inconsistent per-site constants (16 vs 24 B/edge) for the same row
# shape; a single estimate keeps the gates from drifting apart as they
# are tuned (they guard value-identical arms, so the exact constant only
# moves the switchover point, never the result).
EDGE_BYTES = 24


def edges_fit_gate(n_edges: int) -> bool:
    """True when a collected edge list of ``n_edges`` (src, dst) rows
    fits the repo-wide broadcast budget — the shared driver-arm gate.
    Reads ``BROADCAST_GATE_BYTES`` at CALL time so the gate-closed sweep
    (tests/test_broadcast_gate_closed.py) can force it shut by patching
    the module constant, like every other size gate."""
    return n_edges * EDGE_BYTES <= BROADCAST_GATE_BYTES


def pair_sides(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """("a", "b") aliased sides for a candidate-heavy SELF-join of a
    per-document frame keyed by ``doc_id`` (the shared shape of
    text_sparse_cosine_topk and dedup_simhash).

    The probe side is hash-partitioned by ``doc_id`` into the session's
    ``defaultParallelism`` partitions; the build side is the plain frame.
    AQE coalesces a small unnumbered shuffle into one partition, which
    would run the whole candidate fan-out in a single task; a numbered
    repartition it keeps. When AQE then broadcasts ``b`` (Spark's own
    64 MB threshold), HashPartitioning(a.doc_id) already clusters the
    downstream (a.doc_id, b.doc_id) pair aggregate, so the pair stream
    aggregates on the join output with no pair-level exchange. Above the
    threshold the same sides plan as a sort-merge join. No hint, no
    persist: nothing stays cached in the session."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, "doc_id").alias("a"), df.alias("b")
