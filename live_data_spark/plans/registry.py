"""Model & source registry with dbt-style ``ref``/``source`` resolution.

Re-creates the reference's compile plane (dbt-core + dbt_sao project) as a
thin Python layer over Spark DataFrames:

- ``source(name, table)``   → registered storage location + explicit schema
  (reference: staging models line 2, resolved via
  dbt_sao/models/sources/_bike_shop.yml:4-6).
- ``ref(model)``            → upstream model's DataFrame, building it first
  (reference: fct_order_products.sql:2,6,10; dim_*.sql:2).
- materialization dispatch  → ``view`` (lazy plan + temp view, the dbt
  staging default) vs ``table`` (parquet write + read-back, the mart
  override at dbt_project.yml:35-36).
- dependency DAG + topo order → derived from actual ``ref``/``source``
  calls at build time, with cycle detection (dbt's manifest graph).

Spark-first notes: a "view" costs nothing — it IS the unexecuted Catalyst
plan, so view models chain into one optimized query exactly like dbt's
view-on-view compilation collapses inside the warehouse. A "table" is an
explicit materialization barrier: parquet written once, downstream reads
prune columns/partitions against real files. At 100 TB choose ``table``
for fan-in hubs (read many times) and ``view`` for 1:1 cleanups — same
judgment calls as the reference made (staging=view, mart=table).

Concurrency (dbt's ``threads``): planning — model functions, ``ref`` and
``source`` resolution, cycle detection, data-test plans — runs on the
calling thread. ``run()`` hands each write to an ``ActionPool`` thread as
soon as the model is planned, and ``run_tests()`` runs every test's query
on one, so independent tables and tests overlap. A ``ref`` to a table
whose write is still running waits for it, which keeps table → table
chains in order.
"""

from __future__ import annotations

import shutil
import threading
from collections.abc import Callable
from concurrent.futures import Future, wait
from dataclasses import dataclass, field
from functools import partial
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from live_data_spark.session import ActionPool, run_actions


@dataclass(frozen=True)
class SourceDef:
    """A raw input: logical (source_name, table) → physical location.

    ``path`` holds parquet (the engine's raw storage; the reference's
    Snowflake raw tables). ``schema`` is the explicit StructType —
    schema-on-read inference is never used for raw data (SURVEY §1.3).
    """

    source_name: str
    table: str
    path: str
    schema: StructType | None = None


@dataclass
class ModelDef:
    name: str
    fn: Callable[["BuildContext"], DataFrame]
    materialized: str = "view"  # view | table | incremental | incremental_merge | table_bucketed
    schema: str = "main"  # output namespace (dbt generate_schema_name, D4)
    description: str = ""
    incremental_key: str | None = None  # high-watermark / recency column
    unique_key: tuple[str, ...] = ()  # merge key for incremental_merge (dbt unique_key)
    partition_by: tuple[str, ...] = ()  # hive-partition columns for table writes
    bucket_by: tuple[str, ...] = ()  # bucket keys for table_bucketed
    n_buckets: int = 0
    observe: dict[str, str] = field(default_factory=dict)  # metric -> agg SQL expr
    deps: set[str] = field(default_factory=set)  # discovered at build time


def keep_latest(
    existing: DataFrame,
    incoming: DataFrame,
    unique_key: tuple[str, ...],
    recency_key: str,
) -> DataFrame:
    """Upsert ``incoming`` into ``existing``: per ``unique_key`` the row
    with the greatest ``recency_key`` wins, an incoming row beating a
    stored one on ties. Union + ``row_number`` over the key — ONE shuffle
    on the merge key. Replaying a batch changes nothing (keep-latest is
    associative and commutative over (recency, src) maxima). The merge
    behind ``incremental_merge`` and the streaming upsert sink; on an
    ACID table format it is a MERGE INTO."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    merged = (
        existing.select(*incoming.columns)
        .withColumn("__src", F.lit(0))
        .unionByName(incoming.withColumn("__src", F.lit(1)))
    )
    w = Window.partitionBy(*unique_key).orderBy(
        F.col(recency_key).desc(), F.col("__src").desc()
    )
    return (
        merged.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def _save_parquet(df: DataFrame, mode: str, out: Path, partition_by: tuple[str, ...]) -> None:
    df.write.mode(mode).partitionBy(*partition_by).parquet(str(out))


class BuildContext:
    """What a model function sees: ``ctx.source(...)`` and ``ctx.ref(...)``.

    Recording which refs/sources each model touches builds the lineage
    DAG without any SQL parsing — the Python call graph IS the manifest.
    """

    def __init__(self, project: "Project", model_name: str):
        self._project = project
        self._model = model_name

    def source(self, source_name: str, table: str) -> DataFrame:
        self._project._models[self._model].deps.add(f"source:{source_name}.{table}")
        return self._project.read_source(source_name, table)

    def ref(self, model_name: str) -> DataFrame:
        self._project._models[self._model].deps.add(model_name)
        return self._project.build(model_name)

    @property
    def spark(self) -> SparkSession:
        return self._project.spark


class Project:
    """A collection of sources, models, and data tests — the dbt project.

    Usage::

        project = Project(spark, warehouse_dir="/tmp/wh")
        project.add_source(SourceDef("bike_shop", "customers", path, schema))

        @project.model(materialized="view", schema="staging")
        def stg_bike_shop__customers(ctx):
            return ctx.source("bike_shop", "customers").select(...)

        project.run()          # builds every model in dependency order
        project.run_tests()    # every declared test, 0 rows == pass
    """

    def __init__(self, spark: SparkSession, warehouse_dir: str, env: str = "dev"):
        self.spark = spark
        self.warehouse_dir = Path(warehouse_dir)
        self.env = env  # namespace prefix (generate_schema_name passthrough)
        self._sources: dict[tuple[str, str], SourceDef] = {}
        self._models: dict[str, ModelDef] = {}
        # single-flight memo: name -> its DataFrame, pending while it writes
        self._built: dict[str, Future] = {}
        self._unwritten: dict[str, Callable[[], None]] = {}  # planned, not started
        self._lock = threading.Lock()
        self._local = threading.local()  # per-thread cycle-detection stack
        self._tests: list = []  # populated via plans.testing
        self.metrics: dict[str, dict] = {}  # model -> observed write metrics
        self._obs_seq = 0  # Observation names must be fresh per attach

    # -- registration ------------------------------------------------------

    def add_source(self, source: SourceDef) -> None:
        self._sources[(source.source_name, source.table)] = source

    def model(
        self,
        fn: Callable | None = None,
        *,
        name: str | None = None,
        materialized: str = "view",
        schema: str = "main",
        incremental_key: str | None = None,
        unique_key: tuple[str, ...] | list[str] = (),
        partition_by: tuple[str, ...] | list[str] = (),
        bucket_by: tuple[str, ...] | list[str] = (),
        n_buckets: int = 0,
        observe: dict[str, str] | None = None,
    ):
        """Decorator registering a model function (dbt model .sql analog).

        ``observe`` declares single-pass write metrics: a dict of metric
        name → aggregate SQL expression (``count(1)``,
        ``sum(cast(x is null as long))``, ``min(o_orderdate)`` …)
        evaluated BY the materialization job itself via ``df.observe``
        (Spark accumulator plumbing — zero extra scan, exact even under
        task retries). After ``build()``, results land in
        ``project.metrics[model]``. This is the 100 TB answer to
        "row-count and null-rate checks re-read the table they just
        wrote": a generic data test costs a second full scan, an
        observation rides the write for free. Only write-materialized
        models can observe (a view has no action to piggyback on —
        declaring it there raises).

        ``partition_by`` hive-partitions table/incremental writes — the
        scale posture for fact tables (date partitions → partition
        pruning + dynamic partition pruning on date-keyed joins).

        ``materialized="ephemeral"`` (dbt's fourth stock materialization)
        never becomes a relation: ``ref()`` hands consumers the composed
        lazy plan itself — no temp view, no write, nothing addressable by
        name — and Catalyst inlines it into each downstream query, which
        is dbt's compile-to-CTE behavior made literal. Use it for shared
        intermediate logic too small or too hot to deserve a
        materialization barrier.

        ``materialized="incremental"`` requires ``incremental_key``: on
        rebuild, only rows with key strictly above the stored high
        watermark append (dbt's incremental materialization with an
        ``is_incremental()`` timestamp filter — here applied by the
        engine, so the predicate pushes down to the model's source scans
        through the lazy plan).

        ``materialized="incremental_merge"`` (dbt incremental with
        ``unique_key`` — the merge strategy) additionally requires
        ``unique_key``: rebuilds upsert — per key the most recent row by
        ``incremental_key`` wins, incoming rows beating existing on
        ties. Without an ACID table format this is :func:`keep_latest`
        (union + row_number over the key, one shuffle on the merge key)
        written through ``files.rewrite_parquet`` (write-to-temp +
        crash-safe swap, ``partition_by`` kept) — the same two calls the
        streaming upsert sink makes per micro-batch. On Delta/Iceberg
        the same model def compiles to MERGE INTO with file skipping.

        ``materialized="table_bucketed"`` (requires ``bucket_by`` +
        ``n_buckets``) hash-clusters files by the join key at WRITE time:
        two tables bucketed the same way join with NO exchange on either
        side — the pre-shuffle is paid once per build instead of once
        per query, the standard trick for a fact repeatedly joined on
        one hub key at 100 TB. Needs a catalog table (bucket metadata
        lives in the catalog, not parquet), hence ``saveAsTable``.
        """

        def deco(f: Callable[[BuildContext], DataFrame]):
            model_name = name or f.__name__
            if materialized not in (
                "view",
                "ephemeral",
                "table",
                "incremental",
                "incremental_merge",
                "table_bucketed",
            ):
                raise ValueError(f"unknown materialization {materialized!r}")
            if materialized == "ephemeral" and (partition_by or bucket_by or incremental_key):
                raise ValueError(
                    "ephemeral models never write — partition/bucket/incremental "
                    "configs have no materialization to apply to"
                )
            if observe and materialized == "ephemeral":
                raise ValueError(
                    "observe metrics need a write to ride on — ephemeral models "
                    "have no materialization action (use a data test instead)"
                )
            if materialized in ("incremental", "incremental_merge") and not incremental_key:
                raise ValueError(f"{materialized} materialization needs incremental_key")
            if materialized == "incremental_merge" and not unique_key:
                raise ValueError("incremental_merge needs unique_key")
            if materialized == "table_bucketed" and not (bucket_by and n_buckets > 0):
                raise ValueError("table_bucketed needs bucket_by and n_buckets")
            if observe and materialized == "view":
                raise ValueError(
                    "observe metrics need a write to ride on — view models "
                    "have no materialization action (use a data test instead)"
                )
            self._models[model_name] = ModelDef(
                name=model_name,
                fn=f,
                materialized=materialized,
                schema=schema,
                description=(f.__doc__ or "").strip(),
                incremental_key=incremental_key,
                unique_key=tuple(unique_key),
                partition_by=tuple(partition_by),
                bucket_by=tuple(bucket_by),
                n_buckets=n_buckets,
                observe=dict(observe or {}),
            )
            return f

        return deco(fn) if fn is not None else deco

    def add_test(self, test) -> None:
        self._tests.append(test)

    # -- resolution --------------------------------------------------------

    def read_source(self, source_name: str, table: str) -> DataFrame:
        key = (source_name, table)
        if key not in self._sources:
            raise KeyError(f"source {source_name}.{table} not registered")
        src = self._sources[key]
        reader = self.spark.read
        if src.schema is not None:
            reader = reader.schema(src.schema)
        return reader.parquet(src.path)

    def build(self, name: str) -> DataFrame:
        """Resolve a model to its DataFrame, building upstreams first.

        Views memoize the lazy plan; tables materialize to parquet under
        ``warehouse_dir/<env>_<schema>/<name>`` and return the read-back
        scan (the materialization barrier downstream models consume).

        The model is planned on this thread. Its write runs on the first
        thread that asks for it after planning: here, unless ``run()``
        already handed it to a pool thread, in which case this waits.
        """
        built = self._plan(name)
        with self._lock:
            write = self._unwritten.pop(name, None)
        if write is not None:
            write()
        return built.result()

    @property
    def _building(self) -> list[str]:
        """This thread's stack of models being planned."""
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _plan(self, name: str) -> Future:
        """Plan ``name`` once (single-flight): the first caller runs its
        model function on this thread; a write model's actions wait in
        ``_unwritten`` for a thread to start them."""
        if name not in self._models:
            raise KeyError(f"model {name!r} not registered")
        building = self._building
        if name in building:
            # checked before the memo: this thread would wait on itself
            cycle = " -> ".join([*building, name])
            raise ValueError(f"dependency cycle: {cycle}")
        with self._lock:
            if name in self._built:
                return self._built[name]
            built = self._built[name] = Future()

        mdef = self._models[name]
        building.append(name)
        try:
            df = mdef.fn(BuildContext(self, name))
            write = None
            if mdef.materialized == "view":
                df.createOrReplaceTempView(name)
            elif mdef.materialized != "ephemeral":
                write = self._writer(mdef, df)
        except BaseException as e:
            self._forget(name, built, e)
            raise
        finally:
            building.pop()

        if write is None:
            # a view or ephemeral model is its plan. dbt ephemeral: the
            # model is never a relation — every ref() interpolates it as a
            # CTE into the consumer. Spark's laziness makes that literal:
            # the memoized DataFrame IS the unexecuted subplan, and
            # Catalyst inlines it into each downstream plan (no temp view,
            # no warehouse path, nothing addressable by name in SQL —
            # exactly dbt's contract).
            built.set_result(df)
        else:
            with self._lock:
                self._unwritten[name] = partial(self._materialize, name, built, write)
        return built

    def _materialize(self, name: str, built: Future, write: Callable[[], DataFrame]) -> None:
        try:
            df = write()
            # both materializations are queryable by name, like dbt relations
            df.createOrReplaceTempView(name)
        except BaseException as e:
            self._forget(name, built, e)
            raise
        built.set_result(df)

    def _forget(self, name: str, built: Future, error: BaseException) -> None:
        """A failed build leaves no memo, so a later build plans afresh;
        threads already waiting get the error."""
        with self._lock:
            self._built.pop(name, None)
        built.set_exception(error)

    def _writer(self, mdef: ModelDef, df: DataFrame) -> Callable[[], DataFrame]:
        """Plan a write materialization of ``df`` on this thread. The
        returned thunk runs its Spark actions and returns the read-back
        relation. Each materialization decides only the frame to write
        and how to write it; an incremental model's high watermark and a
        merge's stored table are read here, as both shape the plan."""
        out = self._table_path(mdef)
        cols = df.columns
        save = partial(_save_parquet, mode="overwrite", out=out, partition_by=mdef.partition_by)

        if mdef.materialized == "table_bucketed":
            save = partial(self._save_bucketed, mdef, out)

        elif mdef.materialized == "incremental":
            from pyspark.sql import functions as F

            if (out / "_SUCCESS").exists():
                existing = self.spark.read.parquet(str(out))
                hwm = existing.agg(F.max(mdef.incremental_key)).collect()[0][0]
                if hwm is not None:
                    # the filter lands on the lazy plan → pushed through
                    # to the model's source scans (row-group pruning)
                    df = df.where(F.col(mdef.incremental_key) > F.lit(hwm))
                save = partial(save, mode="append")

        elif mdef.materialized == "incremental_merge":
            from live_data_spark.sources.files import recover_swapped_dir, rewrite_parquet

            # heal a swap a prior build may have left interrupted (the
            # table then lives in the backup dir; the _SUCCESS probe
            # below would otherwise silently reinitialize from this
            # batch alone)
            recover_swapped_dir(out)
            if (out / "_SUCCESS").exists():
                existing = self.spark.read.parquet(str(out))
                df = keep_latest(existing, df, mdef.unique_key, mdef.incremental_key)
            # a merge reads out, so the table is rewritten beside it and
            # swapped in, never overwritten in place
            save = partial(rewrite_parquet, out=out, partition_by=mdef.partition_by)

        # observed frame = the frame this write evaluates: the whole
        # table, the appended increment or the post-merge table
        df, obs = self._attach_observation(mdef, df)

        def write() -> DataFrame:
            save(df)
            if mdef.materialized == "table_bucketed":
                # read via the catalog — spark.read.parquet(path) would
                # lose the bucket spec and re-shuffle on join
                written = self.spark.table(self._qualified_name(mdef))
            else:
                # the written frame's schema spares the footer-reading job
                # that schema inference runs; Spark reads every field as
                # nullable, as inference would
                written = self.spark.read.schema(df.schema).parquet(str(out))
            self._harvest_observation(mdef, obs)
            # Hive layout moves partition columns last on read-back;
            # re-select so the model's declared column order is the contract
            return written.select(*cols)

        return write

    def _save_bucketed(self, mdef: ModelDef, out: Path, df: DataFrame) -> None:
        cat_name = self._qualified_name(mdef)
        self.spark.sql(f"DROP TABLE IF EXISTS {cat_name}")
        shutil.rmtree(out, ignore_errors=True)
        (
            df.write.mode("overwrite")
            .bucketBy(mdef.n_buckets, *mdef.bucket_by)
            .sortBy(*mdef.bucket_by)
            .option("path", str(out))
            .saveAsTable(cat_name)
        )

    def _qualified_name(self, mdef: ModelDef) -> str:
        # the env-prefixed name a model's catalog table and observations carry
        return f"{self.env}_{mdef.schema}_{mdef.name}"

    def _attach_observation(self, mdef: ModelDef, df: DataFrame):
        """Wrap the about-to-be-written frame with ``df.observe`` metrics.

        Spark evaluates the declared aggregates inside the write job's
        tasks (accumulator-backed, retry-exact for completed queries) —
        the single-pass alternative to re-scanning the freshly written
        table for row counts / null rates. No-op when the model declares
        no metrics.
        """
        if not mdef.observe:
            return df, None
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        self._obs_seq += 1
        obs = Observation(f"{self._qualified_name(mdef)}_{self._obs_seq}")
        return (
            df.observe(obs, *[F.expr(e).alias(k) for k, e in mdef.observe.items()]),
            obs,
        )

    def _harvest_observation(self, mdef: ModelDef, obs) -> None:
        if obs is not None:
            self.metrics[mdef.name] = obs.get

    def _table_path(self, mdef: ModelDef) -> Path:
        # generate_schema_name passthrough: env-prefixed namespace (D4)
        return self.warehouse_dir / f"{self.env}_{mdef.schema}" / mdef.name

    # -- execution ---------------------------------------------------------

    def topo_order(self) -> list[str]:
        """Dependency-ordered model names (stable: registration order
        within a level). Deps are discovered lazily, so this plans from
        whatever has been recorded — ``run()`` resolves the full graph
        regardless by building recursively.
        """
        order: list[str] = []
        seen: set[str] = set()

        def visit(n: str, stack: tuple[str, ...]):
            if n in seen:
                return
            if n in stack:
                raise ValueError(f"dependency cycle: {' -> '.join([*stack, n])}")
            for dep in sorted(self._models[n].deps):
                if not dep.startswith("source:"):
                    visit(dep, (*stack, n))
            seen.add(n)
            order.append(n)

        for n in self._models:
            visit(n, ())
        return order

    def run(self, select: list[str] | None = None) -> dict[str, DataFrame]:
        """Build every (selected) model, upstream-first. Returns name → df.

        Like ``dbt run``, ephemeral models are not run as nodes — they
        build implicitly (lazily) inside whichever consumers ref them.
        An explicit ``select`` can still name one to get its plan.

        Models are planned here, in order; each write starts on an
        ``ActionPool`` thread once its model is planned (dbt ``threads``,
        at most ``defaultParallelism``). Every write ends before this
        returns or raises, and the first failure in model order wins.
        """
        names = select or [
            n for n, m in self._models.items() if m.materialized != "ephemeral"
        ]
        pending, error = [], None
        with ActionPool(self.spark) as pool:
            for n in names:
                try:
                    planned = self._plan(n)
                except Exception as e:  # noqa: BLE001 - raised after the writes end
                    error = e
                    break
                pending.append(pool.submit(self.build, n) if n in self._unwritten else planned)
        results = [f.result() for f in pending]  # an earlier model's failure comes first
        if error is not None:
            raise error
        return dict(zip(names, results))

    def run_tests(self, select: list[str] | None = None, store_failures: bool = False):
        """Run declared data tests; see plans.testing for semantics.

        ``store_failures`` (dbt config analog): persist each failing
        test's FULL violation set under ``{warehouse}/test_failures/``
        so failures are queryable tables, not just log samples.
        Severity gating is the caller's job via ``TestResult.blocking``
        (dbt: ``warn`` reports, only ``error`` fails the run).

        Every test's violation query is planned here first; the queries
        then run on an ``ActionPool`` and the results come back in
        declaration order.
        """
        failures_dir = f"{self.warehouse_dir}/test_failures" if store_failures else None
        tests = [t for t in self._tests if not select or t.model in select]
        plans = [t.build(self) for t in tests]
        return run_actions(self.spark, [
            partial(t.run, self, failures_dir, violations=v) for t, v in zip(tests, plans)
        ])

    def invalidate(self) -> None:
        """Drop memoized builds (e.g., after raw tables received a batch),
        once every write in flight has ended."""
        with self._lock:
            pending = list(self._built.values())
        wait(pending)
        for name in self._built:
            self.spark.catalog.dropTempView(name)
        self._built.clear()

    def drop_warehouse(self) -> None:
        shutil.rmtree(self.warehouse_dir, ignore_errors=True)

    # -- introspection -----------------------------------------------------

    def lineage(self) -> dict[str, set[str]]:
        """model → direct dependencies (models and source:* pseudo-nodes)."""
        return {n: set(m.deps) for n, m in self._models.items()}

    def manifest(self) -> dict:
        """dbt-manifest analog: the project graph as one JSON-able dict.

        What `dbt docs generate` emits (nodes + sources + tests + edges),
        for lineage tooling and CI diffing. Deps are complete only after
        the models have been built once (the call graph IS the manifest —
        BuildContext records refs/sources as they happen).
        """
        return {
            "sources": [
                {"source": s.source_name, "table": s.table, "path": s.path}
                for s in self._sources.values()
            ],
            "models": [
                {
                    "name": m.name,
                    "materialized": m.materialized,
                    "schema": f"{self.env}_{m.schema}",
                    "description": m.description,
                    "partition_by": list(m.partition_by),
                    "bucket_by": list(m.bucket_by),
                    "depends_on": sorted(m.deps),
                }
                for m in self._models.values()
            ],
            "tests": [
                {"name": t.test_name, "model": t.model, "column": t.column}
                for t in self._tests
            ],
        }

    def relation(self, name: str) -> DataFrame:
        """A built model by name (builds on demand) — for test queries."""
        return self.build(name)
