"""The ingestion pipeline — the Airflow DAG as a Python runner.

Reference: airflow/dags/refresh_source_data.py (task graph at SURVEY.md
§3.2). Each Airflow task maps to a step of ``BikeShopPipeline.run()``:

  check_conn            → spark.sql("select 1")                  (S8)
  check_tables + branch → per-table existence check              (S7, O1;
                          per-table on purpose — SURVEY §8.3 deviation)
  create_tables         → idempotent empty-parquet raw tables    (S6)
  get_existing_customers→ deterministic 5% sample LIMIT 50       (L1, L2)
  get_*_data            → MockDataSpark seed/refresh             (O2)
  get_files_list        → walk generated dir, skip static
                          products on refresh                    (O6)
  stage_file.expand     → gzip into stage/<run>/                 (S4, O3)
  copy_file.expand      → checkpointed landing stream per table:
                          schema-enforced TSV read → APPEND      (S5, X3)
  remove_staged/clean   → directory cleanup                      (S9, S10)

The XCom hops (O4) are plain Python values. Dynamic task mapping (O3) is
``session.run_actions``: the per-table TSV writes, and then the per-table
COPYs, run concurrently on driver threads, as ``stage_file.expand`` and
``copy_file.expand`` run as parallel task instances. A 1000-row batch
leaves Spark's cores idle while one table's small jobs wait on the driver;
overlapping the tables fills them. The run marker is written only after
every COPY committed; a failed COPY fails the run once its siblings end.

Scale: each COPY is an AvailableNow drain into a parquet file sink — at
100 TB the landing files arrive partitioned and the append is a parallel
file-commit, no shuffle at all. Raw tables are plain parquet dirs (the
sink's ``_spark_metadata`` log lists the committed files); downstream
models prune columns against them.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from live_data_spark.bikeshop.generator import MockDataSpark
from live_data_spark.bikeshop.schema import RAW_SCHEMAS
from live_data_spark.session import local_frame, run_actions
from live_data_spark.sources.files import clean_dir, stage_files, write_tsv
from live_data_spark.streaming.jobs import landing_append_stream


@dataclass
class BikeShopPipeline:
    """One root = one DAG; ``run()`` = one (serialized) DAG run (O5). All
    state lives under the root, so a fresh runner per run (Airflow's fresh
    process per DAG run) continues where the last one stopped, and a
    retried run re-stages its batch under the same file names."""

    spark: SparkSession
    root: str  # working root: raw/, generated/, stage/, checkpoints/, runs/
    seed: int = 42

    @property
    def raw_dir(self) -> Path:
        return Path(self.root) / "raw"

    @property
    def generated_dir(self) -> Path:
        return Path(self.root) / "generated"

    @property
    def stage_dir(self) -> Path:
        return Path(self.root) / "stage"

    @property
    def runs_completed(self) -> int:
        """DAG runs whose every COPY committed: one marker file each."""
        return len(list((Path(self.root) / "runs").glob("*")))

    # -- individual tasks --------------------------------------------------

    def check_conn(self) -> None:
        """S8: `select 1` healthcheck (check_conn.sql:1)."""
        assert self.spark.sql("select 1").collect()[0][0] == 1

    def table_exists(self, table: str) -> bool:
        """S7/O1 — per-table, not schema-level (SURVEY §8.3 deviation:
        the reference skips creation if ANY table exists in the schema).
        """
        return (self.raw_dir / table / "_SUCCESS").exists()

    def create_tables(self) -> None:
        """S6: CREATE TABLE IF NOT EXISTS — empty parquet with the
        declared schema (create_tables.sql + mock_schema.py)."""
        for table, schema in RAW_SCHEMAS.items():
            if not self.table_exists(table):
                empty = local_frame(self.spark, [], schema)
                empty.write.mode("overwrite").parquet(str(self.raw_dir / table))

    def read_raw(self, table: str) -> DataFrame:
        return self.spark.read.schema(RAW_SCHEMAS[table]).parquet(str(self.raw_dir / table))

    def get_existing_customers(self) -> DataFrame:
        """L1/L2: SAMPLE (5) LIMIT 50 returning-customer pick
        (sample_table.sql:3-5). Deterministic hash-sample (Bernoulli is
        engine-nondeterministic — dialect.deterministic_sample rationale);
        the string UUID key is hashed to an integer first. LIMIT keeps
        the pool bounded exactly like the reference; ordering by (bucket,
        id) first makes the pick independent of the raw files' layout.
        """
        from pyspark.sql import functions as F

        c = self.read_raw("customers")
        h = F.pmod(F.xxhash64("id", F.lit(self.seed)), F.lit(100))
        return c.where(h < 5).orderBy(h, "id").limit(50).select("id")

    def generate(self, initial: bool) -> list[str]:
        """O2: initial seed vs refresh batch; writes TSVs (S3) and returns
        the file list (get_files_list), applying the static-dim skip (O6).
        """
        # per-run load timestamp (the reference stamps now() each DAG run;
        # deterministic analog: base + run index)
        import datetime as _dt

        batch = self.runs_completed
        gen = MockDataSpark(
            self.spark,
            seed=self.seed + batch,
            loaded_at=_dt.datetime(2026, 8, 13) + _dt.timedelta(minutes=batch),
        )
        if initial:
            frames = gen.seed_initial()
        else:
            frames = gen.refresh(
                self.get_existing_customers(),
                batch=batch,
                products=self.read_raw("products"),
            )
        run_actions(self.spark, [partial(write_tsv, df, str(self.generated_dir / table))
                                 for table, df in frames.items()])
        return sorted(frames)  # products absent on refresh → O6 for free

    def copy_into(self, table: str) -> int:
        """S5/X3: COPY INTO — staged gz TSVs, explicit schema, APPEND,
        through the table's landing stream; its checkpoint skips every file
        already loaded. The glob over run dirs keeps the source path fixed."""
        staged = self.stage_dir / "*" / table
        checkpoint = Path(self.root) / "checkpoints" / table
        landing_append_stream(self.spark, str(staged), str(self.raw_dir / table),
                              str(checkpoint), RAW_SCHEMAS[table])
        return self.read_raw(table).count()

    # -- the DAG -----------------------------------------------------------

    def run(self) -> dict[str, int]:
        """One DAG run; returns per-table row counts after the load."""
        self.check_conn()
        batch = self.runs_completed
        initial = batch == 0
        if initial:
            self.create_tables()
        clean_dir(str(self.stage_dir))  # a failed run's leftovers
        tables = self.generate(initial)
        stage_files(str(self.generated_dir), str(self.stage_dir / str(batch)))
        counts = dict(zip(tables, run_actions(self.spark, [partial(self.copy_into, t)
                                                           for t in tables])))
        (Path(self.root) / "runs").mkdir(exist_ok=True)
        (Path(self.root) / "runs" / str(batch)).touch()
        clean_dir(str(self.stage_dir))
        clean_dir(str(self.generated_dir))
        return counts
