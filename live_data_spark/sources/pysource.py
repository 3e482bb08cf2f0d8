"""Custom connector via Spark 4's Python DataSource API.

When a system has no JVM connector, Spark 4 lets a PURE-PYTHON class
become a first-class ``spark.read.format(...)`` source: the planner asks
it for a schema and a partition list, then executors call ``read(part)``
per partition in parallel — real distributed scan semantics (one task
per partition, no driver bottleneck) without writing Scala.

The instance here is a deterministic synthetic-document generator
(seeded per partition, so re-reads are bit-identical and partitions are
independent) — the shape any "generate N records of test/load data
across the cluster" source takes, and a template for wrapping real
paginated/partitioned systems: replace ``read``'s loop with the client
fetch for that partition's shard.

Registration is per-session (``spark.dataSource.register``) — no jars,
no packages, exactly the gap the API exists to fill.
"""

from __future__ import annotations

import hashlib
import operator
from functools import reduce

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

_WORDS = (
    "spark data table query join merge sort hash scan filter window batch "
    "stream row column value key part order line customer vector"
).split()

_LANGS = ("en", "de", "es", "fr", "zh")


class _DocsPartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


class SyntheticDocsReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", 100))
        self.num_parts = int(options.get("partitions", 4))

    def partitions(self):
        if self.n <= 0:  # empty source: zero partitions, not a range() crash
            return [_DocsPartition(0, 0)]
        step = -(-self.n // self.num_parts)
        return [
            _DocsPartition(i, min(i + step, self.n))
            for i in range(0, self.n, step)
        ]

    def read(self, partition: _DocsPartition):
        # seeded PER ROW from the doc id — identical output regardless of
        # partitioning, so repartitioned re-reads stay deterministic
        for doc_id in range(partition.start, partition.end):
            h = hashlib.md5(f"doc:{doc_id}".encode()).digest()
            n_words = 5 + h[0] % 20
            words = [
                _WORDS[h[1 + (j % 14)] % len(_WORDS)] for j in range(n_words)
            ]
            text = " ".join(words)
            yield (doc_id, text, _LANGS[h[15] % len(_LANGS)], len(text))


class SyntheticDocsDataSource(DataSource):
    """``spark.read.format("synthetic_docs").option("n", 1000)``."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_docs"

    def schema(self) -> str:
        return "doc_id long, text string, lang string, n_chars long"

    def reader(self, schema) -> SyntheticDocsReader:
        return SyntheticDocsReader(self.options)


def register_synthetic_docs(spark) -> None:
    """Idempotent session registration of the custom format."""
    spark.dataSource.register(SyntheticDocsDataSource)


# -- streaming form: offset-tracked, executor-parallel micro-batches ---------

from pyspark.sql.datasource import DataSourceStreamReader  # noqa: E402


class SyntheticDocsPartitionedStreamReader(DataSourceStreamReader):
    """Offset-based streaming reads of the same deterministic doc space,
    read by executors in parallel.

    Offsets are plain doc-id watermarks ``{"next": n}``: ``latestOffset``
    reports how far the doc space currently extends, and each
    micro-batch's [start, end) range splits into ``partitions`` ranges
    that EXECUTORS read in parallel — the same task-per-partition scan
    semantics as the batch source, now per micro-batch. Per-row seeding
    keeps any replay of any range bit-identical regardless of how the
    range was partitioned, which is exactly the recovery contract (a
    failed batch re-reads the same rows) and why the batch twin agrees
    (pinned in tests/test_sources.py via ``parity_report``).

    Deliberately NO ``batch_size`` admission throttle:
    ``latestOffset()`` takes no start argument in the Python API, so a
    per-instance "advance by K each poll" counter restarts from zero
    with every new query instance — after a restart whose checkpoint is
    past K the advertised latest sits at or behind the committed offset
    forever and the stream silently stalls. Rate limiting in this API
    belongs to the upstream poll itself; a fully-available synthetic
    space reports its true extent, which is safe across any restart
    because latest ≥ any committed offset. Restart-resume is pinned in
    tests/test_sources.py.
    """

    def __init__(self, options):
        self.total = int(options.get("n", 100))
        self.num_parts = int(options.get("partitions", 4))

    def initialOffset(self) -> dict:
        return {"next": 0}

    def latestOffset(self) -> dict:
        # a real source would poll its upstream's current end position;
        # the synthetic space is fully available up to its declared size
        return {"next": self.total}

    def partitions(self, start: dict, end: dict):
        s, e = int(start["next"]), int(end["next"])
        if e <= s:
            return []
        step = -(-(e - s) // self.num_parts)
        return [_DocsPartition(i, min(i + step, e)) for i in range(s, e, step)]

    def read(self, partition: _DocsPartition):
        # executor-side: identical per-row derivation as the batch reader
        return SyntheticDocsReader({"n": partition.end}).read(partition)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the checkpoint; nothing external to ack


class SyntheticDocsPartitionedStreamDataSource(SyntheticDocsDataSource):
    """``spark.readStream.format("synthetic_docs_pstream")...``."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_docs_pstream"

    def streamReader(self, schema) -> SyntheticDocsPartitionedStreamReader:
        return SyntheticDocsPartitionedStreamReader(self.options)


def register_synthetic_docs_pstream(spark) -> None:
    spark.dataSource.register(SyntheticDocsPartitionedStreamDataSource)


# -- catalog-visible batch/stream parity twin ---------------------------------

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from live_data_spark.catalog import register  # noqa: E402
from live_data_spark.session import local_frame  # noqa: E402

# two availableNow drains over a growing doc space (n/2, then n): enough
# to prove the offset walk (drain 2 resumes from the checkpointed offset),
# while each drain start/stop costs seconds of stream machinery —
# completeness needs no extra confirm drain because the parity columns
# would expose an unfinished backlog as n_stream < n_batch
PYSOURCE_PARITY_N = 120


def parity_report(
    streamed: DataFrame,
    batch: DataFrame,
    key: str = "doc_id",
    rollup: str = "lang",
) -> DataFrame:
    """Per-``rollup`` (n_stream, n_batch, n_mismatch) between a landed
    stream frame and its batch twin (defaults fit the synthetic-docs
    schema; pass ``key``/``rollup`` for any other twin — both must be
    columns of ``batch``). Each side is first aggregated to per-row
    multiplicities (group by EVERY column); the multiplicity frames then
    full-outer-join on ``key``, and a row mismatches when any column
    differs, either side is absent, or either multiplicity ≠ 1. The
    multiplicity step is what makes duplicate deliveries DETECTABLE: a
    raw row-level outer join fans the batch row out once per duplicate,
    inflating n_batch in lockstep with n_stream with zero mismatches —
    a replayed micro-batch would pass silently. With the multiplicity
    frames, an IDENTICAL duplicate inflates n_stream alone (count skew)
    AND trips n_mismatch; a DIFFERING-payload redelivery still fans the
    doc_id join out (two s-groups hit one b-group, so both counts
    inflate) but cannot escape n_mismatch — so n_mismatch == 0 is the
    authoritative signal, and the count columns are corroboration, not
    delivery counts. Factored out of the catalog entry so tests can
    drive the detector on planted duplicate/missing/corrupt frames
    without a stream run."""
    cols = batch.columns
    s = streamed.groupBy(*cols).agg(F.count(F.lit(1)).alias("s_cnt"))
    s = s.select(*[F.col(c).alias(f"s_{c}") for c in cols], "s_cnt")
    b = batch.groupBy(*cols).agg(F.count(F.lit(1)).alias("b_cnt"))
    b = b.select(*[F.col(c).alias(f"b_{c}") for c in cols], "b_cnt")
    joined = s.join(b, F.col(f"s_{key}") == F.col(f"b_{key}"), "full_outer")
    mismatch = (
        F.when(
            reduce(
                operator.and_,
                [F.col(f"s_{c}").eqNullSafe(F.col(f"b_{c}")) for c in cols]
                + [
                    F.col("s_cnt").eqNullSafe(F.lit(1)),
                    F.col("b_cnt").eqNullSafe(F.lit(1)),
                ],
            ),
            0,
        )
        .otherwise(1)
        .alias("mm")
    )
    return (
        joined.select(
            F.coalesce(f"s_{rollup}", f"b_{rollup}").alias(rollup),
            F.coalesce("s_cnt", F.lit(0)).alias("in_stream"),
            F.coalesce("b_cnt", F.lit(0)).alias("in_batch"),
            mismatch,
        )
        .groupBy(rollup)
        .agg(
            F.sum("in_stream").cast("bigint").alias("n_stream"),
            F.sum("in_batch").cast("bigint").alias("n_batch"),
            F.sum("mm").cast("bigint").alias("n_mismatch"),
        )
        .orderBy(rollup)
    )


@register("pysource_stream_batch_parity", oracle=None, tags=("source", "streaming"))
def pysource_stream_batch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch/stream EQUALITY twin for the Python DataSource pair — the
    same catalog-visible contract the events streaming jobs carry
    (every streaming operator ships with a batch twin whose equality is
    checked): drain ``synthetic_docs_pstream`` twice against one
    checkpoint while its doc space grows (n/2, then n — the second drain
    resumes from the checkpointed offset), then compare against the
    BATCH ``synthetic_docs`` read of the same doc space. Each side is first
    aggregated to per-row multiplicities (group by EVERY column) and the
    multiplicity frames full-outer-join on doc_id — an identical
    duplicate delivery therefore inflates ``n_stream`` alone AND trips
    ``n_mismatch`` (multiplicity ≠ 1), instead of fanning the batch row
    out and cancelling as a raw row-level outer join would (the
    full-outer fan-out would keep n_batch == n_stream and mm == 0 for
    identical duplicates — silently passing a replayed micro-batch; a
    differing-payload redelivery still fans out but trips n_mismatch,
    the authoritative signal — see ``parity_report``).
    All-zero ``n_mismatch`` with equal counts IS the exactly-once +
    replay-determinism claim, recomputed distributed on every run.
    Rows-only driver check (the doc space is md5-seeded — no SQL twin);
    the micro-batch offset walk itself is pinned in tests/test_sources.py.

    ``sf_dir`` is unused: the source generates its own deterministic
    corpus (that is the point of the connector).
    """
    import tempfile

    from live_data_spark.streaming.jobs import run_available_now

    register_synthetic_docs(spark)
    register_synthetic_docs_pstream(spark)

    with tempfile.TemporaryDirectory(prefix="pysource_parity_") as tmp:
        sink, ckpt = f"{tmp}/sink", f"{tmp}/ckpt"
        # one partition per micro-batch: more partitions only write more
        # sink files for the same rows
        for n in (PYSOURCE_PARITY_N // 2, PYSOURCE_PARITY_N):
            stream = (
                spark.readStream.format("synthetic_docs_pstream")
                .option("n", n)
                .option("partitions", 1)
                .load()
            )
            run_available_now(stream, sink, ckpt)
        streamed = spark.read.parquet(sink)
        batch = (
            spark.read.format("synthetic_docs").option("n", PYSOURCE_PARITY_N).load()
        )
        out = parity_report(streamed, batch)
        # materialize before the temp sink disappears (bounded: ≤|langs| rows)
        rows = [tuple(r) for r in out.collect()]
    return local_frame(
        spark, rows, "lang string, n_stream bigint, n_batch bigint, n_mismatch bigint"
    )

