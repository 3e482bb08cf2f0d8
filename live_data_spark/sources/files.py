"""Typed file readers/writers — the reference's CSV transport layer.

Reference surface (SURVEY.md §2.1): S2/S3 tab-separated read/write
(mock_data.py:36,111-114), S4 stage PUT (stage_files.sql — files land
gzip-compressed in a stage directory), S5 ``COPY INTO`` (copy_data.sql:1-2
— tab-delim, skip_header=1, append; ``streaming/jobs.py``'s landing stream).

Spark mapping: ``TSV_OPTIONS`` is the one staged-file format; the COPY
stream reads it with an explicit schema (never inference for raw data,
SURVEY §1.3); gzip is transparent to Spark's CSV reader, matching
Snowflake's auto-gzip stage behavior. Timestamps parse RFC-3339-ish with
``timestampNTZFormat`` so `timestamp_ntz` columns round-trip exactly.
"""

from __future__ import annotations

import gzip
import shutil
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_TS_NTZ_FMT = "yyyy-MM-dd HH:mm:ss[.SSSSSS]"
# the staged-file format (copy_data.sql:2): header row, tab-delimited
TSV_OPTIONS = {"header": True, "sep": "\t", "timestampNTZFormat": _TS_NTZ_FMT}


def write_tsv(df: DataFrame, path: str) -> None:
    """S3: write a frame as tab-separated CSV (mock_data.py:111-114).

    One directory of part files per table — Spark-native parallel write
    (the reference writes one file because it is single-process; partfiles
    are the distributed equivalent and the readers accept directories).
    """
    df.write.mode("overwrite").options(**TSV_OPTIONS).csv(path)


def read_jsonl(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Schema-enforced JSON-lines read (extension: the lingua franca of
    LLM-corpus interchange; not in the reference, which is CSV-only).

    Same discipline as CSV: never infer (inference is a full extra pass
    over 100 TB and type-unstable across batches). Gzip is transparent.
    Malformed lines land in ``_corrupt_record`` when the schema declares
    it (PERMISSIVE) instead of failing the job.
    """
    return (
        spark.read.schema(schema)
        .option("timestampNTZFormat", _TS_NTZ_FMT)
        .json(path)
    )


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSON-lines write — partfile-parallel like ``write_tsv``."""
    df.write.mode("overwrite").option("timestampNTZFormat", _TS_NTZ_FMT).json(path)


def stage_files(generated_dir: str, stage_dir: str) -> list[str]:
    """S4: PUT generated files into the stage (stage_files.sql:1).

    Snowflake's PUT auto-gzips on upload; we mirror that so the ingest
    reader exercises the compressed path. Parts are named by their sorted
    index, so re-staging a batch reproduces its file names and the COPY
    load history skips what it already loaded. Returns staged table dirs.
    """
    staged = []
    stage = Path(stage_dir)
    stage.mkdir(parents=True, exist_ok=True)
    for table_dir in sorted(Path(generated_dir).iterdir()):
        if not table_dir.is_dir():
            continue
        dest = stage / table_dir.name
        dest.mkdir(parents=True, exist_ok=True)
        for i, part in enumerate(sorted(table_dir.glob("*.csv"))):
            with open(part, "rb") as fin, gzip.open(dest / f"part-{i:05d}.csv.gz", "wb") as fout:
                shutil.copyfileobj(fin, fout)
        staged.append(str(dest))
    return staged


def clean_dir(path: str) -> None:
    """S9/S10: stage/local cleanup (refresh_source_data.py:177-186)."""
    shutil.rmtree(path, ignore_errors=True)


# -- recoverable directory swap ----------------------------------------------

_SWAP_BAK_SUFFIX = ".__swap_bak"
_REWRITE_TMP_SUFFIX = ".__rewrite_tmp"


def recover_swapped_dir(out: str | Path) -> None:
    """Heal an interrupted :func:`swap_dir`: the fully-written table
    always exists under exactly one of (out, backup), so recovery is
    deterministic — out missing + backup present means the crash hit
    between the two renames (restore the backup); both present means it
    hit before backup cleanup (the new state already won; drop the
    stale backup). Callers run this BEFORE reading or merging a
    swap-maintained store."""
    out = Path(out)
    bak = out.parent / (out.name + _SWAP_BAK_SUFFIX)
    if bak.exists():
        if out.exists():
            shutil.rmtree(bak)
        else:
            bak.rename(out)


def swap_dir(tmp: str | Path, out: str | Path) -> None:
    """Replace directory ``out`` with fully-written ``tmp`` via two
    renames (out→backup, tmp→out) and a backup cleanup — never
    rmtree-then-rename, whose crash window silently loses the ENTIRE
    store: the checkpoint has already committed the merged input files,
    so a restart neither replays them nor finds the old state, and the
    orphaned temp is deleted by the next merge. With the rename order
    here the data survives a crash at ANY point (in out, in the backup,
    or in both), and :func:`recover_swapped_dir` restores the invariant
    on restart. POSIX-atomic per rename on one filesystem; object
    stores swap via a table-format commit instead — this is the
    file-layout core."""
    tmp, out = Path(tmp), Path(out)
    bak = out.parent / (out.name + _SWAP_BAK_SUFFIX)
    if bak.exists():  # stale backup from a healed crash
        shutil.rmtree(bak)
    if out.exists():
        out.rename(bak)
    tmp.rename(out)
    shutil.rmtree(bak, ignore_errors=True)


def rewrite_parquet(df: DataFrame, out: str | Path, partition_by: tuple[str, ...] = ()) -> None:
    """Replace the parquet table at ``out`` with ``df``, crash-safe: write
    to a temp dir beside ``out`` (dropping one a killed rewrite left),
    then :func:`swap_dir` it in. ``df`` may read ``out`` itself — a merge
    of the stored table with a batch — which an in-place overwrite would
    truncate before its scan runs. The one write-to-temp + swap in the
    package; callers run :func:`recover_swapped_dir` before they read
    ``out``."""
    out = Path(out)
    tmp = out.parent / (out.name + _REWRITE_TMP_SUFFIX)
    shutil.rmtree(tmp, ignore_errors=True)
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(str(tmp))
    swap_dir(tmp, out)


def compact_parquet(
    spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Compact a parquet directory's small files; returns the new file count.

    Streaming-sink hygiene: micro-batch appends (landing_append_stream,
    foreachBatch sinks) produce one file per trigger per partition, and at
    100 TB a table read pays per-file open/footer costs — periodic
    compaction to ~``target_file_bytes`` files keeps scans fast. The
    rewrite goes through :func:`rewrite_parquet`, so readers never see a
    half-written table and a killed compaction loses nothing.

    Local-filesystem sizing (pathlib); an HDFS/S3 deploy swaps the size
    probe for the Hadoop FileSystem API without changing the rewrite.
    """
    import math

    root = Path(path)
    recover_swapped_dir(root)  # heal a previously interrupted swap
    parts = list(root.rglob("*.parquet"))
    total = sum(p.stat().st_size for p in parts)
    n_files = max(1, math.ceil(total / target_file_bytes))
    if len(parts) <= n_files:
        return len(parts)

    rewrite_parquet(spark.read.parquet(str(root)).repartition(n_files), root)
    return len(list(root.rglob("*.parquet")))


def read_orc(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """ORC scan — the other columnar format Spark reads natively.

    Same engine posture as parquet: vectorized reader, predicate
    pushdown, column pruning; an explicit schema skips footer inference
    on wide directories. Interop surface for Hive-era warehouses whose
    facts landed as ORC.
    """
    reader = spark.read.format("orc")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_orc(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> None:
    """ORC write (overwrite), optionally hive-partitioned."""
    writer = df.write.mode("overwrite").format("orc")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_sorted_parquet(
    df: DataFrame, path: str, sort_cols: tuple[str, ...], n_files: int | None = None
) -> None:
    """Range-partition + sort-within-partition parquet write — the data
    layout that makes min/max row-group statistics selective.

    An unsorted write leaves every row group spanning the full value
    domain, so a range predicate prunes nothing; ``repartitionByRange``
    gives each FILE a disjoint slice of the sort key and the
    within-partition sort tightens every ROW GROUP inside it (the poor
    man's clustering key / Z-order for the single-column case). Readers
    then skip whole groups via parquet stats under the pushed filter —
    tests/test_sources.py proves the written stats are disjoint.
    """
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, *[F.col(c) for c in sort_cols])
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def read_text_corpus(
    spark: SparkSession, path: str, whole_file: bool = False
) -> DataFrame:
    """LLM-corpus raw-text ingestion: one row per LINE (default) or one
    row per FILE (``whole_file=True`` — document-per-file corpora).

    Line mode streams splittable line chunks (a 100 TB corpus scans
    wide); whole-file mode is NOT splittable — one task per file — so
    it's for corpora already sharded into many ≤100 MB documents, never
    one giant file. Adds the source path column either way: provenance
    is a first-class column in every curation operator (source caps,
    dedup rates, mix planning all key on it).
    """
    # NB: must go through text()'s own parameter — DataFrameReader.text
    # re-sets wholetext from its signature default, silently overriding a
    # prior .option("wholetext", ...) call
    df = spark.read.text(path, wholetext=whole_file)
    return df.select(
        F.input_file_name().alias("source_path"), F.col("value").alias("text")
    )


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Multimodal raw ingestion via Spark's ``binaryFile`` source:
    (path, modificationTime, length, content) per file — the real scan
    behind ``operators/multimodal.py`` (its ``real_media_table`` is the
    driver-testdata stand-in for exactly this reader). Non-splittable by
    design (a file IS the record); scale comes from file COUNT, and the
    standard deployment packs small media into larger containers
    upstream. ``glob`` filters by pattern at the listing, so a
    ``*.png`` scan never opens the audio shards.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path).select(
        F.col("path").alias("source_path"),
        F.col("length").alias("n_bytes"),
        F.col("content").alias("payload"),
    )


def read_jsonl_corpus(
    spark: SparkSession, path: str, schema: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """JSONL corpus ingestion — the de-facto interchange format for
    training-data pipelines (one JSON document per line). Returns
    ``(good, bad)``: parsed rows with provenance, and the raw corrupt
    lines quarantined for inspection instead of silently dropped or
    fatally failing a 100 TB ingest.

    Design choices that matter at scale:

    - An EXPLICIT schema is strongly preferred (default covers the
      documents-table shape): without one, Spark runs a full inference
      pre-pass over every byte before the real scan — two reads of the
      corpus. With one, JSONL is line-splittable and scans wide like any
      text source.
    - ``PERMISSIVE`` + ``columnNameOfCorruptRecord``: a malformed line
      becomes a row whose ``_corrupt_record`` holds the raw text. The
      split into (good, bad) happens with one filter each — and because
      Spark refuses to filter on the corrupt column alone (SPARK-38962:
      the pruned plan would re-parse and never materialize it), both
      frames select data columns alongside it.
    - Dropping vs quarantining is a POLICY decision: bad rows carry
      provenance (source_path) so the broken shard upstream is
      identifiable, the same first-class-provenance rule as
      read_text_corpus.
    """
    sch = schema or (
        "doc_id BIGINT, text STRING, lang STRING, source STRING, "
        "n_chars BIGINT, _corrupt_record STRING"
    )
    if "_corrupt_record" not in sch:
        sch = sch + ", _corrupt_record STRING"
    df = (
        spark.read.schema(sch)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .withColumn("source_path", F.input_file_name())
    )
    # No .cache(): at 100 TB pinning the parsed corpus is the bug, not the
    # optimization. Consuming BOTH frames costs two scans when both are
    # materialized directly — a production ingest lands the combined
    # frame to partitioned storage once (partitionBy(is_corrupt)) and
    # reads the splits from there; tests and small runs don't care.
    good = df.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    # The coalesce with a data column is LOAD-BEARING, not defensive: it
    # keeps a real field in the pruned scan so the corrupt column is not
    # the only reference (Spark raises QUERY_ONLY_CORRUPT_RECORD_COLUMN
    # otherwise — SPARK-38962). Under the isNotNull filter it always
    # returns the raw line. The companion field is the schema's FIRST
    # data column (cast to string) — never a hardcoded name, which made
    # the quarantine frame unusable for exactly the custom schemas the
    # ``schema`` parameter exists for.
    data_cols = [c for c in df.columns if c not in ("_corrupt_record", "source_path")]
    if not data_cols:
        raise ValueError(
            "read_jsonl_corpus: schema must declare at least one data column "
            "besides the reserved _corrupt_record/source_path — an "
            "only-reserved schema parses nothing and cannot anchor the "
            f"quarantine frame's pruned scan (got: {sch!r})"
        )
    bad = df.where(F.col("_corrupt_record").isNotNull()).select(
        "source_path",
        F.coalesce(
            F.col("_corrupt_record"), F.col(data_cols[0]).cast("string")
        ).alias("raw_line"),
    )
    return good, bad



def read_xml(
    spark: SparkSession, path: str, row_tag: str, schema: StructType | None = None
) -> DataFrame:
    """XML ingestion via Spark 4's built-in XML source (the spark-xml
    package folded into core): one row per ``row_tag`` element. Same
    discipline as every reader here — pass a schema in production (XML
    inference reads the corpus twice and is the least type-stable of the
    formats); attributes surface as ``_attr`` columns, nested elements
    as structs. Interop tier for feed/dump-shaped corpora (arXiv,
    PubMed, Wikipedia dumps); splittability depends on the row tag
    layout, so shard large dumps upstream like any document corpus.
    """
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_with_metrics(
    df: DataFrame,
    path: str,
    metrics: dict[str, Column],
    mode: str = "overwrite",
) -> dict[str, object]:
    """Write parquet and return QA metrics computed IN the write pass —
    ``df.observe`` attaches aggregate expressions to the plan, so row
    counts / null counts / value bounds come out of the same single scan
    that wrote the data (the alternative — write, then re-read or
    re-compute for a dashboard row — doubles the IO of every
    materialization at 100 TB).

    ``metrics`` maps name → aggregate Column (e.g. ``F.count(F.lit(1))``,
    ``F.sum(F.col("x").isNull().cast("long"))``). Returns the observed
    values after the write action completes.

    Ad-hoc face of a three-part surface: registry models declare the
    same thing with ``observe={...}`` (plans/registry.py — rides every
    materialization kind incl. incremental), and streaming drains use
    ``streaming/jobs.py::run_available_now_observed`` (per-micro-batch
    metrics in query progress).
    """
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    observed.write.mode(mode).parquet(path)
    return obs.get
