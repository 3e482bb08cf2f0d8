"""File-source surface: JSONL round-trip, corrupt isolation, partition pruning."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from live_data_spark.catalog import load
from live_data_spark.sources.files import read_jsonl, write_jsonl

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def test_jsonl_round_trip(spark, sf_dir, tmp_path):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang").limit(50)
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, out)
    back = read_jsonl(spark, out, DOC_SCHEMA)
    assert back.schema == DOC_SCHEMA
    a = {tuple(r) for r in docs.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_jsonl_corrupt_lines_isolated(spark, tmp_path):
    """PERMISSIVE + declared _corrupt_record: bad lines quarantine, good
    lines parse — the 100 TB posture (one bad shard must not kill a job)."""
    p = tmp_path / "mixed.jsonl"
    p.write_text(
        json.dumps({"doc_id": 1, "text": "ok", "lang": "en"})
        + "\n{not json at all\n"
        + json.dumps({"doc_id": 2, "text": "also ok", "lang": "de"})
        + "\n"
    )
    schema = DOC_SCHEMA.add(StructField("_corrupt_record", StringType()))
    got = read_jsonl(spark, str(p), schema)
    rows = got.collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert {r["doc_id"] for r in good} == {1, 2}
    assert len(bad) == 1 and bad[0]["_corrupt_record"].startswith("{not json")


def test_partitioned_write_prunes_files(spark, sf_dir, tmp_path):
    """Hive-partitioned parquet + a partition-column predicate = the scan
    never opens non-matching directories. This is THE 100 TB lever: a
    date/type-partitioned fact turns full scans into partition-sized ones."""
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    out = str(tmp_path / "events_by_type")
    e.write.mode("overwrite").partitionBy("event_type").parquet(out)

    all_types = spark.read.parquet(out)
    one = all_types.where(F.col("event_type") == "purchase")

    # plan-level proof: the predicate lands in PartitionFilters (file-index
    # pruning — non-matching directories are never opened), NOT a post-scan
    # Filter. (inputFiles() reports the pre-pruning relation listing, so the
    # plan string is the observable contract here.)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "event_type" in pf and "purchase" in pf
    # and the partition column is NOT a data filter
    assert "event_type" not in plan.split("DataFilters")[1].split("]")[0]

    got = {r["event_id"] for r in one.collect()}
    want = {r["event_id"] for r in e.where(F.col("event_type") == "purchase").collect()}
    assert got == want


def test_sorted_parquet_rowgroup_stats_are_disjoint(spark, sf_dir, tmp_path):
    """write_sorted_parquet must produce files whose value ranges don't
    overlap (range partitioning) with tight row-group min/max stats —
    the physical property that makes stats-based skipping selective."""
    import pyarrow.parquet as pq

    from live_data_spark.sources.files import write_sorted_parquet

    e = load(spark, sf_dir, "events").select("event_id", "value")
    out = tmp_path / "events_sorted"
    write_sorted_parquet(e, str(out), ("value",), n_files=4)

    ranges = []
    for f in sorted(out.glob("*.parquet")):
        md = pq.ParquetFile(str(f)).metadata
        col_idx = next(
            i for i in range(len(md.schema)) if md.schema.column(i).name == "value"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
        # row groups inside a file are sorted: group ranges must be ordered
        assert mins == sorted(mins)
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "file value ranges overlap — range partitioning failed"

    # and a range predicate is pushed down to the scan
    back = spark.read.parquet(str(out)).where(F.col("value") > 100.0)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(value), GreaterThan(value,100.0)]" in plan
    want = e.where(F.col("value") > 100.0).count()
    assert back.count() == want


def test_schema_evolution_merge_on_read(spark, sf_dir, tmp_path):
    """A column added mid-stream must not break the table: mergeSchema
    unions the parquet footers and back-fills nulls — the contract that
    lets an incremental fact evolve without rewriting history."""
    out = str(tmp_path / "evolving")
    d = load(spark, sf_dir, "documents").select("doc_id", "lang").limit(20)
    d.write.mode("overwrite").parquet(out)
    d2 = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.length("text").alias("n_chars_actual"))
        .limit(10)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    d2.write.mode("append").parquet(out)

    merged = spark.read.option("mergeSchema", True).parquet(out)
    assert set(merged.columns) == {"doc_id", "lang", "n_chars_actual"}
    assert merged.count() == 30
    # old files surface the new column as null; new files carry values
    assert merged.where(F.col("n_chars_actual").isNull()).count() == 20
    assert merged.where(F.col("n_chars_actual").isNotNull()).count() == 10


def test_corrupt_parquet_file_isolated(spark, sf_dir, tmp_path):
    """ignoreCorruptFiles: one truncated part file must not kill a scan
    over a 100k-file table — the job reads past it (with data loss
    confined to that file, which monitoring owns)."""
    out = tmp_path / "with_corrupt"
    d = load(spark, sf_dir, "documents").select("doc_id", "lang").limit(20)
    d.write.mode("overwrite").parquet(str(out))
    (out / "part-corrupt.parquet").write_bytes(b"PAR1 this is not a parquet file")

    clean = (
        spark.read.option("ignoreCorruptFiles", True).parquet(str(out)).count()
    )
    assert clean == 20


def test_text_corpus_line_and_wholefile_modes(spark, tmp_path):
    """Line mode: one row per line, splittable. Whole-file mode: one row
    per file (document-per-file corpora). Both carry source provenance."""
    from live_data_spark.sources.files import read_text_corpus

    (tmp_path / "a.txt").write_text("line one\nline two\n")
    (tmp_path / "b.txt").write_text("solo document body\nsecond line\n")

    lines = read_text_corpus(spark, str(tmp_path)).collect()
    assert sorted(r["text"] for r in lines) == [
        "line one", "line two", "second line", "solo document body",
    ]
    assert all(r["source_path"].endswith((".txt",)) for r in lines)

    docs = read_text_corpus(spark, str(tmp_path), whole_file=True).collect()
    assert len(docs) == 2
    by_file = {r["source_path"].rsplit("/", 1)[-1]: r["text"] for r in docs}
    assert by_file["a.txt"] == "line one\nline two\n"


def test_binary_files_reader_and_glob_filter(spark, tmp_path):
    """binaryFile ingestion returns exact bytes; the glob filter prunes at
    the listing so non-matching files are never read."""
    from live_data_spark.sources.files import read_binary_files

    payload = bytes(range(256))
    (tmp_path / "img0.png").write_bytes(payload)
    (tmp_path / "img1.png").write_bytes(payload[:100])
    (tmp_path / "clip.wav").write_bytes(b"RIFFxxxx")

    allf = read_binary_files(spark, str(tmp_path))
    assert allf.count() == 3
    png = read_binary_files(spark, str(tmp_path), glob="*.png").collect()
    assert len(png) == 2
    got = {r["source_path"].rsplit("/", 1)[-1]: bytes(r["payload"]) for r in png}
    assert got["img0.png"] == payload
    assert {r["n_bytes"] for r in png} == {256, 100}


def test_jsonl_corpus_quarantines_corrupt_lines(spark, tmp_path):
    """JSONL ingest must parse good lines with the explicit schema (no
    inference pre-pass), quarantine malformed lines with their raw text
    and provenance, and round-trip the documents-table shape."""
    from live_data_spark.sources.files import read_jsonl_corpus

    shard = tmp_path / "shard0.jsonl"
    shard.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en", "source": "s1", "n_chars": 11}\n'
        'this is not json at all\n'
        '{"doc_id": 2, "text": "zweite zeile", "lang": "de", "source": "s1", "n_chars": 12}\n'
        '{"doc_id": 3, "text": "truncated...\n'
    )
    good, bad = read_jsonl_corpus(spark, str(shard))
    g = {r["doc_id"]: r for r in good.collect()}
    assert set(g) == {1, 2}
    assert g[1]["text"] == "hello world" and g[2]["lang"] == "de"
    assert all(r["source_path"].endswith("shard0.jsonl") for r in g.values())

    b = bad.collect()
    assert {r["raw_line"] for r in b} == {
        "this is not json at all",
        '{"doc_id": 3, "text": "truncated...',
    }
    assert all(r["source_path"].endswith("shard0.jsonl") for r in b)


def test_jsonl_corpus_custom_schema_without_text_column(spark, tmp_path):
    """The quarantine frame must work for ANY explicit schema — the
    parameter's whole point. A schema without a `text` column used to
    crash with UNRESOLVED_COLUMN while building the bad frame (the
    SPARK-38962 companion column was hardcoded)."""
    from live_data_spark.sources.files import read_jsonl_corpus

    shard = tmp_path / "s.jsonl"
    shard.write_text(
        '{"id": 7, "payload": "abc"}\n'
        "not json\n"
        '{"id": 8, "payload": "def"}\n'
    )
    good, bad = read_jsonl_corpus(spark, str(shard), schema="id BIGINT, payload STRING")
    assert {r["id"] for r in good.collect()} == {7, 8}
    assert [r["raw_line"] for r in bad.collect()] == ["not json"]


def test_jsonl_corpus_rejects_schema_with_no_data_columns(spark, tmp_path):
    """A schema carrying only the reserved columns leaves the quarantine
    frame with no companion field to anchor its pruned scan — that must be
    a descriptive ValueError at call time, not an IndexError from
    data_cols[0]."""
    import pytest

    from live_data_spark.sources.files import read_jsonl_corpus

    shard = tmp_path / "s.jsonl"
    shard.write_text('{"id": 1}\n')
    with pytest.raises(ValueError, match="at least one data column"):
        read_jsonl_corpus(spark, str(shard), schema="_corrupt_record STRING")



def test_xml_read_rows_and_attributes(spark, tmp_path):
    """Spark 4 built-in XML source: rowTag extraction, attribute columns,
    explicit-schema typing."""
    from live_data_spark.sources.files import read_xml

    (tmp_path / "feed.xml").write_text(
        "<docs>"
        '<doc lang="en"><id>1</id><body>hello world</body></doc>'
        '<doc lang="de"><id>2</id><body>zweiter text</body></doc>'
        "</docs>"
    )
    df = read_xml(spark, str(tmp_path / "feed.xml"), row_tag="doc")
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["body"] == "hello world"
    assert rows[2]["_lang"] == "de"

    typed = read_xml(
        spark,
        str(tmp_path / "feed.xml"),
        row_tag="doc",
        schema=StructType(
            [
                StructField("id", LongType()),
                StructField("body", StringType()),
                StructField("_lang", StringType()),
            ]
        ),
    )
    assert dict(typed.dtypes) == {"id": "bigint", "body": "string", "_lang": "string"}
    assert typed.count() == 2


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """Continuous-ingest tables gain columns over time; readers must
    handle shards written under the old schema. mergeSchema unions the
    footers and old shards surface NULL for the new column; an explicit
    (newest) schema read needs no merge pass and gets the same nulls."""
    from pyspark.sql.types import DoubleType

    old = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    new = spark.createDataFrame(
        [(3, "c", 0.5)], "id long, name string, score double"
    )
    old.write.parquet(str(tmp_path / "t"), mode="append")
    new.write.parquet(str(tmp_path / "t"), mode="append")

    merged = spark.read.option("mergeSchema", "true").parquet(str(tmp_path / "t"))
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["score"] is None and rows[3]["score"] == 0.5

    explicit = spark.read.schema(
        StructType(
            [
                StructField("id", LongType()),
                StructField("name", StringType()),
                StructField("score", DoubleType()),
            ]
        )
    ).parquet(str(tmp_path / "t"))
    got = {r["id"]: r["score"] for r in explicit.collect()}
    assert got == {1: None, 2: None, 3: 0.5}


def test_python_datasource_scan_is_partitioned_and_deterministic(spark):
    """Spark 4 Python DataSource API: the custom format plans one task
    per declared partition, rows are seeded per doc_id (bit-identical
    re-reads, partitioning-independent), and the declared schema binds."""
    from live_data_spark.sources.pysource import register_synthetic_docs

    register_synthetic_docs(spark)
    df = spark.read.format("synthetic_docs").option("n", 57).option("partitions", 3).load()
    assert df.schema.simpleString() == (
        "struct<doc_id:bigint,text:string,lang:string,n_chars:bigint>"
    )
    rows = df.collect()
    assert len(rows) == 57
    assert sorted(r["doc_id"] for r in rows) == list(range(57))
    # declared partitioning reaches the physical scan
    assert df.rdd.getNumPartitions() == 3
    # deterministic: a second read with DIFFERENT partitioning is identical
    df2 = spark.read.format("synthetic_docs").option("n", 57).option("partitions", 7).load()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, df2.collect()))
    # content sanity: n_chars is consistent with text
    assert all(r["n_chars"] == len(r["text"]) for r in rows)
    # and the source composes with ordinary relational ops downstream
    agg = df.groupBy("lang").count().collect()
    assert sum(r["count"] for r in agg) == 57


def test_write_with_metrics_single_pass_observation(spark, tmp_path):
    """df.observe metrics come out of the SAME scan that wrote the data:
    counts/null-counts/bounds match a re-read, with no second job over
    the input plan."""
    from pyspark.sql import functions as F

    from live_data_spark.sources.files import write_with_metrics

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0), (4, None)], "id long, v double"
    )
    out = str(tmp_path / "t")
    got = write_with_metrics(
        df,
        out,
        {
            "n_rows": F.count(F.lit(1)),
            "n_null_v": F.sum(F.col("v").isNull().cast("long")),
            "max_v": F.max("v"),
        },
    )
    assert got == {"n_rows": 4, "n_null_v": 2, "max_v": 30.0}
    back = spark.read.parquet(out)
    assert back.count() == 4
    assert back.where(F.col("v").isNull()).count() == 2


def test_pysource_parity_catalog_entry(spark):
    """The catalog-visible batch/stream twin: every lang row shows equal
    stream/batch counts and zero mismatches, and the totals cover the
    declared doc space (two drains, the second resuming from the
    checkpointed offset)."""
    from live_data_spark.catalog import catalog
    from live_data_spark.sources.pysource import PYSOURCE_PARITY_N

    rows = catalog()["pysource_stream_batch_parity"].spark(spark, "unused").collect()
    assert sum(r["n_stream"] for r in rows) == PYSOURCE_PARITY_N
    for r in rows:
        assert r["n_stream"] == r["n_batch"]
        assert r["n_mismatch"] == 0


def test_pysource_parity_detects_duplicate_delivery(spark):
    """The detector arm the clean-run entry can't exercise: a replayed
    micro-batch (identical duplicate rows), a dropped row, and a
    corrupted redelivery must each surface as n_mismatch > 0 — and the
    identical-duplicate case must ALSO break the count equality (the raw
    row-level outer join it replaced fanned the batch row out and
    reported both sides equal with zero mismatches)."""
    from live_data_spark.sources.pysource import parity_report

    schema = "doc_id long, text string, lang string"
    batch = spark.createDataFrame(
        [(1, "a", "en"), (2, "b", "en"), (3, "c", "de")], schema
    )

    # clean drain: identity
    clean = parity_report(batch, batch).collect()
    assert all(r["n_mismatch"] == 0 and r["n_stream"] == r["n_batch"] for r in clean)
    assert sum(r["n_stream"] for r in clean) == 3

    # replayed micro-batch: doc 1 landed twice, byte-identical
    dup = batch.unionAll(spark.createDataFrame([(1, "a", "en")], schema))
    rows = {r["lang"]: r for r in parity_report(dup, batch).collect()}
    assert rows["en"]["n_stream"] == 3 and rows["en"]["n_batch"] == 2
    assert rows["en"]["n_mismatch"] > 0

    # dropped row: doc 3 never landed
    missing = batch.where(F.col("doc_id") != 3)
    rows = {r["lang"]: r for r in parity_report(missing, batch).collect()}
    assert rows["de"]["n_stream"] == 0 and rows["de"]["n_batch"] == 1
    assert rows["de"]["n_mismatch"] > 0

    # corrupted redelivery: doc 2 landed twice with differing payloads
    corrupt = batch.unionAll(spark.createDataFrame([(2, "B", "en")], schema))
    rows = {r["lang"]: r for r in parity_report(corrupt, batch).collect()}
    assert rows["en"]["n_mismatch"] > 0


def test_partitioned_streaming_datasource_parallel_and_equal_to_batch(spark, tmp_path):
    """The streaming DataSourceStreamReader: micro-batch ranges split
    into executor-read partitions (task-parallel, not driver-side), a
    re-read of one offset range replays identical rows, one availableNow
    drain covers the declared doc space, and the landed rows equal the
    batch source's via the multiplicity-aware parity report (n_mismatch
    0 everywhere)."""
    from live_data_spark.sources.pysource import (
        SyntheticDocsPartitionedStreamReader,
        parity_report,
        register_synthetic_docs,
        register_synthetic_docs_pstream,
    )

    # partition planning is pure: a [0, 100) batch at 4 parts splits
    # into 4 executor ranges covering the space without overlap
    rdr = SyntheticDocsPartitionedStreamReader({"n": 100, "partitions": 4})
    parts = rdr.partitions({"next": 0}, {"next": 100})
    assert len(parts) == 4
    assert [(p.start, p.end) for p in parts] == [(0, 25), (25, 50), (50, 75), (75, 100)]
    assert rdr.partitions({"next": 60}, {"next": 60}) == []

    # replay: reading one offset range again yields identical rows, however
    # the range is split (the recovery contract for a failed micro-batch)
    def read_range(reader, s, e):
        return [r for p in reader.partitions({"next": s}, {"next": e}) for r in reader.read(p)]

    first = read_range(rdr, 30, 90)
    assert [r[0] for r in first] == list(range(30, 90))
    assert read_range(rdr, 30, 90) == first
    other = SyntheticDocsPartitionedStreamReader({"n": 100, "partitions": 3})
    assert read_range(other, 30, 90) == first

    register_synthetic_docs(spark)
    register_synthetic_docs_pstream(spark)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def drain(n: int) -> None:
        q = (
            spark.readStream.format("synthetic_docs_pstream")
            .option("n", n)
            .option("partitions", 4)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain(120)
    streamed = spark.read.parquet(sink)
    batch = spark.read.format("synthetic_docs").option("n", 120).load()
    rep = parity_report(streamed, batch).collect()
    assert rep, "empty parity report"
    for r in rep:
        assert r["n_mismatch"] == 0, tuple(r)
        assert r["n_stream"] == r["n_batch"], tuple(r)

    # restart-resume: a FRESH query instance against the same checkpoint
    # must pick up from the committed offset, not the reader's own state
    # (the regression a per-instance latestOffset counter causes: a new
    # instance re-advertises an offset at/behind the checkpoint and the
    # stream silently stalls). The doc space grows 120 → 200; the second
    # drain must deliver exactly rows [120, 200) once each.
    drain(200)
    streamed2 = spark.read.parquet(sink)
    assert streamed2.count() == 200
    assert streamed2.select("doc_id").distinct().count() == 200
    batch2 = spark.read.format("synthetic_docs").option("n", 200).load()
    for r in parity_report(streamed2, batch2).collect():
        assert r["n_mismatch"] == 0, tuple(r)
        assert r["n_stream"] == r["n_batch"], tuple(r)
