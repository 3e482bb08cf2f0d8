"""End-to-end corpus pipeline: the LLM-data ops inside the registry layer."""

from __future__ import annotations

from pyspark.sql import functions as F

from live_data_spark.corpus.pipeline import build_corpus_project


def test_corpus_project_builds_and_tests_pass(spark, sf_dir, tmp_path):
    proj = build_corpus_project(spark, str(tmp_path / "wh"), sf_dir)
    built = proj.run()
    assert set(built) == {
        "stg_documents",
        "corpus_clean",
        "corpus_deduped",
        "corpus_selected",
        "corpus_stats",
    }

    results = proj.run_tests()
    assert all(r.passed for r in results), [str(r) for r in results if not r.passed]

    # the quality gate actually gates (some docs fail), dedup preserves the
    # rest (testdata has no exact dups at this SF)
    n_src = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    n_clean = built["corpus_clean"].count()
    assert 0 < n_clean < n_src
    assert built["corpus_deduped"].count() == n_clean
    # DSIR selection is a real subset: the 30% gram budget keeps some
    # docs and drops others
    assert 0 < built["corpus_selected"].count() < n_clean

    # lang partitioning materialized → per-language reads prune partitions
    part_dirs = {p.name for p in (tmp_path / "wh" / "dev_main" / "corpus_clean").iterdir()}
    assert any(d.startswith("lang=") for d in part_dirs)


def test_corpus_dedup_drops_planted_duplicates(spark, sf_dir, tmp_path):
    """Re-ingesting identical text under new doc_ids must keep only the
    original (min-id survivor policy) — the incremental-crawl scenario."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    proj0 = build_corpus_project(spark, str(tmp_path / "wh0"), sf_dir)
    kept = proj0.run()["corpus_deduped"]
    victims = kept.orderBy("doc_id").limit(3).select("doc_id").collect()
    victim_ids = [r["doc_id"] for r in victims]

    dups = docs.where(F.col("doc_id").isin(victim_ids)).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    src2 = tmp_path / "src2"
    docs.unionByName(dups).write.parquet(str(src2 / "documents.parquet"))

    proj = build_corpus_project(spark, str(tmp_path / "wh"), str(src2))
    deduped = proj.run()["corpus_deduped"]
    out_ids = {r["doc_id"] for r in deduped.select("doc_id").collect()}
    assert set(victim_ids) <= out_ids
    assert not {v + 1_000_000 for v in victim_ids} & out_ids
    assert deduped.count() == kept.count()


def test_corpus_table_read_back_schema_equals_the_inferred_one(spark, sf_dir, tmp_path):
    """As tests/test_engine.py's bike-shop twin: the lang-partitioned
    ``corpus_clean`` and every other table read back with the schema that
    footer inference would give."""
    proj = build_corpus_project(spark, str(tmp_path / "wh"), sf_dir)
    built = proj.run()
    tables = [m for m in proj._models.values() if m.materialized == "table"]
    assert "corpus_clean" in {m.name for m in tables}
    for mdef in tables:
        out = str(proj._table_path(mdef))
        inferred = spark.read.parquet(out).select(*built[mdef.name].columns)
        assert built[mdef.name].schema == inferred.schema, mdef.name


def test_manifest_exports_full_graph(spark, sf_dir, tmp_path):
    """The manifest (dbt docs analog) carries every node, its
    materialization, and post-build dependency edges — JSON-able."""
    import json

    proj = build_corpus_project(spark, str(tmp_path / "wh"), sf_dir)
    proj.run()
    m = proj.manifest()
    json.dumps(m)  # must serialize
    models = {x["name"]: x for x in m["models"]}
    assert models["corpus_clean"]["materialized"] == "table"
    assert models["corpus_clean"]["partition_by"] == ["lang"]
    assert "stg_documents" in models["corpus_clean"]["depends_on"]
    assert "source:testdata.documents" in models["stg_documents"]["depends_on"]
    assert len(m["tests"]) == 9  # 8 generic + the assert_stats_reconcile singular
    assert any(s["table"] == "documents" for s in m["sources"])


def test_raw_text_ingestion_to_curated_corpus_end_to_end(spark, tmp_path):
    """The full LLM-ingest story on library pieces alone: raw .txt shards →
    read_text_corpus (doc-per-file) → stage (normalize/fingerprint/
    quality) → gate → exact dedup → rollup — including an EMPTY file and
    a duplicated document, the two real-corpus shapes the parquet
    testdata never exercises (the empty file previously aborted
    stage_documents with DIVIDE_BY_ZERO)."""
    from live_data_spark.corpus.pipeline import (
        corpus_rollup,
        exact_dedup,
        quality_gate,
        stage_documents,
    )
    from live_data_spark.sources.files import read_text_corpus

    good = ("the quick brown fox jumps over the lazy dog and runs on with " * 3).strip()
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "doc_a.txt").write_text(good)
    (raw / "doc_b.txt").write_text(good)  # exact duplicate → deduped
    (raw / "doc_c.txt").write_text("too short")  # fails the 20-token gate
    (raw / "doc_d.txt").write_text(" \n ")  # whitespace-only shard: zero
    # chars after normalization — previously a DIVIDE_BY_ZERO abort
    (raw / "doc_e.txt").write_text("")  # fully empty file: the text source
    # emits NO row for it (reader semantics, pinned here)

    docs = read_text_corpus(spark, str(raw), whole_file=True).select(
        F.xxhash64("source_path").alias("doc_id"),
        F.lit("en").alias("lang"),
        F.lit("crawl").alias("source"),
        "text",
    )
    staged = stage_documents(docs)
    assert staged.count() == 4  # 4 rows: empty FILE yields none, ws-only does

    curated = exact_dedup(quality_gate(staged))
    out = curated.collect()
    assert len(out) == 1  # dup collapsed, short + empty gated out
    assert out[0]["n_tokens"] == 39

    roll = corpus_rollup(curated).collect()
    assert len(roll) == 1 and roll[0]["n_docs"] == 1 and roll[0]["total_tokens"] == 39
