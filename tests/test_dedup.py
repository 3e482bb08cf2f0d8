"""Dedup ground-truth tests: LSH recall, SimHash sanity, planted dups.

The oracle harness proves Spark↔DuckDB agreement; these tests prove the
*algorithms* find what they should on constructed corpora where the true
answer is known exactly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from live_data_spark.catalog import catalog

def _corpus(spark, tmp_path):
    """30 docs: 10 unique bases (disjoint vocabularies, so cross-base
    jaccard is exactly 0), each with an exact copy and a light edit
    (one word changed → jaccard ≈ 0.86 on 3-gram shingles)."""
    rows = []
    for b in range(10):
        base = " ".join(f"w{b}x{j}" for j in range(40))
        edited = base.split()
        edited[20] = "EDITED"
        rows.append((b * 3, base, "en"))
        rows.append((b * 3 + 1, base, "en"))  # exact dup
        rows.append((b * 3 + 2, " ".join(edited), "en"))  # near dup
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = tmp_path / "documents.parquet"
    df.coalesce(1).write.mode("overwrite").parquet(str(out))
    return str(tmp_path)


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    return _corpus(spark, tmp_path_factory.mktemp("corpus"))


def test_exact_dedup_finds_planted_copies(spark, corpus_dir):
    out = catalog()["dedup_exact"].spark(spark, corpus_dir)
    dup_groups = out.where(F.col("n_copies") > 1)
    assert dup_groups.count() == 10  # one group per base
    assert dup_groups.agg(F.sum("n_copies")).collect()[0][0] == 20


def test_minhash_equals_exact_jaccard(spark, corpus_dir):
    """LSH+verify must reproduce the exact inverted-index pairs."""
    exact = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in catalog()["dedup_ngram_jaccard"].spark(spark, corpus_dir).collect()
    }
    lsh = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in catalog()["dedup_minhash"].spark(spark, corpus_dir).collect()
    }
    assert lsh == exact
    # the planted structure: exact copies (jac=1.0) always pair
    assert all((b * 3, b * 3 + 1) in exact for b in range(10))


def test_minhash_jaccard_values(spark, corpus_dir):
    rows = catalog()["dedup_minhash"].spark(spark, corpus_dir).collect()
    by_pair = {(r["doc_id_1"], r["doc_id_2"]): r["jaccard"] for r in rows}
    for b in range(10):
        assert by_pair[(b * 3, b * 3 + 1)] == 1.0  # exact copies


def test_simhash_catches_near_dups(spark, corpus_dir):
    out = catalog()["dedup_simhash"].spark(spark, corpus_dir).collect()
    pairs = {(r["doc_id_1"], r["doc_id_2"]): r["hamming"] for r in out}
    # exact copies → identical sketches (hamming 0)
    for b in range(10):
        assert pairs.get((b * 3, b * 3 + 1)) == 0
    # one-word edits stay within the hamming ball
    found_near = sum((b * 3, b * 3 + 2) in pairs for b in range(10))
    assert found_near >= 8  # sketch is approximate; overwhelming majority


def test_no_false_pairs_across_bases(spark, corpus_dir):
    """Different bases share ≤ a few shingles — nothing should pair."""
    out = catalog()["dedup_minhash"].spark(spark, corpus_dir).collect()
    for r in out:
        assert r["doc_id_1"] // 3 == r["doc_id_2"] // 3, r


def test_containment_catches_embedded_doc_jaccard_misses(spark, sf_dir, monkeypatch):
    """The axis containment exists for: doc A verbatim inside a much longer
    doc B has C(A,B) = 1 (every 3-gram of A appears in B) but Jaccard
    ~|A|/|B| — far below any dedup threshold. The testdata's planted dups
    are same-scale, so this hand-built case is the only coverage of the
    size-skewed semantics."""
    import live_data_spark.operators.dedup as dd

    inner = " ".join(f"core{i}" for i in range(30))
    outer = (
        " ".join(f"pre{i}" for i in range(60))
        + " " + inner + " "
        + " ".join(f"post{i}" for i in range(60))
    )
    unrelated = " ".join(f"other{i}" for i in range(40))
    fake = spark.createDataFrame(
        [(1, inner), (2, outer), (3, unrelated)], "doc_id long, text string"
    )
    monkeypatch.setattr(dd, "load", lambda _s, _d, _t: fake)

    cont = {
        (r["doc_id_1"], r["doc_id_2"]): r["containment"]
        for r in dd.dedup_containment(spark, sf_dir).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)] == 1.0  # A fully inside B
    assert len(cont) == 1  # unrelated doc pairs with nothing

    jacc = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in dd.dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    assert (1, 2) not in jacc  # J ≈ 0.19 — invisible to the Jaccard rung


def test_windowed_minhash_containment_catches_embedded_doc(spark, sf_dir, monkeypatch):
    """The scale rung must recall the high-C/low-J case the exact tier's
    docstring warns plain J-bands miss: a doc embedded verbatim in a much
    longer one. Windowed signatures make the embedded run a near-identical
    window on both docs, so the bands collide; plain dedup_minhash (J
    bands over whole-doc signatures) must NOT find the pair — that
    contrast IS the reason this operator exists."""
    import live_data_spark.operators.dedup as dd

    inner = " ".join(f"core{i}" for i in range(40))
    outer = (
        " ".join(f"pre{i}" for i in range(120))
        + " " + inner + " "
        + " ".join(f"post{i}" for i in range(120))
    )
    unrelated = " ".join(f"other{i}" for i in range(50))
    fake = spark.createDataFrame(
        [(1, inner), (2, outer), (3, unrelated)], "doc_id long, text string"
    )
    monkeypatch.setattr(dd, "load", lambda _s, _d, _t: fake)

    windowed = {
        (r["doc_id_1"], r["doc_id_2"]): r["containment"]
        for r in dd.dedup_containment_minhash(spark, sf_dir).collect()
    }
    assert (1, 2) in windowed and windowed[(1, 2)] == 1.0
    assert len(windowed) == 1

    plain = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in dd.dedup_minhash(spark, sf_dir).collect()
    }
    assert (1, 2) not in plain  # J ≈ 0.14 — whole-doc bands can't see it


SF01 = "/root/testdata/sf0.1"


@pytest.mark.parametrize("sfd", ["/root/testdata/sf0.01", SF01])
def test_containment_minhash_recall_floor_vs_exact(spark, sfd):
    """The windowed-MinHash rung is rows-only for the driver (band recall
    is probabilistic), so THIS is its correctness contract: precision
    exactly 1 against the exact tier (survivors re-verify on full shingle
    sets — any extra pair is a bug, not noise) and recall ≥ 0.8 on the
    C≥0.8 band at both sf0.01 and sf0.1 (scale moves window alignment and
    bucket occupancy, which the fixture-doc test can't see)."""
    import live_data_spark.operators.dedup as dd

    approx = {
        (r["doc_id_1"], r["doc_id_2"]): r["containment"]
        for r in dd.dedup_containment_minhash(spark, sfd).collect()
    }
    exact = {
        (r["doc_id_1"], r["doc_id_2"]): r["containment"]
        for r in dd.dedup_containment(spark, sfd).collect()
    }
    assert exact, f"exact containment empty at {sfd} — threshold drifted"
    assert set(approx) <= set(exact), "precision < 1: rung emitted a non-pair"
    for k, v in approx.items():
        assert v == exact[k], (k, v, exact[k])  # exact re-verify ⇒ same values
    recall = len(approx) / len(exact)
    assert recall >= 0.8, f"recall {recall:.2f} at {sfd} ({len(approx)}/{len(exact)})"


def test_incremental_minhash_keeps_shingleless_batch_docs(spark, tmp_path):
    """A sub-k-word batch doc has zero shingle rows, but it is still an
    arriving document: it must classify 'new' (matching the oracle),
    not vanish from the decision stream. Regression for deriving batch
    membership from the shingle frame instead of the documents table."""
    import duckdb

    from live_data_spark.catalog import catalog

    # doc_ids chosen so md5 carve puts ALL of them in the batch (first
    # hex >= '4'): 1 ('c4..'), 2 ('c8..'), 7 ('8f..')
    texts = {1: "one two three four five", 2: "one two three four five", 7: "hi"}
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))

    spec = catalog()["dedup_incremental_minhash"]
    got = {r["decision"]: r["n_docs"] for r in spec.spark(spark, str(tmp_path)).collect()}
    # doc 1 new, doc 2 dup_batch (same text, higher id), doc 7 (2 words,
    # no shingles) must appear as new — 3 docs accounted for in total
    assert got == {"new": 2, "dup_batch": 1}, got

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet/*.parquet'"
    )
    want = {r[0]: r[1] for r in con.execute(spec.oracle).fetchall()}
    assert got == want


def test_incremental_bloom_matches_exact_probe(spark):
    """dedup_incremental_bloom shares dedup_incremental's oracle because
    the bloom is pure pruning: might_contain=false rows can't be in the
    store (no false negatives), might_contain=true false positives die
    in the exact verify join. Assert (a) full output parity with the
    plain store-probe at sf0.001, (b) the plan actually carries the
    hand-rolled bloom pair (bit_or word-packing build + seeded-xxhash64
    element_at probes — Spark's bloom_filter_agg/might_contain live in
    an internal registry the public surface can't reach)."""
    sfd = "/root/testdata/sf0.001"
    cat = catalog()

    def rows(name):
        return {
            r["decision"]: (r["n_docs"], r["min_doc_id"])
            for r in cat[name].spark(spark, sfd).collect()
        }

    assert rows("dedup_incremental_bloom") == rows("dedup_incremental")

    df = cat["dedup_incremental_bloom"].spark(spark, sfd)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "map_from_entries" in plan and "bit_or" in plan and "xxhash64" in plan


def test_incremental_bloom_empty_history_all_new(spark, tmp_path):
    """All-batch carve (every doc_id md5 >= '4') ⇒ empty store ⇒ null
    bloom blob; the coalesce(False) guard must route every row down the
    definitely-new branch instead of dropping it on a null predicate."""
    texts = {1: "one two three four five", 2: "one two three four five", 7: "hi"}
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["decision"]: r["n_docs"]
        for r in catalog()["dedup_incremental_bloom"].spark(spark, str(tmp_path)).collect()
    }
    assert got == {"new": 2, "dup_batch": 1}, got


def test_threshold_curve_monotone_and_consistent(spark, sf_dir):
    """The sensitivity curve must be monotone non-increasing in t (a
    higher threshold can only drop pairs/docs/removals), and its t=0.8
    pair count must equal dedup_ngram_jaccard's row count — both read
    the same exact pair subtree."""
    rows = catalog()["dedup_threshold_curve"].spark(spark, sf_dir).collect()
    assert [r["threshold"] for r in rows] == [0.5, 0.6, 0.7, 0.8, 0.9]
    for col in ("n_pairs", "n_docs", "n_removed_greedy"):
        vals = [r[col] for r in rows]
        assert vals == sorted(vals, reverse=True), (col, vals)
    for r in rows:
        assert r["n_removed_greedy"] <= r["n_docs"]
        assert r["n_docs"] <= 2 * r["n_pairs"]
    at08 = next(r for r in rows if r["threshold"] == 0.8)
    n_jaccard = catalog()["dedup_ngram_jaccard"].spark(spark, sf_dir).count()
    assert at08["n_pairs"] == n_jaccard


def test_spread_skips_shuffle_on_large_splittable_files(spark, tmp_path):
    """spread() exists for the one-small-file case; it must NOT bolt an
    extra exchange onto few-but-LARGE splittable files, whose scan is
    already wide (the file-count-only probe regressed exactly that).
    Pin both arms: a file whose size spans >= cores maxPartitionBytes
    chunks passes through un-shuffled; a tiny file still spreads."""
    from pyspark.sql import functions as F

    from live_data_spark.operators.dedup import spread

    big = tmp_path / "big.parquet"
    spark.range(200_000).select(
        F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("pad")
    ).coalesce(1).write.parquet(str(big))
    small = tmp_path / "small.parquet"
    spark.range(10).coalesce(1).write.parquet(str(small))

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # make the big file span many splits without writing gigabytes —
        # set via the SUFFIXED form Spark itself accepts, pinning the
        # conf parser (a digits-only parser fell back to 128 MB on
        # '64k' and re-shuffled the wide scan anyway)
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64k")
        wide = spread(spark.read.parquet(str(big)))
        assert "Exchange" not in wide._jdf.queryExecution().executedPlan().toString(), (
            "spread() shuffled an already-wide splittable scan"
        )
        narrow = spread(spark.read.parquet(str(small)))
        assert "Exchange" in narrow._jdf.queryExecution().executedPlan().toString()
        assert narrow.count() == 10 and wide.count() == 200_000
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_components_driver_union_find_min_labels(spark):
    from live_data_spark.operators.dedup import _components_driver

    # symmetric edge list: path 1-2-3, pair 10-11 (order shuffled so the
    # union-find sees children before parents too)
    pairs = [(2, 3), (10, 11), (1, 2)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "a long, b long"
    )
    got = {r["doc_id"]: r["lbl"] for r in _components_driver(spark, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_components_driver_empty_edges(spark):
    from live_data_spark.operators.dedup import _components_driver

    edges = spark.createDataFrame([], "a long, b long")
    assert _components_driver(spark, edges).count() == 0
