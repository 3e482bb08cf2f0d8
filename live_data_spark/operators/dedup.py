"""Deduplication operators over the ``documents`` table.

The dedup ladder for an LLM-training corpus, each rung cheaper per candidate
but coarser (BASELINE.json north star):

1. exact        — md5 fingerprint group-by (one shuffle of 16-byte keys)
2. n-gram Jaccard — exact set similarity via inverted shingle index
3. MinHash+LSH  — banded signatures; candidates from band-bucket joins only
4. SimHash      — 64-bit sketch; hamming-ball candidates via bit-band joins
5. embedding    — cosine near-dup pairs (see operators/similarity.py)

All shingle/signature work is JVM-side and whole-stage-codegen'd — no
Python UDFs, no driver collect, and deliberately no interpreted
higher-order array functions in hot paths (see ``shingle_rows`` for the
measured why). Sketches are built as explode → plain aggregates so the
shuffle map-side-combines to one sketch row per doc. 100 TB posture: the
only all-pairs work ever done is *within LSH buckets*; nothing is
quadratic in the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from live_data_spark.catalog import load, pair_sides, register
from live_data_spark.operators.text import fingerprint, normalized_text
from live_data_spark.session import local_frame

# ---------------------------------------------------------------------------
# 1. Exact dedup — hash-groupBy on content fingerprint.
# ---------------------------------------------------------------------------

_EXACT_ORACLE = r"""
WITH fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
  FROM documents
)
SELECT fp, min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM fp GROUP BY fp
"""


@register("dedup_exact", oracle=_EXACT_ORACLE, headline=True, tags=("dedup",))
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content fingerprint, keep the lowest doc_id.

    Deterministic alternative to ``dropDuplicates`` (which keeps an
    arbitrary row). The shuffle moves only (16-byte fp, doc_id) pairs —
    at 100 TB that's the dedup of the full corpus while moving ~0.1% of
    its bytes. Survivors join back to the corpus by doc_id when the full
    rows are needed.
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.select(fingerprint("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# Shared shingling.
# ---------------------------------------------------------------------------


def spread(df: DataFrame) -> DataFrame:
    """Fan a small scan out across all cores before CPU-heavy row work.

    A small parquet file arrives as ONE input partition
    (< maxPartitionBytes) and would pin a CPU-bound stage to a single
    core; at real scale the file count keeps the stage wide, but the
    operator shouldn't degrade on small inputs. The round-robin shuffle
    costs one pass over the (tiny) input and is skipped when the scan
    already splits. Width is probed from metadata only — no ``df.rdd``
    plan conversion: file COUNT first, and when files are few but
    LARGE, their byte sizes vs ``files.maxPartitionBytes`` (parquet is
    splittable, so 4 × 1 GB files already scan ~32-wide — a file-count
    check alone would bolt a full extra exchange onto exactly the big
    inputs that least need it). Non-local URIs skip the stat and keep
    the conservative repartition (one cheap pass).
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if len(files) >= target:
        return df
    splits = _estimated_scan_splits(spark, files)
    return df if splits >= target else df.repartition(target)


def _parse_byte_conf(raw: str) -> int | None:
    """Spark byte-size conf string → bytes: plain digits, optional
    trailing 'b', or a k/m/g/t suffix ('64k', '256m', '1g' — the forms
    Spark itself accepts). None when unparsable."""
    import re

    m = re.fullmatch(r"\s*(\d+)\s*([kmgt]?)b?\s*", raw.lower())
    if not m:
        return None
    return int(m.group(1)) * 1024 ** {"": 0, "k": 1, "m": 2, "g": 3, "t": 4}[m.group(2)]


def _estimated_scan_splits(spark: SparkSession, files: list[str]) -> int:
    """Σ ceil(file_bytes / maxPartitionBytes) over LOCAL files — the
    scan width Spark's splittable-format packing will produce, from
    driver-side stats alone. Returns 0 (unknown → caller repartitions)
    for remote URIs or unparsable conf."""
    import os
    from urllib.parse import unquote, urlparse

    max_pb = _parse_byte_conf(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    if not max_pb:
        return 0
    total = 0
    for u in files:
        p = urlparse(u)
        if p.scheme not in ("", "file"):
            return 0
        try:
            size = os.path.getsize(unquote(p.path))
        except OSError:
            return 0
        total += -(-size // max_pb)
    return total


def shingle_rows(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    distinct: bool = True,
    key: str = "doc_id",
) -> DataFrame:
    """Word k-gram shingles of ``documents`` in exploded (key, s) form.

    Deliberately NOT ``explode(<transform()-built shingle array>)``:
    Spark's Generate re-evaluates an inline generator expression per
    *output* row, so exploding an interpreted higher-order-function
    array costs ~|array|× its build price (measured 52× at sf0.1; a
    ``word_shingles`` helper of that shape used to live here and was
    removed once its last caller switched to this idiom). Instead the generator is a
    cheap integer ``sequence`` and each gram is assembled per exploded
    row with codegen'd ``element_at``/``concat_ws`` — the whole pipeline
    stays in whole-stage codegen with no array materialization at all.

    ``distinct=False`` skips the (key, s) shuffle — safe for MinHash
    (min over a multiset equals min over its set); Jaccard math needs
    the distinct set. ``key`` picks the emitted grouping column:
    ``doc_id`` for the doc-level dedup ladder, ``source`` for the
    corpus-level overlap diagnostics — ONE implementation so the ANSI
    descending-``sequence`` guard and gram assembly can never diverge
    between the two ladders.
    """
    d = spread(load(spark, sf_dir, "documents"))
    w = F.split(normalized_text("text"), " ")
    ex = (
        d.select(key, w.alias("w"))
        .select(
            key,
            "w",
            # guard: sequence(1, 0) is a DESCENDING [1, 0] in Spark, so
            # short docs must map to an empty array (DuckDB's
            # generate_series(1, 0) is empty — semantics must agree)
            F.explode(
                F.when(
                    F.size("w") >= k, F.sequence(F.lit(1), F.size("w") - (k - 1))
                ).otherwise(F.expr("array()").cast("array<int>"))
            ).alias("i"),
        )
        .select(
            key,
            F.concat_ws(
                " ", *[F.element_at("w", F.col("i") + j) for j in range(k)]
            ).alias("s"),
        )
    )
    if not distinct:
        return ex
    if key == "doc_id":
        # r13 (guide §2.4 — share one exchange): hash-partition the gram
        # stream by doc_id BEFORE the distinct. HashPartitioning(doc_id)
        # satisfies the distinct's ClusteredDistribution(doc_id, s) (the
        # subset rule), and every downstream per-doc aggregate — the
        # 64-min MinHash signature, the collect_list verify sets, the
        # per-doc size counts — then runs WITHOUT its own exchange. The
        # repartition node is also the consumers' ReuseExchange point,
        # so the scan+explode subtree still executes once per query (a
        # variant that moved the exchange BEFORE the explode removed the
        # reuse point and measured 56% SLOWER on dedup_ngram_jaccard —
        # each consumer re-ran the whole subtree). At scale the win is
        # byte-shaped: the old plan's collect_list partial-agg exchange
        # re-shipped every distinct gram as array payloads; now the gram
        # stream crosses the wire once. Interleaved A/B at sf0.1
        # (values row-identical): dedup_minhash 2.08 → 1.79 s,
        # dedup_ngram_jaccard 1.71 → 1.40 s, dedup_threshold_curve and
        # the incremental family share the shape. key="source" keeps the
        # plain distinct: hash-partitioning by a handful of sources
        # would collapse the distinct to |sources| tasks.
        return ex.repartition(key).dropDuplicates([key, "s"])
    return ex.dropDuplicates([key, "s"])


_SHINGLE_CTE = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
), sh AS (
  SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
  FROM toks
)
"""

_JACCARD_PAIRS_ORACLE = (
    _SHINGLE_CTE
    + """
, ex AS (
  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
), pairs AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         count(*) AS n_common, any_value(a.n) AS n1, any_value(b.n) AS n2
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id_1, doc_id_2,
       round(n_common / (n1 + n2 - n_common), 4) AS jaccard
FROM pairs
WHERE n_common / (n1 + n2 - n_common) >= 0.8
"""
)


def jaccard_pairs(ex: DataFrame, t: float) -> DataFrame:
    """Exact (doc_id_1 < doc_id_2, j) Jaccard pairs with j >= ``t`` from
    (doc_id, s) distinct-shingle rows: the inverted-index self-join on
    shingle, pruned by the lossless size-ratio filter min(n1, n2) >=
    t·max(n1, n2), counted per pair, with j from the set sizes. ``j`` is
    unrounded."""
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    exn = ex.join(sizes, "doc_id")  # n rides the exploded rows
    a, b = exn.alias("a"), exn.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.least("a.n", "b.n") >= t * F.greatest("a.n", "b.n")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # set sizes joined onto the (already aggregated, small) pair table;
    # one row per doc so Spark broadcasts when it fits
    pairs = common.join(
        sizes.select(F.col("doc_id").alias("doc_id_1"), F.col("n").alias("n1")), "doc_id_1"
    ).join(sizes.select(F.col("doc_id").alias("doc_id_2"), F.col("n").alias("n2")), "doc_id_2")
    j = F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common"))
    return pairs.where(j >= t).select("doc_id_1", "doc_id_2", j.alias("j"))


@register("dedup_ngram_jaccard", oracle=_JACCARD_PAIRS_ORACLE, tags=("dedup",))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (threshold 0.8).

    Inverted-index algorithm: explode distinct shingles → self-join on
    shingle (pairs that share ≥1 shingle) → count common → Jaccard from
    set sizes. The join carries each side's distinct-shingle count so the
    LOSSLESS size-ratio filter from the set-similarity-join literature
    (SSJoin/PPJoin) prunes candidates before the pair aggregate:
    J(A,B) ≥ t ⇒ |A∩B| ≥ t·(|A|+|B|)/(1+t) and |A∩B| ≤ min(|A|,|B|),
    hence min ≥ t·max — a pair whose sizes differ by more than t× can
    never pass, so dropping it changes nothing (the final threshold
    re-checks exactly). Uniform-length corpora (this testdata) prune
    little; real corpora with length spread prune most of the candidate
    mass. Still exact, still the quadratic ground-truth tier — the
    MinHash variant below is the 100 TB path verified against it.
    """
    return jaccard_pairs(shingle_rows(spark, sf_dir), 0.8).select(
        "doc_id_1", "doc_id_2", F.round("j", 4).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# 3. MinHash + LSH banding — the scale path for near-dup detection.
# ---------------------------------------------------------------------------

NUM_HASHES = 64
BAND_SIZE = 4  # rows per band → 16 bands; P(candidate | jac=0.8) ≈ 0.9998


def lsh_bands(sig: Column, band_size: int = BAND_SIZE, num_hashes: int = NUM_HASHES) -> Column:
    """Collapse the signature into per-band bucket keys (one hash per band)."""
    n_bands = num_hashes // band_size
    return F.array(
        *[
            F.xxhash64(*[F.element_at(sig, b * band_size + r + 1) for r in range(band_size)])
            for b in range(n_bands)
        ]
    )


def band_candidates(banded: DataFrame) -> DataFrame:
    """Distinct (doc_id_1 < doc_id_2) candidate pairs from (doc_id, band,
    bucket) rows: the self-join on (band, bucket), so two docs pair once
    however many bands they share."""
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_id_1"), F.col("b.doc_id").alias("doc_id_2"))
        .dropDuplicates()
    )


@register("dedup_minhash", oracle=_JACCARD_PAIRS_ORACLE, headline=True, tags=("dedup",))
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard-verified (threshold 0.8).

    Pipeline: shingle → 64-hash MinHash signature → 16 bands of 4 →
    explode band keys → self-join on (band, bucket) for candidates →
    verify candidates with exact Jaccard on the shingle arrays.

    Because candidates are *verified*, the output equals the exact
    inverted-index result whenever LSH recall holds (≥1-4e-8 for
    jaccard ≥0.9 with these parameters) — so it shares the exact oracle.
    At 100 TB only band-bucket collisions are ever compared: the shuffle
    is 16 bigint keys per doc, and the verify join touches candidate
    pairs only.
    """
    # Signature + verify sets both derive from the SAME distinct-shingle
    # subtree (min over set == min over multiset, so distinct is free for
    # the signature) — identical subplans let Spark reuse the shuffle
    # instead of re-scanning and re-exploding the corpus for the verify
    # branch (measured 30% off the whole query at sf0.1). The 64 seeded
    # min-aggregates stay in whole-stage codegen and map-side-combine to
    # one 64-long row per doc. Explicitly persisting the shared shingle
    # frame instead was measured 1.7× SLOWER end-to-end (2.0 s → 3.5 s
    # best-of-3 at sf0.1): the cache write materializes the exploded rows
    # that exchange reuse never stores — so the subtree stays unpersisted.
    ex = shingle_rows(spark, sf_dir)
    sig = ex.groupBy("doc_id").agg(
        F.array(*[F.min(F.xxhash64("s", F.lit(i))) for i in range(NUM_HASHES)]).alias("sig")
    )
    banded = sig.select("doc_id", F.posexplode(lsh_bands(F.col("sig"))).alias("band", "bucket"))
    cand = band_candidates(banded)
    # exact-verify on the distinct shingle sets, materialized per doc by
    # the collect_list aggregation (so the arrays are real columns, never
    # re-derived expression trees)
    sets = ex.groupBy("doc_id").agg(F.collect_list("s").alias("shingles"))
    s1 = sets.select(F.col("doc_id").alias("doc_id_1"), F.col("shingles").alias("sh1"))
    s2 = sets.select(F.col("doc_id").alias("doc_id_2"), F.col("shingles").alias("sh2"))
    verified = cand.join(s1, "doc_id_1").join(s2, "doc_id_2")
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("double")
    union = F.size(F.array_union("sh1", "sh2")).cast("double")
    jac = inter / union
    return verified.where(jac >= 0.8).select(
        "doc_id_1", "doc_id_2", F.round(jac, 4).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# 4. SimHash — 64-bit sketch, hamming-ball near-dups via bit-band joins.
# ---------------------------------------------------------------------------


SIMHASH_BITS = 60  # 15-hex md5 prefix: the engine-portable 60-bit hash
SIMHASH_BAND_BITS = 12  # the recall/candidate-volume dial (see docstring)
SIMHASH_BANDS = SIMHASH_BITS // SIMHASH_BAND_BITS
_SIMHASH_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1
SIMHASH_MAX_HAMMING = 8

_SIMHASH_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS t
  FROM documents
), h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h FROM tok
), bits AS (
  SELECT doc_id, j, (h >> j) & 1 AS b
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS j)
), votes AS (
  SELECT doc_id, j, CAST(sum(b) AS BIGINT) AS ones, count(*) AS n
  FROM bits GROUP BY doc_id, j
), sk AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN 2 * ones > n THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS sketch
  FROM votes GROUP BY doc_id
), bands AS (
  SELECT doc_id, sketch, b, (sketch >> (b * {SIMHASH_BAND_BITS})) & {_SIMHASH_BAND_MASK} AS bucket
  FROM sk CROSS JOIN (SELECT unnest(generate_series(0, {SIMHASH_BANDS - 1})) AS b)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         a.sketch AS sk1, b.sketch AS sk2
  FROM bands a JOIN bands b
    ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT doc_id_1, doc_id_2, CAST(bit_count(xor(sk1, sk2)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sk1, sk2)) <= {SIMHASH_MAX_HAMMING}
ORDER BY doc_id_1, doc_id_2
"""


@register("dedup_simhash", oracle=_SIMHASH_ORACLE, tags=("dedup",))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: hamming distance ≤ 8 on 60-bit sketches.

    Candidate generation: split the sketch into 5×12-bit bands; by
    pigeonhole any pair within hamming ≤ 4 shares an exact band (one
    rung stronger than the 4-band split, and measured 9/10 recall on
    the planted one-word edits vs 6/10 at 4×15 — the planted pairs sit
    at hamming 1-6), and near-dups share several. Band-bucket join →
    exact hamming verify via bit_count(xor). At scale the 2^12 bucket
    space per band trades more random collisions than a 15/16-bit split
    would — the verify step keeps precision exact either way, and the
    band width is the recall/candidate-volume dial to turn per corpus.

    FULLY oracle-checked (the r7 promotion): the per-token hash is the
    engine-portable md5 15-hex-prefix integer (the CMS-bucket recipe —
    Spark ``conv(substr(md5,1,15),16,10)`` ≡ DuckDB
    ``('0x'||substr(md5,1,15))::BIGINT``, both over UTF-8 bytes), so the
    WHOLE pipeline — bit votes, majority sketch, banding, hamming — is
    pure integer arithmetic both engines replay identically. 60 bits
    (not 64) because 15 hex chars is the widest md5 prefix that fits a
    signed BIGINT on both engines; detection quality at hamming ≤ 8 is
    unchanged (ground truth vs the Jaccard pairs still pinned in
    tests/test_dedup.py).
    """
    d = spread(load(spark, sf_dir, "documents"))
    tokens = F.split(normalized_text("text"), " ")
    # Sketch via explode + 60 codegen'd sum-aggregates (see dedup_minhash
    # for why the HOF fold form is avoided): vote_j = 2·Σbit_j − n, so we
    # aggregate per-bit counts + the token count and build the sketch
    # from the 60 vote columns afterwards. Map-side combine leaves one
    # 61-long row per doc on the shuffle.
    tok = d.select("doc_id", F.explode(tokens).alias("t")).select(
        "doc_id",
        F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("bigint").alias("h"),
    )
    votes = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftright("h", j).bitwiseAND(F.lit(1)).cast("long")).alias(f"b{j}")
            for j in range(SIMHASH_BITS)
        ],
    )
    sketch = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        sketch = sketch + F.when(
            2 * F.col(f"b{j}") - F.col("n") > 0, F.lit(1 << j)
        ).otherwise(F.lit(0).cast("long"))
    sk = votes.select("doc_id", sketch.alias("sketch"))
    bands = sk.select(
        "doc_id",
        "sketch",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("sketch"), b * SIMHASH_BAND_BITS).bitwiseAND(
                        F.lit(_SIMHASH_BAND_MASK)
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band", "bucket"),
    )
    # Probe side partitioned by doc_id, build side broadcast by AQE: the
    # candidate dropDuplicates keys (doc_id_1, doc_id_2) dedup on the
    # join output with no pair-level exchange (the hot spot:
    # collision-rich 12-bit buckets on a degenerate corpus). Shared
    # shape: catalog.pair_sides.
    a, b = pair_sides(bands)
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
            F.col("a.sketch").alias("sk1"),
            F.col("b.sketch").alias("sk2"),
        )
        .dropDuplicates(["doc_id_1", "doc_id_2"])
    )
    hamming = F.bit_count(F.col("sk1").bitwiseXOR(F.col("sk2")))
    return (
        cand.where(hamming <= SIMHASH_MAX_HAMMING)
        .select("doc_id_1", "doc_id_2", hamming.cast("int").alias("hamming"))
        .orderBy("doc_id_1", "doc_id_2")
    )


# ---------------------------------------------------------------------------
# 6. Duplicate clustering — connected components over near-dup pairs.
# ---------------------------------------------------------------------------

_CLUSTER_ORACLE = (
    _SHINGLE_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + """
, ex AS (
  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
), p0 AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         count(*) AS n_common, any_value(a.n) AS n1, any_value(b.n) AS n2
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), dup AS (
  SELECT d1, d2 FROM p0 WHERE n_common / (n1 + n2 - n_common) >= 0.8
), edges AS (
  SELECT d1 AS a, d2 AS b FROM dup UNION ALL SELECT d2, d1 FROM dup
), reach AS (
  SELECT doc_id AS node, doc_id AS lbl FROM documents
  UNION
  SELECT e.b AS node, r.lbl FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node
"""
)


def _truncate_lineage(df: DataFrame) -> DataFrame:
    """Cut an iterative plan's lineage (the classic iterative-Spark trap:
    without truncation the logical plan doubles per round).

    Deployment-aware: when a reliable checkpoint dir is configured
    (``sc.setCheckpointDir('hdfs://…')`` — the cluster path), use a
    reliable ``checkpoint()``: blocks land in fault-tolerant storage, so
    losing an executor mid-iteration replays nothing. Without one (tests,
    local mode) fall back to ``localCheckpoint()`` — faster, but blocks
    live on executors and a lost executor kills the job; never ship that
    to a 1000-executor cluster without a checkpoint dir."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint()
    return df.localCheckpoint()


@register("dedup_clusters", oracle=_CLUSTER_ORACLE, tags=("dedup", "iterative"))
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over exact-Jaccard dup pairs → cluster per doc.

    Pairwise dedup is not enough to pick survivors: A~B and B~C must
    collapse to ONE cluster even when A~C misses the threshold. This is
    the canonical *iterative* dataflow the engine must support (the
    oracle needs WITH RECURSIVE for it).

    Algorithm: min-label propagation, restricted to the dup graph. A
    node OUTSIDE every dup pair can never change label (it has no
    neighbors), so the corpus-minus-graph docs are singleton clusters
    by construction and skip the loop entirely — the per-round shuffles
    scale with |dup-graph nodes| (thousands), not |corpus| (the whole
    point at 100 TB, where the dup graph is orders of magnitude smaller
    than the corpus). Inside the graph every node starts labeled with
    its own id; each round takes the min of its own and neighbors'
    labels; converged when no label changes. Each round is one shuffle
    (edges ⋈ labels on doc_id + groupBy min) — no driver collect of
    node data, only the scalar convergence count. Rounds = graph
    diameter; near-dup components are tiny chains, and the cap would
    only bind on adversarial path graphs. ``_truncate_lineage`` cuts
    the plan per round — reliable ``checkpoint()`` when a checkpoint
    dir is set (cluster deployments), ``localCheckpoint`` otherwise.
    Singletons rejoin via ONE left join at the end (label = own id).

    Survivor policy downstream: keep ``doc_id == cluster_id`` (min id).

    Two arms, gated on dup-GRAPH bytes (r12, same move as pagerank —
    guide §1.2): the dup graph is orders of magnitude smaller than the
    corpus by design, so when the materialized edge list fits the
    repo-wide broadcast budget the components come from a driver-side
    union-find over the collected pairs (connected components are
    algorithm-independent — min id per component is exactly what the
    label propagation converges to, and the recursive-CTE oracle pins
    it). Above the gate: the r11 distributed label-propagation loop,
    unchanged. The distributed loop paid a checkpoint materialization
    plus a convergence-count job PER ROUND — pure fixed cost on a
    thousands-of-edges graph.
    """
    from live_data_spark.catalog import edges_fit_gate

    docs = load(spark, sf_dir, "documents").select("doc_id")
    dup = dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_id_1").alias("a"), F.col("doc_id_2").alias("b")
    )
    edges = _truncate_lineage(
        dup.unionByName(dup.select(F.col("b").alias("a"), F.col("a").alias("b")))
    )
    n_edges = edges.count()  # cheap: counts the checkpointed blocks
    # shared EDGE_BYTES size model (catalog.edges_fit_gate); the empty-
    # edge case stays on the driver arm (correct and tested: no edges →
    # every doc a singleton)
    if edges_fit_gate(n_edges):
        # explicit broadcast: the labels frame is a stats-less LOCAL
        # relation (gate-bounded by construction) and would otherwise
        # plan as a sort-merge join against the corpus — the r6 lesson,
        # equi-join variant (it planned SMJ here, caught by the r12
        # plan sweep). Broadcasting the non-preserved side of the left
        # join is hint-legal.
        labels = F.broadcast(_components_driver(spark, edges))
        return docs.join(labels, "doc_id", "left").select(
            "doc_id", F.coalesce("lbl", F.col("doc_id")).alias("cluster_id")
        )

    # propagation domain: edges are bidirectional, so `a` alone covers
    # every endpoint
    nodes = edges.select(F.col("a").alias("doc_id")).distinct()
    labels = _truncate_lineage(nodes.withColumn("lbl", F.col("doc_id")))
    for _ in range(15):
        nbr_min = (
            edges.join(labels, edges.b == labels.doc_id)
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        # carry the previous label THROUGH the checkpoint: the convergence
        # check is then a filter over the just-materialized blocks — one
        # cheap job — instead of a shuffle join of new vs old labels
        # (measured ~0.1 s/round at sf0.1, and one fewer shuffle per round
        # on a cluster)
        new_labels = (
            labels.join(nbr_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least("lbl", F.coalesce("nbr_lbl", "lbl")).alias("lbl"),
                F.col("lbl").alias("prev_lbl"),
            )
        )
        new_labels = _truncate_lineage(new_labels)
        changed = new_labels.where(F.col("lbl") != F.col("prev_lbl")).count()
        labels = new_labels.select("doc_id", "lbl")
        if changed == 0:
            break
    else:  # pragma: no cover - adversarial graphs only
        raise RuntimeError("dedup_clusters: label propagation did not converge")
    return docs.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("lbl", F.col("doc_id")).alias("cluster_id")
    )


def _components_driver(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Gate-open small-graph arm of ``dedup_clusters``: union-find over
    the collected (symmetric) edge list → (doc_id, lbl) with lbl the
    component's min doc_id — the same fixed point the distributed
    min-label propagation reaches, computed in one pass instead of
    diameter-many checkpoint+count rounds. Collect is gate-bounded."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edges.collect():
        a, b = r[0], r[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict[int, int] = {}
    for node in parent:
        root = find(node)
        m = comp_min.get(root)
        if m is None or node < m:
            comp_min[root] = node
    rows = sorted((node, comp_min[find(node)]) for node in parent)
    return local_frame(spark, rows, "doc_id long, lbl long")


# ---------------------------------------------------------------------------
# 7. Survivor selection — the deduplicated corpus.
# ---------------------------------------------------------------------------

# extend the cluster oracle's CTE chain: its final SELECT becomes a
# `clusters` CTE, and the survivor query selects from it
_SURVIVOR_ORACLE = _CLUSTER_ORACLE.replace(
    "SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node",
    """, clusters AS (
  SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node
)
SELECT c.cluster_id,
       c.doc_id AS survivor_id,
       agg.n_members,
       d.n_chars AS survivor_chars
FROM clusters c
JOIN (SELECT cluster_id, count(*) AS n_members FROM clusters GROUP BY 1) agg
  USING (cluster_id)
JOIN documents d ON d.doc_id = c.doc_id
WHERE c.doc_id = c.cluster_id""",
)


@register("dedup_survivors", oracle=_SURVIVOR_ORACLE, tags=("dedup", "iterative"))
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per duplicate cluster: the kept document + member count.

    The last stage of the dedup pipeline (pairs → clusters → corpus):
    policy is keep-min-id — ``dedup_clusters`` labels every document
    (singletons included) with its cluster's min doc_id, so each
    cluster's survivor IS its label: one count per ``cluster_id``, with
    no filter and no join back to the cluster map. Joined to
    ``documents`` for survivor metadata. Downstream, the deduplicated
    corpus is ``documents ⋉ survivors`` (left-semi on survivor_id).
    """
    clusters = dedup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return sizes.join(docs, sizes.cluster_id == docs.doc_id).select(
        "cluster_id",
        F.col("doc_id").alias("survivor_id"),
        "n_members",
        F.col("n_chars").alias("survivor_chars"),
    )


# ---------------------------------------------------------------------------
# 8. Boilerplate spans — n-grams shared across many documents.
# ---------------------------------------------------------------------------

_BOILERPLATE_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
), g AS (
  SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(w) - 4, 0)),
         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS grams
  FROM toks
), ex AS (
  SELECT doc_id, unnest(grams) AS s FROM g
), spans AS (
  SELECT s AS span, count(*) AS n_docs
  FROM ex GROUP BY s HAVING count(*) >= 3
)
SELECT span, n_docs FROM spans ORDER BY n_docs DESC, span LIMIT 50
"""


@register("dedup_boilerplate_spans", oracle=_BOILERPLATE_ORACLE, tags=("dedup", "text", "quality"))
def dedup_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top boilerplate 5-gram spans: word sequences appearing in ≥3 distinct
    documents — the span-level complement of document-level dedup
    (headers, footers, license blurbs, navigation chrome that survive
    doc-level dedup because the surrounding text differs).

    Downstream use: the flagged spans drive a span-removal pass before
    training. Plan: the SAME exploded-shingle subtree as the dedup
    ladder (distinct (doc_id, s) rows, so ``count(*)`` per span IS the
    distinct-doc count — no countDistinct state), one span-keyed hash
    aggregate with map-side partials, and a TakeOrderedAndProject top-50
    (no global sort). Ties break on the span text for a total order.
    """
    ex = shingle_rows(spark, sf_dir, k=5)
    return (
        ex.groupBy(F.col("s").alias("span"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 3)
        .orderBy(F.col("n_docs").desc(), F.col("span"))
        .limit(50)
    )


_NOVELTY_ORACLE = (
    _SHINGLE_CTE
    + """
, ex AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh
), freq AS (
  SELECT s, count(*) AS df FROM ex GROUP BY s
)
SELECT e.doc_id,
       count(*) AS n_shingles,
       count(*) FILTER (WHERE freq.df = 1) AS n_unique,
       round(count(*) FILTER (WHERE freq.df = 1) / cast(count(*) AS DOUBLE), 4)
         AS novelty
FROM ex e JOIN freq ON freq.s = e.s
GROUP BY e.doc_id
"""
)


@register("text_ngram_novelty", oracle=_NOVELTY_ORACLE, tags=("text", "quality", "dedup"))
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level novelty per document: the fraction of its distinct
    word 3-grams that appear in NO other document — the diversity twin
    of the dedup ladder (low novelty = template/boilerplate-heavy doc
    even when no single pair crosses a dedup threshold; a standard
    data-mix diversity signal).

    Plan: document frequency as ``count(*) OVER (PARTITION BY s)`` on
    the distinct-shingle rows — a SINGLE shingle pipeline (the
    agg-then-join-back form re-derives the whole explode subtree because
    ReuseExchange doesn't fire across the broadcast boundary; measured
    27% slower at sf0.1), then one doc-keyed rollup. Since (doc_id, s)
    rows are distinct, the window count IS document frequency. Skew
    caveat: a pathologically hot shingle lands its rows in one window
    partition; if max-df explodes (heavy boilerplate corpora), run the
    boilerplate-span removal pass first, or fall back to the two-phase
    df-aggregate + join form where AQE skew-join splitting applies.
    """
    ex = shingle_rows(spark, sf_dir)
    df_w = F.count(F.lit(1)).over(Window.partitionBy("s"))
    return (
        ex.withColumn("df", df_w)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count(F.when(F.col("df") == 1, 1)).alias("n_unique"),
            F.round(
                F.count(F.when(F.col("df") == 1, 1)) / F.count(F.lit(1)).cast("double"), 4
            ).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# 9. Containment — sub-document duplication (one doc inside another).
# ---------------------------------------------------------------------------

_CONTAINMENT_ORACLE = (
    _SHINGLE_CTE
    + """
, ex AS (
  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
), pairs AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         count(*) AS n_common, any_value(a.n) AS n1, any_value(b.n) AS n2
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id_1, doc_id_2,
       round(n_common / least(n1, n2), 4) AS containment
FROM pairs
WHERE n_common / least(n1, n2) >= 0.8
"""
)


@register("dedup_containment", oracle=_CONTAINMENT_ORACLE, tags=("dedup",))
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram containment pairs (threshold 0.8): C(A,B) =
    |A∩B| / min(|A|,|B|) — the sub-document axis Jaccard misses. A
    boilerplate page embedded in a 100× longer document has Jaccard ≈
    0.01 but containment ≈ 1.0; quote-inclusion, scraped-page wrappers,
    and prompt-template reuse all surface here first. Standard companion
    to resemblance in the shingling literature (Broder's containment).

    Same inverted-index shape as ``dedup_ngram_jaccard`` but WITHOUT the
    size-ratio prune — containment's entire point is size-skewed pairs,
    so that filter would be lossy here. This is the exact ground-truth
    tier. Scale caveat, stated precisely: MinHash J-bands only RECALL a
    containment pair when its Jaccard is also high (P(band collision) is
    a function of J, not C — a small doc inside a 100× larger one has
    C ≈ 1 but J ≈ 0.01 and never collides), so the 100 TB candidate
    step needs a C-sensitive scheme: partition the longer doc into
    windows of the shorter doc's size band and MinHash-band each window
    (turns high-C/low-J into high-J window pairs), with C estimated from
    signature agreement via Ĉ = Ĵ·(n1+n2)/((1+Ĵ)·min). On corpora whose
    near-dups are same-scale (this testdata: every C≥0.8 pair is also
    J≥0.8 at both SFs, verified), plain ``dedup_minhash`` bands suffice.
    """
    ex = shingle_rows(spark, sf_dir)
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    exn = ex.join(sizes, "doc_id")
    a, b = exn.alias("a"), exn.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_id_1"), F.col("b.doc_id").alias("doc_id_2"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("a.n").alias("n1"),
            F.first("b.n").alias("n2"),
        )
    )
    cont = F.col("n_common") / F.least("n1", "n2")
    return pairs.where(cont >= 0.8).select(
        "doc_id_1", "doc_id_2", F.round(cont, 4).alias("containment")
    )


# ---------------------------------------------------------------------------
# 10. Cascade accounting — corpus size through the dedup funnel.
# ---------------------------------------------------------------------------

_CASCADE_ORACLE = (
    _SHINGLE_CTE
    + r"""
, fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
  FROM documents
), keep1 AS (
  SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp
), ex AS (
  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
), pairs AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         count(*) AS n_common, any_value(a.n) AS n1, any_value(b.n) AS n2
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), removed AS (
  SELECT DISTINCT p.doc_id_2 AS doc_id
  FROM pairs p
  JOIN keep1 s1 ON s1.doc_id = p.doc_id_1
  JOIN keep1 s2 ON s2.doc_id = p.doc_id_2
  WHERE p.n_common / (p.n1 + p.n2 - p.n_common) >= 0.8
)
SELECT 'raw' AS stage, count(*) AS n_docs FROM documents
UNION ALL
SELECT 'after_exact', count(*) FROM keep1
UNION ALL
SELECT 'after_neardup', (SELECT count(*) FROM keep1) - count(*) FROM removed
"""
)


@register("corpus_dedup_cascade", oracle=_CASCADE_ORACLE, tags=("dedup", "curation"))
def corpus_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus size through the dedup funnel: raw → after exact dedup →
    after near-dup removal — the accounting row every curation run
    reports ("dedup removed X% of the corpus") and the cheapest
    regression alarm when a pipeline change silently collapses or stops
    collapsing duplicates.

    Keep-first policy at both rungs: exact keeps min doc_id per
    fingerprint; near-dup then removes any surviving doc that appears as
    the LARGER id of a ≥0.8-Jaccard pair whose partner also survived
    (single-pass approximation of the full cluster collapse —
    ``dedup_survivors`` is the transitive version; this one is
    join-expressible on both engines, hence oracle-checkable). All three
    stage counts are tiny 1-row aggregates unioned together; the only
    heavy lifting is the same fingerprint and pair subtrees the other
    rungs already use.
    """
    d = load(spark, sf_dir, "documents")
    keep1 = dedup_exact(spark, sf_dir).select(F.col("keep_doc_id").alias("doc_id"))
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    removed = (
        pairs.join(keep1.select(F.col("doc_id").alias("doc_id_1")), "doc_id_1")
        .join(keep1.select(F.col("doc_id").alias("doc_id_2")), "doc_id_2")
        .select("doc_id_2")
        .distinct()
    )
    raw = d.agg(F.count(F.lit(1)).alias("n_docs")).select(
        F.lit("raw").alias("stage"), "n_docs"
    )
    after_exact = keep1.agg(F.count(F.lit(1)).alias("n_docs")).select(
        F.lit("after_exact").alias("stage"), "n_docs"
    )
    after_near = (
        keep1.agg(F.count(F.lit(1)).alias("n_keep"))
        .crossJoin(removed.agg(F.count(F.lit(1)).alias("n_removed")))
        .select(
            F.lit("after_neardup").alias("stage"),
            (F.col("n_keep") - F.col("n_removed")).alias("n_docs"),
        )
    )
    return raw.unionByName(after_exact).unionByName(after_near)


# ---------------------------------------------------------------------------
# 11. Windowed MinHash containment — the scale rung for sub-document dup.
# ---------------------------------------------------------------------------

CONT_WINDOW = 20  # shingles per window
CONT_STRIDE = 10  # = CONT_WINDOW/2 → every position sits in exactly 2 windows
CONT_HASHES = 32
CONT_BAND = 4  # → 8 bands of 4


# Rows-only by design: band recall is PROBABILISTIC (a C>=0.8 pair that
# escapes all 8 band collisions is the algorithm working as documented,
# not a bug), so sharing the exact tier's oracle would turn an expected
# recall miss on some future corpus into a red driver row. Precision is
# exact (survivors re-verify on full shingle sets); the recall floor vs
# dedup_containment is pinned in tests/test_dedup.py at sf0.01 AND sf0.1,
# matching the posture of every other approximate tier in the repo.
@register("dedup_containment_minhash", oracle=None, headline=True, tags=("dedup",))
def dedup_containment_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment pairs via WINDOWED MinHash banding + exact verify —
    the scale rung ``dedup_containment``'s docstring promises. Plain
    J-bands can't recall a small doc inside a 100× larger one (band
    collision probability tracks J, not C), so each doc's shingle
    stream splits into half-overlapping windows of CONT_WINDOW shingles
    (stride = W/2 ⇒ any contiguous run of W/2 shingles is fully inside
    some window on both docs, regardless of alignment): an embedded doc
    and its host now share near-identical WINDOWS, and window-to-window
    Jaccard is high wherever containment is — that's what the bands
    collide on. Survivor pairs re-verify with exact containment on the
    full distinct-shingle sets, so precision is exact and the entry
    shares the exact tier's oracle (recall 1.0 on this testdata,
    including the hand-built embedded-doc case in tests/test_dedup.py
    that plain ``dedup_minhash`` provably misses).

    Cost: ~2·n/CONT_STRIDE windows per doc × 8 band keys — the shuffle
    is still O(corpus shingles), never O(pairs); only band-bucket
    collisions are ever compared. At 100 TB the knobs are window size
    (recall floor per embedded span length) and band shape (collision
    selectivity), both independent of corpus size. MEASURED (r11,
    scale_replay 1×/3×/10× on salted copies, SCALE.md §19): slopes
    1.25 / 1.59 vs linear 3.0 / 3.3 — sublinear through 10× the corpus,
    confirming the cost model above.
    """
    d = spread(load(spark, sf_dir, "documents"))
    k = 3
    w = F.split(normalized_text("text"), " ")
    pos = (
        d.select("doc_id", w.alias("w"))
        .select(
            "doc_id",
            "w",
            F.explode(
                F.when(
                    F.size("w") >= k, F.sequence(F.lit(1), F.size("w") - (k - 1))
                ).otherwise(F.expr("array()").cast("array<int>"))
            ).alias("i"),
        )
        .select(
            "doc_id",
            (F.col("i") - 1).alias("p"),
            F.concat_ws(
                " ", *[F.element_at("w", F.col("i") + j) for j in range(k)]
            ).alias("s"),
        )
    )
    # stride-W/2 overlap: position p belongs to windows p//stride and
    # p//stride - 1 (short docs collapse into window 0 alone)
    win0 = (F.col("p") / CONT_STRIDE).cast("int")
    windowed = pos.select(
        "doc_id",
        "s",
        F.explode(
            F.array_distinct(F.array(win0, F.greatest(win0 - 1, F.lit(0))))
        ).alias("win"),
    )
    sig = windowed.groupBy("doc_id", "win").agg(
        F.array(
            *[F.min(F.xxhash64("s", F.lit(i))) for i in range(CONT_HASHES)]
        ).alias("sig")
    )
    banded = sig.select(
        "doc_id",
        F.posexplode(lsh_bands(F.col("sig"), CONT_BAND, CONT_HASHES)).alias("band", "bucket"),
    )
    cand = band_candidates(banded)
    sets = shingle_rows(spark, sf_dir).groupBy("doc_id").agg(
        F.collect_list("s").alias("shingles")
    )
    s1 = sets.select(F.col("doc_id").alias("doc_id_1"), F.col("shingles").alias("sh1"))
    s2 = sets.select(F.col("doc_id").alias("doc_id_2"), F.col("shingles").alias("sh2"))
    verified = cand.join(s1, "doc_id_1").join(s2, "doc_id_2")
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("double")
    cont = inter / F.least(F.size("sh1"), F.size("sh2")).cast("double")
    return verified.where(cont >= 0.8).select(
        "doc_id_1", "doc_id_2", F.round(cont, 4).alias("containment")
    )


# ---------------------------------------------------------------------------
# 12. Incremental dedup — new batch vs the already-ingested corpus.
# ---------------------------------------------------------------------------

_INCR_ORACLE = r"""
WITH fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
         substr(md5(cast(doc_id AS VARCHAR)), 1, 1) < '4' AS in_history
  FROM documents
), history AS (
  SELECT DISTINCT fp FROM fp WHERE in_history
), batch AS (
  SELECT doc_id, fp FROM fp WHERE NOT in_history
), cls AS (
  SELECT b.doc_id, b.fp,
         CASE WHEN h.fp IS NOT NULL THEN 'dup_history'
              WHEN b.doc_id > min(b.doc_id) OVER (PARTITION BY b.fp) THEN 'dup_batch'
              ELSE 'new' END AS decision
  FROM batch b LEFT JOIN history h ON b.fp = h.fp
)
SELECT decision, cast(count(*) AS BIGINT) AS n_docs,
       cast(min(doc_id) AS BIGINT) AS min_doc_id
FROM cls GROUP BY decision
"""


def classify_against_store(batch: DataFrame, seen_fps: DataFrame) -> DataFrame:
    """Classify a batch of ``(doc_id, fp)`` against a fingerprint store:
    ``(doc_id, fp, decision)`` with decision ``dup_history`` (``fp`` is
    in ``seen_fps``), ``dup_batch`` (a lower batch doc_id holds the same
    unseen ``fp``) or ``new``. The store is read as a SET — its ``fp``
    column goes through ``distinct`` — so a fingerprint appended twice
    changes no decision. Shared by ``dedup_incremental`` and its
    streaming twin ``incremental_dedup_stream``.
    """
    history = seen_fps.select("fp").distinct().withColumn("seen", F.lit(True))
    w = Window.partitionBy("fp")
    return (
        batch.join(history, "fp", "left")
        .withColumn("min_batch_id", F.min("doc_id").over(w))
        .select(
            "doc_id",
            "fp",
            F.when(F.col("seen").isNotNull(), "dup_history")
            .when(F.col("doc_id") > F.col("min_batch_id"), "dup_batch")
            .otherwise("new")
            .alias("decision"),
        )
    )


@register("dedup_incremental", oracle=_INCR_ORACLE, tags=("dedup", "pipeline"))
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: classify an arriving batch against the
    fingerprints ALREADY in the corpus — the shape every continuously-
    ingested training set needs (a full-corpus re-dedup per ingest is
    the O(total)·ingests anti-pattern; this is O(batch + store-probe)).
    The history/batch split is the deterministic md5(doc_id) carve
    (stratified_eval_split's device): first hex digit < '4' ⇒ 25% of
    docs stand in for the already-ingested store.

    Each batch doc gets one decision: ``dup_history`` (fingerprint seen
    in the store), ``dup_batch`` (another batch doc with the same
    fingerprint and a lower id wins), ``new``. Reported as decision
    counts so ingest-rate dashboards get one tiny row set.

    At 100 TB: the store is a bucketed (fp → sorted) table, the probe is
    a fp-keyed left join that shuffles only the BATCH (the store side is
    bucket-pruned, no re-shuffle), and the within-batch window rides the
    same fp partitioning — one shuffle of 16-byte pairs total. New
    fingerprints append to the store afterward; nothing ever rescans
    ingested text.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        fingerprint("text").alias("fp"),
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "4").alias(
            "in_history"
        ),
    )
    cls = classify_against_store(
        d.where(~F.col("in_history")).select("doc_id", "fp"), d.where("in_history")
    )
    return cls.groupBy("decision").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
    )


# ---------------------------------------------------------------------------
# 13. Incremental NEAR-dup — arriving batch vs the ingested signature store.
# ---------------------------------------------------------------------------

_INCR_NEAR_ORACLE = (
    _SHINGLE_CTE
    + r"""
, marked AS (
  SELECT sh.doc_id, sh.shingles,
         substr(md5(cast(sh.doc_id AS VARCHAR)), 1, 1) < '4' AS in_history
  FROM sh
), pairs AS (
  SELECT b.doc_id AS bdoc, h.doc_id AS other, h.in_history AS vs_history
  FROM marked b
  JOIN marked h
    ON (h.in_history OR (NOT h.in_history AND h.doc_id < b.doc_id))
   AND h.doc_id <> b.doc_id
  WHERE NOT b.in_history
    AND len(list_intersect(b.shingles, h.shingles))
        / cast(len(b.shingles) + len(h.shingles)
               - len(list_intersect(b.shingles, h.shingles)) AS DOUBLE) >= 0.8
), cls AS (
  SELECT m.doc_id,
         CASE WHEN max(CASE WHEN p.vs_history THEN 1 ELSE 0 END) = 1 THEN 'dup_history'
              WHEN count(p.bdoc) > 0 THEN 'dup_batch'
              ELSE 'new' END AS decision
  FROM marked m LEFT JOIN pairs p ON p.bdoc = m.doc_id
  WHERE NOT m.in_history
  GROUP BY m.doc_id
)
SELECT decision, cast(count(*) AS BIGINT) AS n_docs,
       cast(min(doc_id) AS BIGINT) AS min_doc_id
FROM cls GROUP BY decision
"""
)


@register("dedup_incremental_minhash", oracle=_INCR_NEAR_ORACLE, tags=("dedup", "pipeline"))
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup at the NEAR-dup tier: classify an arriving batch
    against the ingested corpus's MinHash band buckets — the production
    composition of ``dedup_incremental`` (exact fp store probe) and
    ``dedup_minhash`` (banded candidates + exact verify). The history/
    batch carve is the same md5(doc_id) device (first hex < '4' ⇒ 25%
    stands in for the store). Decisions per batch doc: ``dup_history``
    (Jaccard ≥0.8 vs any ingested doc), else ``dup_batch`` (vs a
    lower-id batch doc), else ``new``.

    Shares the exact-Jaccard oracle under the ``dedup_minhash``
    precedent: candidates are exact-VERIFIED, so precision is 1 and the
    driver row stays green while band recall holds (≥1−4e-8 at
    jaccard ≥0.9 with 16 bands of 4; recall on this corpus is pinned at
    1.0 by the minhash tests). A red row here would mean recall slipped
    below the oracle's pair set — the documented failure reading.

    100 TB shape: the store persists (band, bucket, doc_id) triples
    bucketed by (band, bucket) — the probe join shuffles ONLY the
    arriving batch's 16 band keys per doc; within-batch candidates ride
    the same banded frame. Verify touches candidate pairs only, joining
    shingle sets for the candidate ids alone. Nothing rescans ingested
    text; new docs' bands append to the store afterward.
    """
    ex = shingle_rows(spark, sf_dir)
    in_history = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "4"
    sig = ex.groupBy("doc_id").agg(
        F.array(*[F.min(F.xxhash64("s", F.lit(i))) for i in range(NUM_HASHES)]).alias("sig")
    )
    banded = sig.select(
        "doc_id",
        in_history.alias("in_history"),
        F.posexplode(lsh_bands(F.col("sig"))).alias("band", "bucket"),
    )
    batch = banded.where(~F.col("in_history")).select(
        F.col("doc_id").alias("bdoc"), "band", "bucket"
    )
    other = banded.select(F.col("doc_id").alias("other"), "in_history", "band", "bucket")
    cand = (
        batch.join(other, ["band", "bucket"])
        .where(
            (F.col("other") != F.col("bdoc"))
            & (F.col("in_history") | (F.col("other") < F.col("bdoc")))
        )
        .select("bdoc", "other", F.col("in_history").alias("vs_history"))
        .dropDuplicates(["bdoc", "other"])
    )
    sets = ex.groupBy("doc_id").agg(F.collect_list("s").alias("shingles"))
    sb = sets.select(F.col("doc_id").alias("bdoc"), F.col("shingles").alias("sh_b"))
    so = sets.select(F.col("doc_id").alias("other"), F.col("shingles").alias("sh_o"))
    inter = F.size(F.array_intersect("sh_b", "sh_o")).cast("double")
    union = (F.size("sh_b") + F.size("sh_o")).cast("double") - inter
    verified = (
        cand.join(sb, "bdoc")
        .join(so, "other")
        .where(inter / union >= 0.8)
        .select("bdoc", "vs_history")
    )
    # batch membership comes from the DOCUMENTS table, not the shingle
    # frame: a sub-k-word/empty doc has zero shingle rows (so it never
    # reaches sig) but is still an arriving doc and must classify 'new' —
    # deriving from sig silently dropped it from the decision stream (and
    # diverged from the oracle, which keeps empty-shingle docs)
    batch_docs = (
        load(spark, sf_dir, "documents").select("doc_id").where(~in_history)
    )
    agg = verified.groupBy(F.col("bdoc").alias("doc_id")).agg(
        F.max(F.col("vs_history").cast("int")).alias("hit_history")
    )
    cls = batch_docs.join(agg, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("hit_history") == 1, "dup_history")
        .when(F.col("hit_history") == 0, "dup_batch")
        .otherwise("new")
        .alias("decision"),
    )
    return cls.groupBy("decision").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
    )


# ---------------------------------------------------------------------------
# 14. Dedup token impact — what exact dedup saves, in training tokens.
# ---------------------------------------------------------------------------

_TOKEN_IMPACT_ORACLE = r"""
WITH t AS (
  SELECT lang, doc_id,
         cast(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS toks,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
  FROM documents
), keep AS (
  SELECT lang, toks,
         CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY fp) THEN 1 ELSE 0 END AS keeper
  FROM t
)
SELECT lang,
       cast(sum(toks) AS BIGINT) AS tokens_raw,
       cast(sum(CASE WHEN keeper = 1 THEN toks ELSE 0 END) AS BIGINT) AS tokens_kept,
       cast(sum(CASE WHEN keeper = 0 THEN toks ELSE 0 END) AS BIGINT) AS tokens_removed,
       round(sum(CASE WHEN keeper = 0 THEN toks ELSE 0 END)
             / cast(sum(toks) AS DOUBLE), 4) AS removed_share
FROM keep GROUP BY lang
"""


_BLOOM_K = 3  # hash probes per key
_BLOOM_BITS = 1 << 20  # filter width; ~1.5% FPP at 100k store keys


def bloom_blob(keys: DataFrame, key: str) -> DataFrame:
    """1-row Bloom filter over ``keys[key]`` as a map<word, bits> blob.

    ``_BLOOM_K`` seeded ``xxhash64`` bit positions per key, packed 64 to
    a word via ``bit_or`` aggregation, gathered with ``map_from_entries``
    — all codegen'd primitives, never collected to the driver. An empty
    input yields an empty map (every probe misses). Pair with
    ``bloom_probe`` — same hash family on both sides makes false
    negatives impossible by construction (the property test pins it).
    """
    positions = [
        F.pmod(F.xxhash64(F.col(key), F.lit(i)), F.lit(_BLOOM_BITS))
        for i in range(_BLOOM_K)
    ]
    word = F.shiftright(F.col("pos"), 6)
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))")
    return (
        keys.select(F.explode(F.array(*positions)).alias("pos"))
        .groupBy(word.alias("word"))
        .agg(F.bit_or(mask).alias("bits"))
        .agg(F.map_from_entries(F.collect_list(F.struct("word", "bits"))).alias("bf"))
    )


def bloom_probe(key: str) -> Column:
    """Membership test column against a cross-joined ``bloom_blob`` row:
    AND over ``_BLOOM_K`` bit tests, each an ``element_at`` word lookup
    (absent word ⇒ 0 ⇒ miss). True ⇒ maybe-in-set (FPP-bounded); False ⇒
    definitely not."""
    maybe = F.lit(True)
    for i in range(_BLOOM_K):
        p = F.pmod(F.xxhash64(F.col(key), F.lit(i)), F.lit(_BLOOM_BITS))
        w = F.coalesce(F.element_at(F.col("bf"), F.shiftright(p, 6)), F.lit(0).cast("long"))
        m = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(pmod(xxhash64({key}, {i}), {_BLOOM_BITS}), 64) AS INT))"
        )
        maybe = maybe & (w.bitwiseAND(m) != 0)
    return maybe


@register("dedup_incremental_bloom", oracle=_INCR_ORACLE, tags=("dedup", "pipeline", "sketch"))
def dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_incremental`` with a Bloom-filter store probe — the shape
    the exact fp-join takes when the ingested store is too big to join
    every batch against: the store's fingerprints compress into a fixed
    bit array (10 bits/key ⇒ ~1.2 GB at 1B keys) that broadcasts once;
    the membership test then splits the batch map-side into a
    definitely-new stream (a Bloom can't false-negative — these SKIP the
    store join entirely) and a maybe-dup stream that alone pays the
    exact probe (the Bloom's false positives die there, so the OUTPUT is
    exactly ``dedup_incremental``'s — same oracle, the filter is pure
    pruning; Spark's runtime bloom-join injection plays this same trick
    per-query, materializing the blob amortizes it across an ingest day).

    The filter is built with public codegen'd primitives (Spark's
    ``bloom_filter_agg``/``might_contain`` pair lives in an internal
    registry the SQL surface can't reach): ``_BLOOM_K`` seeded
    ``xxhash64`` positions per key, packed 64/word via ``bit_or``
    aggregation, gathered into ONE map<word, bits> row — never collected
    to the driver, broadcast-cross-joined (1-row blob, allowlisted BNLJ).
    Probe = AND over K bit tests against ``element_at`` lookups; an
    empty store yields an empty map ⇒ every lookup misses ⇒ all-new, the
    correct degenerate answer. Blob size is bounded by occupied words ≤
    min(K·|store|, bits/64). After the map-side split, two map-only
    branches union into ONE fp-window shuffle for the within-batch
    keeper decision — the batch never shuffles twice, and the store-side
    join cost decouples from store size (~(dup rate + FPP)·batch rows).
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        fingerprint("text").alias("fp"),
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "4").alias(
            "in_history"
        ),
    )
    history = d.where("in_history").select("fp").distinct()
    batch = (
        d.where(~F.col("in_history"))
        .select("doc_id", "fp")
        .crossJoin(F.broadcast(bloom_blob(history, "fp")))
        .withColumn("maybe", bloom_probe("fp"))
        .drop("bf")
    )
    verified = (
        batch.where("maybe")
        .join(history.withColumn("seen", F.lit(True)), "fp", "left")
        .select("doc_id", "fp", "seen")
    )
    clean = batch.where(~F.col("maybe")).select(
        "doc_id", "fp", F.lit(None).cast("boolean").alias("seen")
    )
    w = Window.partitionBy("fp")
    cls = (
        verified.unionByName(clean)
        .withColumn("min_batch_id", F.min("doc_id").over(w))
        .select(
            "doc_id",
            F.when(F.col("seen").isNotNull(), "dup_history")
            .when(F.col("doc_id") > F.col("min_batch_id"), "dup_batch")
            .otherwise("new")
            .alias("decision"),
        )
    )
    return cls.groupBy("decision").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
    )


@register("corpus_dedup_token_impact", oracle=_TOKEN_IMPACT_ORACLE, tags=("dedup", "text", "pipeline"))
def corpus_dedup_token_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What exact dedup is actually worth, in the pipeline's own
    currency: TRAINING TOKENS removed per language (doc counts — the
    cascade's unit — understate impact when duplicates skew long, and
    token budgets are what mix planning spends). Keeper = min doc_id per
    content fingerprint via the single-scan fp-window (the exact_dedup
    plan shape); one pass, one fp-keyed shuffle, language-sized output.
    """
    from live_data_spark.operators.text import fingerprint

    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("toks"),
        fingerprint("text").alias("fp"),
    )
    keeper = (F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("fp"))).cast("int")
    k = d.select("lang", "toks", keeper.alias("keeper"))
    removed = F.sum(F.when(F.col("keeper") == 0, F.col("toks")).otherwise(0))
    return k.groupBy("lang").agg(
        F.sum("toks").alias("tokens_raw"),
        F.sum(F.when(F.col("keeper") == 1, F.col("toks")).otherwise(0)).alias("tokens_kept"),
        removed.alias("tokens_removed"),
        F.round(removed / F.sum("toks").cast("double"), 4).alias("removed_share"),
    )


# ---------------------------------------------------------------------------
# 10. Threshold-sensitivity curve — how much the dedup knob removes.
# ---------------------------------------------------------------------------

CURVE_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)

_CURVE_ORACLE = (
    _SHINGLE_CTE
    + """
, ex AS (
  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
), pairs AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         count(*) AS n_common, any_value(a.n) AS n1, any_value(b.n) AS n2
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), jac AS (
  SELECT doc_id_1, doc_id_2, n_common / (n1 + n2 - n_common) AS j
  FROM pairs WHERE n_common / (n1 + n2 - n_common) >= 0.5
), grid AS (
  SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE) AS threshold
), f AS (
  SELECT g.threshold, j.doc_id_1, j.doc_id_2
  FROM grid g JOIN jac j ON j.j >= g.threshold
), pair_agg AS (
  SELECT threshold, count(*) AS n_pairs,
         count(DISTINCT doc_id_2) AS n_removed_greedy
  FROM f GROUP BY threshold
), doc_agg AS (
  SELECT threshold, count(DISTINCT d) AS n_docs
  FROM (SELECT threshold, doc_id_1 AS d FROM f
        UNION ALL SELECT threshold, doc_id_2 FROM f)
  GROUP BY threshold
)
SELECT g.threshold,
       CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(d.n_docs, 0) AS BIGINT) AS n_docs,
       CAST(coalesce(p.n_removed_greedy, 0) AS BIGINT) AS n_removed_greedy
FROM grid g
LEFT JOIN pair_agg p ON p.threshold = g.threshold
LEFT JOIN doc_agg d ON d.threshold = g.threshold
ORDER BY g.threshold
"""
)


@register("dedup_threshold_curve", oracle=_CURVE_ORACLE, tags=("dedup", "tuning"))
def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-knob sensitivity: for Jaccard thresholds 0.5→0.9, how many
    near-dup pairs fire, how many docs get flagged, and how many a
    greedy keep-smallest-id policy would remove (a doc is removed iff it
    has a smaller-id neighbor at ≥ t — the survivorship rule, minus the
    transitive closure). This is the tuning table every dedup rollout
    needs BEFORE committing a threshold: the pair/removal counts as a
    function of t show where the knee is, and a threshold chosen off
    this curve is the input to dedup_minhash's banding design (bands ×
    rows trade recall exactly at the chosen t).

    One exact pair subtree (``jaccard_pairs``, dedup_ngram_jaccard's
    inverted index with its lossless size-ratio prune, floored at t=0.5
    instead of 0.8) feeds all five thresholds via a broadcast 5-row grid
    fan-out — the candidate join runs ONCE, not per threshold. Exact
    ground-truth tier by design (quadratic DuckDB oracle,
    sf0.01-verified): at 100 TB the same
    curve comes from the MinHash signatures (estimate Jaccard from
    signature agreement instead of exact set overlap) — the cascade
    accounting in corpus_dedup_cascade is that path's rollup.
    """
    jac = jaccard_pairs(shingle_rows(spark, sf_dir), CURVE_THRESHOLDS[0])

    grid = local_frame(spark, [(float(t),) for t in CURVE_THRESHOLDS], "threshold double")
    # broadcast hint: keeps the non-equi inner join a broadcast
    # nested-loop join over the grid, never a CartesianProduct
    f = F.broadcast(grid).join(jac, jac["j"] >= grid["threshold"])
    # ONE pass serves all three counts: explode each pair into
    # role-tagged (is_left, d) rows so n_pairs (Σ is_left), n_docs
    # (distinct d) and n_removed_greedy (distinct d where right-side)
    # come out of one (threshold, d) aggregate rolled up per threshold —
    # separate pair_agg/doc_agg branches each re-ran the shingle
    # self-join subtree (4.0 s → 2.3 s at sf0.1). Two plain aggregates,
    # not two COUNT(DISTINCT …): no Expand, so one plan form.
    rows = f.select(
        "threshold",
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("is_left"), F.col("doc_id_1").alias("d")),
                F.struct(F.lit(0).alias("is_left"), F.col("doc_id_2").alias("d")),
            )
        ).alias("r"),
    ).select("threshold", F.col("r.is_left").alias("is_left"), F.col("r.d").alias("d"))
    per_doc = rows.groupBy("threshold", "d").agg(
        F.sum("is_left").alias("n_left"),
        F.max((F.col("is_left") == 0).cast("int")).alias("removed"),
    )
    agg = per_doc.groupBy("threshold").agg(
        F.sum("n_left").alias("n_pairs"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("removed").alias("n_removed_greedy"),
    )
    return (
        grid.join(F.broadcast(agg), "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).cast("bigint").alias("n_docs"),
            F.coalesce("n_removed_greedy", F.lit(0)).cast("bigint").alias("n_removed_greedy"),
        )
        .orderBy("threshold")
    )
