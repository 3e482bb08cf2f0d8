"""Similarity search over the ``embeddings`` table (array<float> vectors).

Two rungs (BASELINE.json north star):
- brute-force cosine top-k — the exact baseline; O(Q·N) dot products,
  fine when the query set is small and broadcastable.
- SRP-LSH bucketed ANN — the 100 TB path: sign-random-projection buckets
  shrink the candidate set; recall measured against brute force in tests.

Dot products run as JVM higher-order functions (``zip_with``+``aggregate``)
over double-cast arrays — vectorized enough at 64 dims that a Pandas UDF's
Arrow round-trip would cost more than it saves; for ≥1k dims swap the inner
product to a ``pandas_udf`` (numpy BLAS) without touching the query shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from live_data_spark.catalog import load, register, table_rowcount
from live_data_spark.session import local_frame

N_QUERIES = 10  # vec_id < 10 form the demo query set
TOP_K = 5


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product of two double arrays (fp-deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def pin_for_iteration(df: DataFrame) -> DataFrame:
    """Persist a frame an iterative fit will scan once per round
    (k-means Lloyd rounds, logreg Newton rounds). Caller unpersists
    after its loop (``try/finally``).

    The scale defect this closes: each round's
    ``mapInPandas(...).collect()`` re-executes the frame's full lineage,
    so an ``iters``-round fit reads the source table ``iters`` times. At
    100 TB that is the difference between 12 full reads and 1 read + 11
    executor-local block re-reads — the posture MLlib's own iterative
    trainers use (they warn when the input is uncached). MEMORY_AND_DISK,
    so memory pressure spills instead of failing. Measured at sf0.1
    (best-of-4, one JVM, variants swapped in-process): embedding_kmeans
    2.38 → 2.15 s, semdedup_pairs level — modest locally because the
    whole table is one ~26 MB page-cached split, but the read-per-round
    multiplier is what matters at real scale.

    Deliberately NOT a repartition floor: the sf0.1 parquet is a single
    split, so every Lloyd pass runs as one task — yet repartitioning up
    to the core count measured SLOWER than leaving it alone (3.14 s vs
    2.38 s baseline: the added shuffle plus 32 tasks' overhead exceed
    any gain when one numpy pass over the block is already ~10 ms). At
    production scale the input has splits ≫ cores and a floor would
    never trigger; the only regime where the scan is under-parallel is
    exactly the regime where the per-round compute is trivial.
    """
    from pyspark import StorageLevel

    return df.persist(StorageLevel.MEMORY_AND_DISK)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def exact_topk(scored: DataFrame) -> DataFrame:
    """The exact top-k tail of every ANN path: rank each query's
    (query_id, neighbor_id, cos) rows by cosine, ties by neighbor id so
    the order is total, keep TOP_K and round the cosine for output."""
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "rnk", F.round("cos", 4).alias("cosine_sim"))
    )


def cosine_pandas(a: Column, b: Column) -> Column:
    """Arrow-batched numpy cosine — the ≥1k-dims swap-in for ``cosine``.

    At 64 dims the JVM higher-order form wins (no Arrow round-trip); past
    ~1k dims numpy's SIMD dot products overtake it by an order of
    magnitude. Both paths return identical values (pinned to 1e-9 in
    tests/test_similarity.py), so swapping is a one-line change at any
    call site. Defined lazily so importing the module never requires an
    active session.

    Marked non-deterministic (it is pure — this is an optimizer fence,
    not a semantics change): callers filter on the returned score, and
    Catalyst pushes such a filter BELOW the projection while keeping the
    projection too, evaluating the UDF twice per row — two
    ArrowEvalPython nodes for one call, every candidate pair shipping
    its two 64-double vectors across the Python boundary twice (seen
    in ``embedding_neardup_lsh``'s unfenced plan; the optimization
    guide §4.4 pattern). The fence keeps it to one.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # hint-free form: this module's `from __future__ import annotations`
    # stringifies type hints, which pandas_udf can't resolve for locals
    def _cos(sa, sb):
        va = np.stack(sa.to_numpy())
        vb = np.stack(sb.to_numpy())
        num = (va * vb).sum(axis=1)
        den = np.linalg.norm(va, axis=1) * np.linalg.norm(vb, axis=1)
        return pd.Series(num / den)

    return pandas_udf(_cos, "double").asNondeterministic()(a, b)


_TOPK_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, cast(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(q.qe, cast(e.embedding AS DOUBLE[])) AS cos,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY list_cosine_similarity(q.qe, cast(e.embedding AS DOUBLE[])) DESC,
                                     e.vec_id) AS rnk
  FROM q, embeddings e
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cast(rnk AS INTEGER) AS rnk, round(cos, 4) AS cosine_sim
FROM scored WHERE rnk <= {TOP_K}
"""


@register("ann_cosine_topk", oracle=_TOPK_ORACLE, headline=True, tags=("similarity",))
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: exact nearest neighbors for 10 queries.

    Plan: broadcast the (tiny) query set against the corpus — a map-only
    stage, no shuffle for the scoring; one shuffle for the per-query
    top-k window. Ranking tiebreak on neighbor id keeps the output
    totally ordered (testdata top-5 cosine gaps ≥5e-5, far above
    engine fp drift, so ranks are stable across engines).
    """
    e = load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), as_double("embedding").alias("qe")
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), as_double("embedding").alias("ce"))
    scored = (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qe"), F.col("ce")).alias("cos"),
        )
    )
    return exact_topk(scored)


HAMMING_K = 5  # top-k under Hamming distance

_HAMMING_ORACLE = f"""
WITH e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS emb FROM embeddings),
q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         cast(list_sum(list_transform(list_zip(q.qe, c.emb),
              s -> CASE WHEN (s[1] > 0) <> (s[2] > 0) THEN 1 ELSE 0 END))
              AS INTEGER) AS hamming
  FROM q, e c WHERE c.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, hamming,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY hamming, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, cast(rnk AS INTEGER) AS rnk, hamming,
       round(cos(pi() * hamming / 64.0), 4) AS est_cos
FROM ranked WHERE rnk <= {HAMMING_K}
"""


@register("embedding_hamming_topk", oracle=_HAMMING_ORACLE, tags=("similarity", "vector", "compression"))
def embedding_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-embedding ANN: sign-binarize each 64-dim vector into TWO
    packed 32-bit words (16 bytes → the whole vector in one register
    pair), rank neighbors by Hamming distance via XOR + popcount — the
    most aggressive compression rung below PQ (4 B/vector there,
    8 B here, 512 B raw). Under the SRP/hyperplane model Hamming
    estimates the angle: est_cos = cos(π·h/d), emitted per row so the
    consumer sees both the integer distance and its cosine reading.

    The packing is the production trick: the corpus scan carries two
    BIGINT columns instead of array<float>, the distance is two
    xor+bit_count ops in whole-stage codegen — no UDF, no Arrow, no
    floats. The oracle counts sign disagreements directly over the raw
    arrays (definitionally the same number), so the driver hash-checks
    the packed path against an unpacked spec. Integer ties at the k
    boundary are broken by neighbor_id on both sides — membership is
    exact, no fp drift anywhere in the ranking.
    """
    import math

    def word(c, start):  # 32 sign bits from dims [start, start+32)
        return F.aggregate(
            F.transform(
                F.slice(c, start + 1, 32),
                # shiftleft() takes only a literal bit count — build 2^i
                # via pow (exact in doubles through 2^52, i < 32 here)
                lambda x, i: F.when(x > 0, F.pow(F.lit(2.0), i).cast("long")).otherwise(
                    F.lit(0).cast("long")
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        word(as_double("embedding"), 0).alias("w0"),
        word(as_double("embedding"), 32).alias("w1"),
    )
    q = e.select(
        F.col("vec_id").alias("query_id"), F.col("w0").alias("q0"), F.col("w1").alias("q1")
    ).where(F.col("query_id") < N_QUERIES)
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("w0").alias("c0"), F.col("w1").alias("c1")
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                F.bit_count(F.col("q0").bitwiseXOR(F.col("c0")))
                + F.bit_count(F.col("q1").bitwiseXOR(F.col("c1")))
            ).alias("hamming"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= HAMMING_K)
        .select(
            "query_id",
            "neighbor_id",
            "rnk",
            "hamming",
            F.round(F.cos(F.lit(math.pi) * F.col("hamming") / 64.0), 4).alias("est_cos"),
        )
    )


_TRUNC_ORACLE = f"""
WITH e AS (
  SELECT vec_id, cast(embedding AS DOUBLE[]) AS emb,
         list_slice(cast(embedding AS DOUBLE[]), 1,
                    cast(floor(len(embedding) / 2) AS BIGINT)) AS half
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, emb AS qe, half AS qh FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY list_cosine_similarity(q.qe, c.emb) DESC,
                                     c.vec_id) AS rnk_full,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY list_cosine_similarity(q.qh, c.half) DESC,
                                     c.vec_id) AS rnk_half
  FROM q, e c WHERE c.vec_id <> q.query_id
)
SELECT query_id,
       count(CASE WHEN rnk_half <= {TOP_K} THEN 1 END) AS n_overlap,
       round(count(CASE WHEN rnk_half <= {TOP_K} THEN 1 END)
             / cast({TOP_K} AS DOUBLE), 4) AS overlap_frac,
       round(avg(rnk_half), 2) AS mean_half_rank
FROM scored WHERE rnk_full <= {TOP_K}
GROUP BY query_id
"""


@register("embedding_truncation_fidelity", oracle=_TRUNC_ORACLE, tags=("similarity", "vector", "compression"))
def embedding_truncation_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation QA: how well does HALF the embedding
    preserve the full-dimension cosine ranking? Per query: the overlap
    between the full-dim top-k and the half-dim top-k, and the mean
    half-dim rank of the full-dim top-k — the go/no-go audit before
    storing truncated vectors (2× memory/bandwidth cut for ANN shards;
    the dimension-drop PQ and IVF both benefit from). High overlap ⇒
    the prefix dims carry the ranking signal and the index can truncate;
    a low row pinpoints WHICH query's neighborhood collapses.

    Plan: ONE broadcast(queries)×corpus pass computes both cosines (the
    half vector is an in-plan ``slice`` — no second scan, no collect for
    the dimension), then two row_number windows over the same per-query
    partition (one shuffle, two sorts) and a per-query aggregate.
    Neighbor-id tiebreaks keep both rankings totally ordered; membership
    at the k-boundary is fp-safe (cosine gaps at the cut ≳1e-4 on this
    testdata vs ~1e-15 engine drift).
    """
    e = load(spark, sf_dir, "embeddings")
    half = lambda c: F.slice(c, 1, (F.size(c) / 2).cast("int"))  # noqa: E731
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        as_double("embedding").alias("qe"),
        half(as_double("embedding")).alias("qh"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double("embedding").alias("ce"),
        half(as_double("embedding")).alias("ch"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qe"), F.col("ce")).alias("cos_full"),
            cosine(F.col("qh"), F.col("ch")).alias("cos_half"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.col("cos_full").desc(), "neighbor_id")
    wh = Window.partitionBy("query_id").orderBy(F.col("cos_half").desc(), "neighbor_id")
    ranked = scored.select(
        "query_id",
        F.row_number().over(wf).alias("rnk_full"),
        F.row_number().over(wh).alias("rnk_half"),
    )
    hit = F.when(F.col("rnk_half") <= TOP_K, 1)
    return (
        ranked.where(F.col("rnk_full") <= TOP_K)
        .groupBy("query_id")
        .agg(
            F.count(hit).alias("n_overlap"),
            F.round(F.count(hit) / F.lit(float(TOP_K)), 4).alias("overlap_frac"),
            F.round(F.avg("rnk_half"), 2).alias("mean_half_rank"),
        )
    )


_NEARDUP_ORACLE = """
WITH e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS emb FROM embeddings)
SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
       round(list_cosine_similarity(a.emb, b.emb), 4) AS cosine_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.emb, b.emb) >= 0.4
"""


_BLOCK_TARGET = 1024  # rows per block; block-pair groups hold ≤ 2·target vectors


@register("embedding_neardup_pairs", oracle=_NEARDUP_ORACLE, headline=True, tags=("similarity", "dedup"))
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.4 — demo level;
    real corpora use ~0.95 on trained embeddings, this testdata is
    uniform-random so 0.4 is the 'interesting pairs' band).

    Blocked all-pairs: vectors hash into B ≈ n/1024 blocks; every block
    PAIR (ba ≤ bb) is one ``applyInPandas`` group whose similarity matrix
    is a single numpy matmul over the normalized rows. Replication cost
    is B rows per vector (each vector joins every pair its block is in),
    so total shuffle = n·B rows — the knob between task count (B²/2) and
    task size (2·1024 vectors); at cluster scale raise the block target
    until a block-pair fills an executor core. This replaces the naive
    pairwise join (n²/2 interpreted dot products — 35× slower at sf0.1,
    and the per-pair HOF recomputed both norms every time).

    The n²/2 *comparisons* still happen — inside SIMD matmuls, the only
    place they're affordable. When even that is too much,
    ``embedding_neardup_lsh`` is the composed scale tier: SRP-LSH
    candidate pruning + exact re-score, same schema and oracle as this
    operator, equality pinned in tests.

    fp note: numpy's blocked summation order differs from the oracle's
    sequential loop by ≤ ~1e-14 — threshold/rounding boundaries are 1e-5
    wide, so parity holds (verified at sf0.01).
    """
    import math

    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("emb"))
    n = table_rowcount(sf_dir, "embeddings")  # parquet-footer count; sizes the block grid
    n_blocks = max(1, math.ceil(n / _BLOCK_TARGET))

    rep = e.withColumn("blk", F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int")).select(
        "vec_id",
        "emb",
        "blk",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("x"),
    ).select(
        "vec_id",
        "emb",
        "blk",
        F.least("blk", "x").alias("ba"),
        F.greatest("blk", "x").alias("bb"),
    )

    def block_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ba, bb = key
        left = pdf[pdf["blk"] == ba]
        right = pdf[pdf["blk"] == bb]
        if left.empty or right.empty:
            return pd.DataFrame({"vec_id_1": [], "vec_id_2": [], "cos": []})
        la = np.stack(left["emb"].to_numpy())
        rb = np.stack(right["emb"].to_numpy())
        la = la / np.linalg.norm(la, axis=1, keepdims=True)
        rb = rb / np.linalg.norm(rb, axis=1, keepdims=True)
        sim = la @ rb.T
        li = left["vec_id"].to_numpy()
        ri = right["vec_id"].to_numpy()
        if ba == bb:
            ii, jj = np.triu_indices(len(li), k=1)
        else:
            ii, jj = np.meshgrid(np.arange(len(li)), np.arange(len(ri)), indexing="ij")
            ii, jj = ii.ravel(), jj.ravel()
        cos = sim[ii, jj]
        keep = cos >= 0.4
        id1, id2 = li[ii[keep]], ri[jj[keep]]
        return pd.DataFrame(
            {
                "vec_id_1": np.minimum(id1, id2),
                "vec_id_2": np.maximum(id1, id2),
                "cos": cos[keep],
            }
        )

    pairs = rep.groupBy("ba", "bb").applyInPandas(
        block_pairs, "vec_id_1 long, vec_id_2 long, cos double"
    )
    # round in Spark, not numpy: F.round's HALF_UP on the shortest repr is
    # what matches DuckDB's round() (np.round is half-even).
    return pairs.select("vec_id_1", "vec_id_2", F.round("cos", 4).alias("cosine_sim"))


_NEARDUP_LSH_TABLES = 8  # more tables than ann_srp_lsh: pair recall must hit 1.0 on testdata
_NEARDUP_LSH_RADIUS = 2  # probe all buckets within 2 sign-bit flips


@register(
    "embedding_neardup_lsh",
    oracle=_NEARDUP_ORACLE,
    headline=True,  # top-3 warm cost among non-headline entries (r5 sweep)
    tags=("similarity", "dedup"),
)
def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via SRP-LSH candidates + exact re-score — the
    100 TB composition of ``ann_srp_lsh``'s bucketing and
    ``embedding_neardup_pairs``'s semantics (same output schema, same
    oracle).

    Shuffle cost is O(n · tables · probes) rows — QUASI-linear in n:
    plane count p grows with log2(n) to hold bucket occupancy constant,
    and the radius-2 probe set is 1 + p + p(p−1)/2 = O(p²), so the
    total is O(n · log²n) versus the exact twin's O(n²/block)
    replication. Measured (scripts/scale_replay.py, 10× corpus at
    sf0.1, idle host): 12.8× cost at 10× rows against the n·probes(p)
    model's 19× ceiling — the probe set grew 29 → 56 as p went 7 → 10,
    and the n² term is verifiably absent (the exact twin would have
    paid 100×). Candidates re-score with true cosine so
    precision is exactly 1, and any hash-mismatch risk is confined to
    recall. Parameters here (8 tables, radius-2 multi-probe)
    are sized for FULL recall of the 0.4-cosine band on uniform-random
    embeddings — the adversarial worst case for angular LSH (θ ≈ 66°,
    per-plane agreement ~0.63). A production corpus near-dups at ≥0.9
    (θ ≈ 26°, agreement ~0.86), where 4 tables and radius 1 give the
    same recall at a fraction of the probes: tune DOWN for real data.
    Verified recall = 1.0 vs the exact twin at sf0.01 and sf0.1 with the
    seeded planes (tests/test_similarity.py pins it).

    Candidate pairs join bucket-to-bucket (one shuffle on
    (table, bucket)), dedup on the unordered pair key, then one exact
    cosine per surviving candidate.

    Bench-reading note: at sf0.1 this is SLOWER than the exact blocked-
    matmul twin (~3.6 s vs ~0.5 s) and that is expected, not a defect —
    with only 2^5 buckets the radius-2 probe set covers half the bucket
    space, so candidates ≈ all pairs while paying LSH overhead, and the
    exact twin's dense BLAS wins at small n. Plane count grows with
    log2(n), so the probe fraction collapses as n grows (n = 10⁶ →
    ~0.7% of buckets probed); the crossover where this tier wins is
    n ≈ 10⁵ at 64 dims. The entry is benched at this SF precisely to
    keep its cost visible, not because small n is its regime.
    """
    return neardup_lsh_pairs(spark, sf_dir)


def neardup_lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.4,
    n_tables: int = _NEARDUP_LSH_TABLES,
    radius: int = _NEARDUP_LSH_RADIUS,
) -> DataFrame:
    """The parameterized SRP-LSH near-dup core — ``embedding_neardup_lsh``
    with its defaults, and the PRODUCTION TUNE-DOWN LEVER as executed
    code: ``radius``/``n_tables`` set the recall-vs-cost point for the
    similarity band actually being hunted. The catalog entry's
    adversarial 0.4-band config is (8 tables, radius 2) — probe set
    1 + p + p(p−1)/2; a real corpus near-dupping at ≥0.7 cosine runs
    (4 tables, radius 1) — probe set 1 + p, cutting the O(n·log²n)
    shuffle's log² factor to log while holding recall (pinned against
    the exact twin in tests/test_similarity.py's production-band arm).
    ``radius`` ∈ {0, 1, 2}: 0 = own bucket only (the ann_srp_lsh
    posture, recall from table count alone).
    """
    import math

    if radius not in (0, 1, 2):
        raise ValueError("radius must be 0, 1, or 2")
    # no cycle at call time (the text.py idiom); spread() fans the
    # single-split embeddings scan across cores BEFORE the probe
    # explode and candidate join — without it the ~tables·probes·n
    # probe fan-out, the bucket join, and the map-side pair dedup all
    # ran in ONE scan task (guide §2.5 input skew: the r12 breakdown
    # measured the whole pre-exchange pipeline single-threaded, 3.2 s
    # of the query's 4.5 s; spread cut the query to ~1.9 s at sf0.1).
    # At real scale the file count keeps the scan wide and spread()
    # no-ops — this only rescues the small-input regime.
    from live_data_spark.operators.dedup import spread

    e = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", as_double("embedding").alias("emb")
    )
    # plane count from parquet-footer metadata, NOT an eager e.count():
    # building this plan must not run a Spark job (was the one eager
    # action in a hot query path — a full extra table pass per build).
    n = table_rowcount(sf_dir, "embeddings")
    n_dims = 64
    n_planes = max(4, int(math.ceil(math.log2(max(n / TARGET_BUCKET_SIZE, 2.0)))))

    banded = e.select(
        "vec_id",
        "emb",
        F.posexplode(
            srp_buckets_udf(n_dims, n_planes, n_tables=n_tables)(F.col("emb"))
        ).alias("table_id", "bucket"),
    )

    # probe side: every bucket within Hamming distance ≤ radius of the
    # row's own. Candidates travel as BARE ID PAIRS (16 bytes) through
    # the bucket join and the dedup — embeddings re-attach only to the
    # ~|output|-sized surviving pair set. Attaching both vectors inside
    # the bucket join would multiply the shuffle by the vector width
    # (measured 6× slower end-to-end at sf0.1).
    flips = (
        [F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
        if radius >= 1
        else []
    )
    flips2 = (
        [
            F.col("bucket").bitwiseXOR(F.lit((1 << i) | (1 << j)))
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
        if radius >= 2
        else []
    )
    probes = F.array(F.col("bucket"), *flips, *flips2)
    probing = banded.select(
        F.col("vec_id").alias("vec_id_1"),
        "table_id",
        F.explode(probes).alias("bucket"),
    )

    cand = (
        probing.join(
            banded.select(F.col("vec_id").alias("vec_id_2"), "table_id", "bucket"),
            ["table_id", "bucket"],
        )
        .where(F.col("vec_id_1") < F.col("vec_id_2"))
        # partial-aggregating dedup: map-side combine shrinks the candidate
        # stream before the pair-key shuffle
        .dropDuplicates(["vec_id_1", "vec_id_2"])
    )
    return _rescore_pairs(spark, sf_dir, e, cand, threshold)


def _rescore_pairs(
    spark: SparkSession,
    sf_dir: str,
    e: DataFrame,
    cand: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact-cosine re-score of a bare (vec_id_1, vec_id_2) candidate
    frame, gated on corpus size (r12, guide §§2.3/8 — move decisions on
    keys, not payloads):

    - gate OPEN (``table_bytes(embeddings)`` ≤ BROADCAST_GATE_BYTES,
      the repo-wide broadcast budget): candidates cross the Python
      boundary as 16-byte id pairs and each TASK materializes the
      embedding matrix itself, once, from the table's parquet files
      (guide §4.5 — heavyweight init before the batch loop; the file
      list is resolved driver-side by the same stat walk the gate uses).
      float32 → float64 widening is exact, so the matrix holds the
      identical doubles ``as_double`` produces, and each batch gathers
      rows by ``searchsorted`` and scores with the exact
      ``cosine_pandas`` expression ((va·vb)/(|va|·|vb|) on gathered
      rows — bit-identical values). The r12 shape collected + Spark-
      broadcast the matrix at plan-BUILD time, which put an eager Spark
      job into the exact hot path the build contract above says must
      not run one, re-paid per rebuild (bench builds 5×, plan sweeps),
      and leaked one broadcast per build (ContextCleaner-only); the
      per-task read is a gate-bounded (≤32 MiB) local-file scan that
      runs only when the query actually executes. The r11 shape before
      it attached both 64-double vectors to every candidate via two
      joins and shipped ~128 B/pair through Arrow both ways; at sf0.1's
      ~2M candidates that scoring stage alone added ~1.9 s, and the
      interleaved whole-query A/B read 2.37 s (matrix) vs 2.99 s (join)
      for the full-recall entry, 2.04 vs 2.49 for the production band.
    - gate CLOSED (corpus too big to hold per-executor): the r11 plan
      unchanged — candidates stay bare through the dedup, embeddings
      re-attach by join to the surviving pair set, numpy cosine per
      Arrow batch. Nothing is ever driver- or executor-resident.

    Both arms return identical values (same float64 ops) AND identical
    row semantics at the edges: a candidate id absent from the
    embeddings table is dropped (the gather validates ``searchsorted``
    hits — matching the closed arm's inner join; an unvalidated gather
    would return a neighboring row's vector), and a NaN cosine
    (zero-norm vector) is dropped by BOTH arms — numpy's ``>=`` is
    False for NaN and the closed arm filters ``NOT isnan`` explicitly,
    where bare Spark ``>=`` would keep NaN (NaN sorts above every
    double). Parity is covered by the shared oracle at sf0.001/0.01 and
    the planted-pair pins, plus the gate-closed sweep
    (tests/test_broadcast_gate_closed.py) which forces this gate shut
    like every other."""
    import numpy as np
    import pandas as pd

    from live_data_spark.catalog import (
        BROADCAST_GATE_BYTES,
        _table_state,
        table_bytes,
    )

    if table_bytes(sf_dir, "embeddings") <= BROADCAST_GATE_BYTES:
        # driver-side stat walk only — building this plan runs NO Spark
        # job; tasks read these files themselves (gate-bounded bytes)
        emb_files = _table_state(sf_dir, "embeddings")[0]
        thr = threshold

        def rescore(batches):
            import pyarrow.parquet as pq

            ids_list, mats = [], []
            for fpath in emb_files:
                t = pq.read_table(fpath, columns=["vec_id", "embedding"])
                ids_list.append(t.column("vec_id").to_numpy().astype(np.int64))
                arr = t.column("embedding").combine_chunks()
                flat = np.asarray(arr.flatten(), dtype=np.float64)
                widths = np.diff(np.asarray(arr.offsets))
                mats.append(
                    flat.reshape(len(arr), int(widths[0]))
                    if len(arr)
                    else np.zeros((0, 0))
                )
            ids_ = np.concatenate(ids_list) if ids_list else np.zeros(0, np.int64)
            m = np.vstack([x for x in mats if x.size]) if ids_.size else np.zeros((0, 0))
            order = np.argsort(ids_, kind="stable")
            ids_, m = ids_[order], m[order] if m.size else m
            n_ids = len(ids_)
            for pdf in batches:
                if not len(pdf) or not n_ids:
                    continue
                a1 = pdf["vec_id_1"].to_numpy()
                a2 = pdf["vec_id_2"].to_numpy()
                i1 = np.minimum(np.searchsorted(ids_, a1), n_ids - 1)
                i2 = np.minimum(np.searchsorted(ids_, a2), n_ids - 1)
                # validated gather: ids missing from the table drop out,
                # matching the gate-closed arm's inner-join semantics
                ok = (ids_[i1] == a1) & (ids_[i2] == a2)
                if not ok.any():
                    continue
                va, vb = m[i1[ok]], m[i2[ok]]
                num = (va * vb).sum(axis=1)
                den = np.linalg.norm(va, axis=1) * np.linalg.norm(vb, axis=1)
                cos = num / den
                keep = cos >= thr  # False for NaN: zero-norm rows drop
                if keep.any():
                    yield pd.DataFrame(
                        {
                            "vec_id_1": a1[ok][keep],
                            "vec_id_2": a2[ok][keep],
                            "cos": cos[keep],
                        }
                    )

        scored = cand.select("vec_id_1", "vec_id_2").mapInPandas(
            rescore, schema="vec_id_1 long, vec_id_2 long, cos double"
        )
        return scored.select(
            "vec_id_1", "vec_id_2", F.round("cos", 4).alias("cosine_sim")
        )
    e1 = e.select(F.col("vec_id").alias("vec_id_1"), F.col("emb").alias("emb_1"))
    e2 = e.select(F.col("vec_id").alias("vec_id_2"), F.col("emb").alias("emb_2"))
    scored = cand.join(e1, "vec_id_1").join(e2, "vec_id_2").select(
        "vec_id_1",
        "vec_id_2",
        cosine_pandas(F.col("emb_1"), F.col("emb_2")).alias("cos"),
    )
    # NOT isnan: numpy `>=` in the gate-open arm is False for NaN while
    # Spark orders NaN above every double (`NaN >= thr` is true) — without
    # the guard a zero-norm embedding would make the result gate-dependent
    return (
        scored.where((~F.isnan("cos")) & (F.col("cos") >= threshold))
        .select("vec_id_1", "vec_id_2", F.round("cos", 4).alias("cosine_sim"))
    )


@register("neardup_lsh_production_band", oracle=None, tags=("similarity", "dedup", "lsh"))
def neardup_lsh_production_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented production configuration as a named plan:
    (4 tables, radius 1, threshold 0.7) — sized for hunting TRUE
    NEAR-DUPS (cosine ≳ 0.9), where per-plane agreement is high enough
    that the radius-1 probe set (1 + p instead of 1 + p + p(p−1)/2)
    holds recall while cutting the shuffle's log² factor to log.

    Catalog-registered rows-only so the production rung accumulates
    driver rows like every other entry; exactness lives in the
    planted-pair recall+precision pin (tests/test_similarity.py). No
    SQL oracle: the probe-set membership is a function of the seeded
    random hyperplanes, not expressible as a DuckDB query over the
    table alone. Registration does not change the ≥0.7 band's emptiness
    on uniform-random testdata — see the non-empty note below.

    Recall is band-dependent and the contract is quantitative, not
    flat: per-pair retention is 1 − (1 − p_t)^4 with p_t = P(Hamming ≤ 1
    across p planes) under per-plane flip q = θ/π. At cosine 0.97
    (θ≈14°, q≈0.08) retention is ≈1 even at p = 10 — the regime this
    config is FOR, pinned exact-set-equal against a numpy ground truth
    in tests/test_similarity.py. Near the 0.7 scoring threshold itself
    (θ≈46°, q≈0.25) retention falls to roughly 70-80% at p = 10: pairs
    scored just above the cutoff are NOT fully recalled. threshold=0.7
    is the re-scoring cutoff (precision stays exactly 1), not a recall
    promise for the whole band — a corpus whose interesting pairs sit
    at 0.7-0.85 should run the adversarial full-recall config
    (``embedding_neardup_lsh``'s 8 tables, radius 2) instead.
    """
    return neardup_lsh_pairs(spark, sf_dir, threshold=0.7, n_tables=4, radius=1)


# ---------------------------------------------------------------------------
# SRP-LSH: sign-random-projection buckets — the approximate scale path.
# ---------------------------------------------------------------------------

N_TABLES = 4  # independent hash tables (union of candidates)
TARGET_BUCKET_SIZE = 64  # planes auto-scale: n_planes ≈ log2(n / target)


def srp_buckets_udf(n_dims: int, n_planes: int, n_tables: int = N_TABLES):
    """Vectorized SRP bucketing: emb → array of ``n_tables`` bucket ids.

    One Arrow-batched einsum projects the whole batch against all
    tables' hyperplanes at once; sign bits pack into an int per table.
    The ±1 plane matrices are seeded-deterministic per table and ride to
    executors inside the UDF closure (N_TABLES·d·p doubles — a few KB).

    This replaced a JVM expression-tree formulation (element_at × plane
    constant, summed termwise): at 64 dims × 7 planes × 4 tables that
    tree is ~1800 nodes per row — past codegen limits, evaluated
    interpreted, ~10× slower than the batched matmul.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    planes = np.stack(
        [
            np.random.RandomState(0xC0FFEE + t).choice([-1.0, 1.0], size=(n_dims, n_planes))
            for t in range(n_tables)
        ]
    )  # (T, d, p)
    powers = (1 << np.arange(n_planes)).astype("int64")

    # hint-free (see cosine_pandas: __future__ annotations stringify hints)
    def _buckets(s):
        v = np.stack(s.to_numpy())  # (b, d)
        proj = np.einsum("bd,tdp->tbp", v, planes)  # (T, b, p)
        ids = ((proj > 0).astype("int64") @ powers).T.astype("int32")  # (b, T)
        return pd.Series([row.tolist() for row in ids])

    return pandas_udf(_buckets, "array<int>")


def _ivf_assign(vectors: DataFrame, centroids: DataFrame, nprobe: int, id_col: str) -> DataFrame:
    """Rank centroids per vector by cosine; keep the top ``nprobe``.

    Centroids broadcast (K ≈ √n rows), so assignment is a map-only
    n×K scoring pass — the standard IVF cost.

    nprobe=1 (the INDEX-BUILD side, every vector) avoids the window
    form: a row_number window must shuffle the n×K scored rows WITH
    their 64-double emb payloads (K× replicated), while a struct-max
    aggregation collapses map-side to one row per vector before the
    exchange — measured 1.7 s → 0.34 s on the sf0.1 build. Tie-break
    matches the window form (max ccos, then min cid) via lexicographic
    struct max with a bit-flipped cid (~cid is order-reversing and,
    unlike negation, cannot overflow on LONG_MIN hash ids). nprobe>1 is
    only ever the bounded query side (N_QUERIES rows) — the window
    shuffle there is trivially small.
    """
    scored = vectors.join(F.broadcast(centroids)).select(
        id_col, "emb", "cid", cosine(F.col("emb"), F.col("cemb")).alias("ccos")
    )
    if nprobe == 1:
        flipped = F.col("cid").bitwiseXOR(F.lit(-1))
        best = scored.groupBy(id_col).agg(
            F.max(F.struct(F.col("ccos").alias("ccos"), flipped.alias("fc"))).alias("m"),
            F.first("emb").alias("emb"),
        )
        return best.select(
            id_col, "emb", F.col("m.fc").bitwiseXOR(F.lit(-1)).alias("cid")
        )
    w = Window.partitionBy(id_col).orderBy(F.col("ccos").desc(), F.col("cid"))
    return (
        scored.withColumn("crnk", F.row_number().over(w))
        .where(F.col("crnk") <= nprobe)
        .drop("ccos", "crnk")
    )


@register("ann_ivf_flat", oracle=None, tags=("similarity",))
def ann_ivf_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-k via IVF-flat (inverted-file) partitioning.

    The other classic ANN scale path (complement of ``ann_srp_lsh``):

    1. K ≈ √n centroids picked by deterministic hash-order sampling
       (k-means refinement is an optional quality upgrade; sampling
       keeps the build one pass and fully reproducible).
    2. every vector joins its nearest centroid's inverted list
       (broadcast n×K scoring — the IVF build cost);
    3. a query scans only its ``nprobe`` nearest centroids' lists, so
       the per-query work is ~(nprobe/K)·n instead of n; at 100 TB the
       lists are hive-partitioned by centroid id and a query reads only
       its nprobe partitions.

    Candidates re-score exactly → precision 1; recall floor pinned in
    tests/test_similarity.py on uniform-random embeddings (worst case —
    clustered real embeddings place true neighbors in the same list far
    more often). Rows-only driver check (centroid choice is hash-based).
    """
    import math

    e = load(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("emb"))
    n = table_rowcount(sf_dir, "embeddings")  # footer metadata, no Spark job
    k_lists = max(4, int(math.isqrt(n)))
    nprobe = max(2, k_lists // 4)

    # Centroid pick = hash-order top-k: orderBy+limit compiles to
    # TakeOrderedAndProject (distributed partial top-k per partition, then a
    # k-row merge on the driver) — no global-window single-partition shuffle.
    # The hash doubles as the centroid id: deterministic, join-key-distinct
    # w.h.p., and a rare collision only merges two inverted lists (still a
    # valid approximate index).
    centroids = _ivf_centroids(e, k_lists)

    lists = _ivf_assign(e, centroids, nprobe=1, id_col="vec_id").select(
        "cid", F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("ne")
    )
    queries = _ivf_assign(
        e.where(F.col("vec_id") < N_QUERIES).withColumnRenamed("vec_id", "query_id"),
        centroids,
        nprobe=nprobe,
        id_col="query_id",
    ).select("cid", "query_id", F.col("emb").alias("qe"))

    cand = (
        F.broadcast(queries)
        .join(lists, "cid")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select("query_id", "neighbor_id", cosine(F.col("qe"), F.col("ne")).alias("cos"))
    return exact_topk(scored)


@register("ann_srp_lsh", oracle=None, headline=True, tags=("similarity",))
def ann_srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-k: multi-probe sign-random-projection LSH.

    Design for scale (and measured honestly at test scale):

    - plane count adapts to corpus size (log2(n / TARGET_BUCKET_SIZE)) so
      buckets stay ~TARGET_BUCKET_SIZE and the per-query candidate set is
      ~n_tables · (1 + n_planes) · TARGET_BUCKET_SIZE regardless of n —
      the knob that keeps 100 TB sublinear.
    - multi-probe: each query also probes the n_planes buckets at sign-
      hamming distance 1, recovering most neighbors that fell just across
      one hyperplane — the standard recall rescue that costs probes, not
      another full table.
    - candidates are exactly re-scored (true cosine), so precision is 1;
      recall vs brute force is asserted ≥0.6 in tests/test_similarity.py
      on uniform-random embeddings — the WORST case for any LSH (no
      cluster structure); trained embeddings sit far higher.

    Rows-only driver check (bucket membership depends on xxhash — not
    SQL-reproducible).
    """
    import math

    # NO spread() here, deliberately (r12): interleaved A/B at sf0.1
    # measured the spread arm 1.74 s vs 1.23 s without — this entry's
    # candidate volume is bounded by the 10-query probe fan-out, so the
    # single-split scan task is NOT the bottleneck (unlike
    # neardup_lsh_pairs), and the extra round-robin exchange plus
    # 32-way Arrow batches only add overhead.
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    )
    # footer-metadata count — no Spark job at plan-build time (see
    # embedding_neardup_lsh note)
    n = table_rowcount(sf_dir, "embeddings")
    n_dims = 64
    n_planes = max(4, int(math.ceil(math.log2(max(n / TARGET_BUCKET_SIZE, 2.0)))))

    # one scan: the UDF emits all N_TABLES bucket ids per row, posexplode
    # fans them out with the table index (vs N_TABLES scans + unions)
    banded = e.select(
        "vec_id",
        "emb",
        F.posexplode(srp_buckets_udf(n_dims, n_planes)(F.col("emb"))).alias(
            "table_id", "bucket"
        ),
    )

    # query side probes its own bucket + every 1-bit flip of it
    probes = F.array(F.col("bucket"), *[
        F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)
    ])
    q = (
        banded.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qe"),
            "table_id",
            F.explode(probes).alias("bucket"),
        )
    )
    cand = (
        F.broadcast(q)
        .join(banded.withColumnRenamed("vec_id", "neighbor_id"), ["table_id", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "qe", "emb")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select("query_id", "neighbor_id", cosine(F.col("qe"), F.col("emb")).alias("cos"))
    return exact_topk(scored)


# ---------------------------------------------------------------------------
# Grouped vector aggregation — per-label centroid.
# ---------------------------------------------------------------------------

_CENTROID_ORACLE = """
WITH ex AS (
  SELECT label,
         unnest(range(len(embedding))) AS dim,
         unnest(embedding) AS v
  FROM embeddings
)
SELECT label, dim,
       (cast(sum(cast(floor(cast(v AS DOUBLE) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
         / count(*)) / 1e9 AS centroid_v
FROM ex GROUP BY label, dim
"""


@register("embedding_centroid_by_label", oracle=_CENTROID_ORACLE, tags=("similarity", "agg", "vector"))
def embedding_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (the training-pipeline "class centroid" agg).

    Long-format output (label, dim, centroid_v): vectors explode with
    posexplode and aggregate per (label, dim) — a plain hash aggregate
    with map-side partials, so the shuffle carries one partial sum per
    (label, dim) per task, NOT the exploded rows. That is the scalable
    shape for vector means (reduce-side arrays would concentrate whole
    labels on single reducers; driver-side numpy wouldn't distribute).

    Elements quantize to nanos as ``floor(v·1e9 + 0.5)`` BIGINTs before
    summing, so the sum is exact integer arithmetic — order-independent
    and engine-identical. The quantization itself is two IEEE double
    ops (multiply, add) plus floor on identical inputs, so both engines
    produce the same integer for every element. This replaced a
    decimal(18,9) sum: engines disagree on double→decimal rounding for
    the (rare but real) floats whose exact decimal expansion terminates
    in a 5 at the boundary digit — Spark rounds HALF_UP, DuckDB's cast
    half-even — which flipped one cell in 640 at sf0.1. Magnitudes:
    |v|≲1 ⇒ per-group sums ≲ n·1e9 ≪ 2^53, exact at any realistic SF.
    IVF assignment (ann_ivf_flat) reuses this shape for its centroid
    refresh.
    """
    ex = load(spark, sf_dir, "embeddings").select(
        "label", F.posexplode("embedding").alias("dim", "v")
    )
    nanos = F.floor(F.col("v").cast("double") * 1e9 + 0.5).cast("bigint")
    return (
        ex.groupBy("label", "dim")
        .agg(
            ((F.sum(nanos).cast("double") / F.count(F.lit(1))) / 1e9).alias("centroid_v")
        )
    )


# ---------------------------------------------------------------------------
# int8 quantization — the vector-compression step before ANN serving.
# ---------------------------------------------------------------------------

_QUANT_ORACLE = """
WITH dims AS (
  SELECT unnest(generate_series(1, (SELECT max(len(embedding)) FROM embeddings))) AS dim
), ex AS (
  SELECT e.vec_id, d.dim, cast(e.embedding[d.dim] AS DOUBLE) AS x
  FROM embeddings e CROSS JOIN dims d
), stats AS (
  SELECT dim, min(x) AS dmin, max(x) AS dmax FROM ex GROUP BY dim
), q AS (
  SELECT ex.dim, stats.dmin, stats.dmax, ex.x,
         round((ex.x - stats.dmin) / (stats.dmax - stats.dmin) * 255) AS code
  FROM ex JOIN stats USING (dim)
)
SELECT cast(dim AS INTEGER) AS dim,
       round(dmin, 4) AS dmin,
       round(dmax, 4) AS dmax,
       round(cast(sum(cast(abs(x - (code / 255 * (dmax - dmin) + dmin)) AS DECIMAL(18,12)))
                  AS DOUBLE) / count(*), 6) AS mean_abs_err
FROM q
GROUP BY dim, dmin, dmax
"""


@register("embedding_quantize_stats", oracle=_QUANT_ORACLE, tags=("similarity", "vector", "compression"))
def embedding_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8 (asymmetric min/max) quantization profile:
    scale bounds + mean absolute reconstruction error — the 4×
    compression every ANN serving tier applies before distance
    computation, here as the calibration pass that decides whether 8
    bits suffice per dimension.

    Plan: posexplode to (vec_id, dim, x) — the fan-out is d× but the
    rows are 20 bytes; per-dim min/max is one 64-row aggregate that
    broadcasts back; codes and errors never materialize outside the
    final per-dim rollup. Reconstruction-error sums run in
    DECIMAL(18,12) so engine summation order can't move the rounded
    output. At 100 TB, calibrate on a deterministic hash sample instead
    of the full corpus — the plan is unchanged upstream of the scan
    filter.
    """
    e = load(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("emb"))
    ex = e.select("vec_id", F.posexplode("emb").alias("dim0", "x")).select(
        (F.col("dim0") + 1).alias("dim"), "x"
    )
    stats = ex.groupBy("dim").agg(F.min("x").alias("dmin"), F.max("x").alias("dmax"))
    q = ex.join(F.broadcast(stats), "dim").withColumn(
        "code", F.round((F.col("x") - F.col("dmin")) / (F.col("dmax") - F.col("dmin")) * 255)
    )
    err = F.abs(F.col("x") - (F.col("code") / 255 * (F.col("dmax") - F.col("dmin")) + F.col("dmin")))
    return q.groupBy(
        F.col("dim").cast("int").alias("dim"),
        F.round("dmin", 4).alias("dmin"),
        F.round("dmax", 4).alias("dmax"),
    ).agg(
        F.round(
            F.sum(err.cast("decimal(18,12)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_abs_err")
    )


# ---------------------------------------------------------------------------
# Label prototypes — nearest-to-centroid exemplars per label.
# ---------------------------------------------------------------------------

_PROTO_ORACLE = """
WITH dims AS (
  SELECT unnest(generate_series(1, (SELECT max(len(embedding)) FROM embeddings))) AS dim
), ex AS (
  SELECT e.vec_id, e.label, d.dim, cast(e.embedding[d.dim] AS DOUBLE) AS x
  FROM embeddings e CROSS JOIN dims d
), cent AS (
  SELECT label, dim, sum(x) AS cx FROM ex GROUP BY label, dim
), cvecs AS (
  SELECT label, list(cx ORDER BY dim) AS cvec FROM cent GROUP BY label
), scored AS (
  SELECT e.vec_id, e.label,
         list_cosine_similarity(cast(e.embedding AS DOUBLE[]), c.cvec) AS cos,
         row_number() OVER (
           PARTITION BY e.label
           ORDER BY list_cosine_similarity(cast(e.embedding AS DOUBLE[]), c.cvec) DESC,
                    e.vec_id) AS rnk
  FROM embeddings e JOIN cvecs c USING (label)
)
SELECT label, vec_id, cast(rnk AS INTEGER) AS rnk, round(cos, 4) AS cosine_to_centroid
FROM scored WHERE rnk <= 3
"""


@register("embedding_label_prototypes", oracle=_PROTO_ORACLE, tags=("similarity", "vector", "distillation"))
def embedding_label_prototypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label prototype exemplars: the 3 vectors nearest their
    label's centroid — the coreset/dataset-distillation primitive
    (represent each class by its most central members) and the
    quality check on labels themselves (a prototype with low centroid
    cosine flags a diffuse or mislabeled class).

    Plan: one posexplode pass → (label, dim) sums (map-side combined,
    |labels|·d rows out) → per-label centroid arrays (built by sorted
    dim so both engines assemble the identical vector) → broadcast back
    → cosine + per-label top-3 window. Cosine is scale-invariant, so
    the centroid skips the 1/n normalization entirely — fewer float ops
    for the oracle to drift on.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double("embedding").alias("emb")
    )
    probe = e.select("emb").first()
    if probe is None:  # empty corpus: no labels, defined empty result
        return e.limit(0).select(
            "label",
            "vec_id",
            F.lit(1).alias("rnk"),
            F.lit(0.0).alias("cosine_to_centroid"),
        )
    n_dims = len(probe["emb"])
    cvecs = e.groupBy("label").agg(
        F.array(*[F.sum(F.col("emb")[i]) for i in range(n_dims)]).alias("cvec")
    )
    scored = e.join(F.broadcast(cvecs), "label").select(
        "label", "vec_id", cosine(F.col("emb"), F.col("cvec")).alias("cos")
    )
    w = Window.partitionBy("label").orderBy(F.col("cos").desc(), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("label", "vec_id", "rnk", F.round("cos", 4).alias("cosine_to_centroid"))
    )


# ---------------------------------------------------------------------------
# Embedding QA — norm distribution + outlier accounting per label.
# ---------------------------------------------------------------------------

_NORM_STATS_ORACLE = """
WITH dims AS (
  SELECT unnest(generate_series(1, (SELECT max(len(embedding)) FROM embeddings))) AS dim
), ex AS (
  SELECT e.vec_id, e.label, cast(e.embedding[d.dim] AS DOUBLE) AS x
  FROM embeddings e CROSS JOIN dims d
), norms AS (
  SELECT vec_id, any_value(label) AS label,
         sqrt(cast(sum(cast(x * x AS DECIMAL(18,10))) AS DOUBLE)) AS nrm
  FROM ex GROUP BY vec_id
), stats AS (
  SELECT label, count(*) AS n_vecs,
         cast(sum(cast(nrm AS DECIMAL(18,10))) AS DOUBLE) AS s1,
         cast(sum(cast(nrm * nrm AS DECIMAL(18,10))) AS DOUBLE) AS s2
  FROM norms GROUP BY label
)
SELECT s.label, s.n_vecs,
       round(s.s1 / s.n_vecs, 4) AS mean_norm,
       round(CASE WHEN s.n_vecs > 1
                  THEN sqrt((s.s2 - s.s1 * s.s1 / s.n_vecs) / (s.n_vecs - 1)) END,
             4) AS std_norm,
       count(*) FILTER (
         WHERE s.n_vecs > 1
           AND n.nrm > s.s1 / s.n_vecs
                       + 2 * sqrt((s.s2 - s.s1 * s.s1 / s.n_vecs) / (s.n_vecs - 1))
       ) AS n_outliers_2sigma
FROM stats s JOIN norms n USING (label)
GROUP BY s.label, s.n_vecs, s.s1, s.s2
"""


@register("embedding_norm_stats", oracle=_NORM_STATS_ORACLE, tags=("similarity", "vector", "quality"))
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QA per label: vector-norm mean/std and the count of
    >2σ norm outliers — the standard first-pass screen for a broken
    encoder batch (zero/exploding norms) or mislabeled shards before
    any similarity work trusts the vectors.

    Determinism recipe (same as ``embedding_quantize_stats``): every
    cross-row float sum runs in DECIMAL so engine summation order can't
    move a digit; each vector's norm is an exact decimal Σx² (posexplode
    + group, not a fold over the array — fold order inside list_sum is
    engine-private); mean/std derive from (Σ, Σ², n) by identical double
    arithmetic on identical operands. The outlier cutoff therefore
    compares bit-identical doubles on both engines. One explode pass,
    two small aggregates, one broadcast join — nothing wider than
    |labels| rows after the first shuffle.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double("embedding").alias("emb")
    )
    ex = e.select("vec_id", "label", F.explode("emb").alias("x"))
    norms = ex.groupBy("vec_id").agg(
        F.first("label").alias("label"),
        F.sqrt(F.sum((F.col("x") * F.col("x")).cast("decimal(18,10)")).cast("double")).alias(
            "nrm"
        ),
    )
    stats = norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("nrm").cast("decimal(18,10)")).cast("double").alias("s1"),
        F.sum((F.col("nrm") * F.col("nrm")).cast("decimal(18,10)")).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n_vecs")
    # single-vector labels: sample variance is undefined (n-1 = 0) →
    # NULL std and zero outliers instead of a DIVIDE_BY_ZERO job abort
    var = F.when(
        F.col("n_vecs") > 1,
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_vecs")) / (F.col("n_vecs") - 1),
    )
    joined = norms.join(F.broadcast(stats), "label")
    return joined.groupBy("label", "n_vecs", "s1", "s2").agg(
        F.count(F.when(F.col("nrm") > mean + 2 * F.sqrt(var), 1)).alias("n_outliers_2sigma")
    ).select(
        "label",
        "n_vecs",
        F.round(mean, 4).alias("mean_norm"),
        F.round(F.sqrt(var), 4).alias("std_norm"),
        "n_outliers_2sigma",
    )


# ---------------------------------------------------------------------------
# Product quantization ADC — the memory-bound ANN rung.
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces (64 dims → 8 per subspace)
PQ_KS = 16  # codes per subspace → 4 bits; a vector compresses to M·log2(KS) = 32 bits
PQ_SAMPLE = 1024  # deterministic hash-sample size for codebook training
# ADC candidates per query that get exact re-ranking: 5% of the corpus,
# floored at 32. The refine FRACTION (not the codebook size) is the recall
# knob on uniform-random data — measured: 32 codes/subspace gave the exact
# same recall as 16 at sf0.1, while refine 32→100 moved it 0.40→0.58.
PQ_REFINE_MIN = 32
PQ_REFINE_FRAC = 20  # refine = max(PQ_REFINE_MIN, n // PQ_REFINE_FRAC)


def _pq_train(sample: "np.ndarray", m: int = PQ_M, ks: int = PQ_KS, iters: int = 10):
    """Train per-subspace codebooks with plain numpy Lloyd rounds.

    Deterministic: init = first ks sample rows per subspace (the sample
    itself is hash-ordered), no RNG anywhere. Returns (m, ks, d/m)."""
    import numpy as np

    n, d = sample.shape
    sub = d // m
    books = np.empty((m, ks, sub))
    for j in range(m):
        x = sample[:, j * sub : (j + 1) * sub]
        c = x[:ks].copy()
        for _ in range(iters):
            d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            a = np.argmin(d2, axis=1)
            for ci in range(ks):
                members = x[a == ci]
                if len(members):
                    c[ci] = members.mean(axis=0)
        books[j] = c
    return books


def _empty_topk(e: DataFrame) -> DataFrame:
    """Empty (query_id, neighbor_id, rnk, cosine_sim) frame with the ANN
    result schema — the defined answer on an empty embeddings table
    (driver-side codebook/query collects have nothing to train on)."""
    return e.limit(0).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.lit(1).alias("rnk"),
        F.lit(0.0).alias("cosine_sim"),
    )


def refine_adc(e: DataFrame, cand: DataFrame, refine: int) -> DataFrame:
    """The PQ paths' exact re-rank: keep each query's top-``refine``
    (query_id, neighbor_id, adc) candidates, re-score that shortlist with
    the true cosine over ``e``'s (vec_id, emb) rows and take the exact
    top-k. Returned similarities are exact; only recall is approximate."""
    wa = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), F.col("neighbor_id"))
    short = (
        cand.withColumn("rnk", F.row_number().over(wa))
        .where(F.col("rnk") <= refine)
        .select("query_id", "neighbor_id")
    )
    qe = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    ne = e.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("ne"))
    scored = short.join(F.broadcast(qe), "query_id").join(ne, "neighbor_id").select(
        "query_id", "neighbor_id", cosine(F.col("qe"), F.col("ne")).alias("cos")
    )
    return exact_topk(scored)


@register("ann_pq_adc", oracle=None, tags=("similarity", "vector", "compression"))
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-k via product quantization + asymmetric
    distance computation (ADC) — the memory-bound ANN rung the ladder
    was missing: SRP-LSH and IVF cut *candidates*, PQ cuts *bytes*. Each
    unit vector compresses 512 bytes → 4 (8 subspaces × 4-bit codes), so
    a 100 TB embedding corpus's index fits ~0.8% of its raw size and
    scans stay in memory; queries score against codes via per-subspace
    lookup tables (one numpy gather per batch), never touching raw
    vectors until the refine step.

    Shape: codebooks train driver-side on a deterministic hash-ordered
    sample (bounded at PQ_SAMPLE·d doubles — the calibrate-on-a-sample
    posture of embedding_quantize_stats) and ride the closure; encoding
    + ADC scoring is ONE Arrow pass over the corpus emitting (query,
    neighbor, adc) rows; per-query top-`refine` (5% of n, floor 32) candidates re-rank with
    exact cosine, so returned similarities are true values and only
    recall is approximate (floor pinned vs the brute-force twin in
    tests/test_similarity.py; uniform-random is PQ's worst case).
    Rows-only driver check (codebooks aren't SQL-reproducible).
    """
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("emb"))
    refine = max(PQ_REFINE_MIN, table_rowcount(sf_dir, "embeddings") // PQ_REFINE_FRAC)

    sample_rows = (
        e.select(F.xxhash64("vec_id").alias("h"), "emb").orderBy("h").limit(PQ_SAMPLE).collect()
    )
    if not sample_rows:  # empty corpus: nothing to train codebooks on
        return _empty_topk(e)
    sample = np.stack([np.array(r["emb"], dtype=np.float64) for r in sample_rows])
    sample /= np.linalg.norm(sample, axis=1, keepdims=True)
    books = _pq_train(sample)
    return _pq_adc_with_books(spark, e, books, refine)


def _pq_adc_with_books(spark: SparkSession, e: DataFrame, books, refine: int) -> DataFrame:
    """The PQ query path under GIVEN codebooks — shared by the inline
    entry above (fresh train) and the persisted-index query below, so
    both answer identically for the same books."""
    import numpy as np
    import pandas as pd

    q_rows = e.where(F.col("vec_id") < N_QUERIES).collect()
    if not q_rows:  # no query vectors: defined empty result
        return _empty_topk(e)
    q_ids = np.array([r["vec_id"] for r in q_rows])
    q = np.stack([np.array(r["emb"], dtype=np.float64) for r in q_rows])
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    sub = q.shape[1] // PQ_M
    # lookup tables: T[query, subspace, code] = <q_sub, codeword>
    tables = np.einsum(
        "qjs,jks->qjk", q.reshape(len(q), PQ_M, sub), books
    )

    def adc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf["emb"].to_numpy())
            v = v / np.linalg.norm(v, axis=1, keepdims=True)
            parts = v.reshape(len(v), PQ_M, sub)
            # encode: nearest codeword per subspace (L2 on unit-vector parts)
            codes = np.empty((len(v), PQ_M), dtype=np.int64)
            for j in range(PQ_M):
                d2 = ((parts[:, j, None, :] - books[None, j]) ** 2).sum(axis=2)
                codes[:, j] = np.argmin(d2, axis=1)
            # ADC: approx cosine = sum of per-subspace table lookups
            scores = np.zeros((len(q_ids), len(v)))
            for j in range(PQ_M):
                scores += tables[:, j, codes[:, j]]
            nid = pdf["vec_id"].to_numpy()
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, len(v)),
                    "neighbor_id": np.tile(nid, len(q_ids)),
                    "adc": scores.reshape(-1),
                }
            )
            yield out[out["query_id"] != out["neighbor_id"]]

    cand = e.mapInPandas(adc, schema="query_id long, neighbor_id long, adc double")
    return refine_adc(e, cand, refine)


# ---------------------------------------------------------------------------
# IVF-PQ — coarse inverted lists + residual product quantization.
# ---------------------------------------------------------------------------


@register("ann_ivf_pq", oracle=None, tags=("similarity", "vector", "compression"))
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-k via IVF-PQ — the composed top rung of the
    ANN ladder (Jégou et al.'s IVFADC): the IVF coarse quantizer cuts
    CANDIDATES (a query touches only its ``nprobe`` lists) and product-
    quantized RESIDUALS cut BYTES (32-bit codes instead of raw vectors),
    which is how billion-vector indexes actually deploy — neither trick
    alone suffices at 100 TB.

    Decomposition: v ≈ c(v) + r, so q·v ≈ q·c (exact — K centroids,
    computed once per query) + q·r (ADC over per-subspace lookup
    tables). Residuals, not raw vectors, feed the codebooks: their
    spread around the centroid is what PQ must represent, and encoding
    residuals roughly halves the quantization error at the same code
    budget. Everything data-sized stays distributed: ONE Arrow pass
    assigns each vector to its nearest centroid, encodes its residual,
    and emits ADC scores only for (query, vector) pairs whose list is
    probed — the per-batch score matrix is |Q|·|batch| masked down to
    the probe hits. Driver state is bounded: K = √n centroids and the
    PQ_SAMPLE-row training sample (same posture as ann_pq_adc), both
    deterministic hash-order picks, no RNG.

    Exact-refine tail as everywhere in the ladder: per-query top-refine
    ADC candidates re-rank with true cosine, so precision of returned
    similarities is exact and only recall is approximate. Rows-only
    driver check (centroids + codebooks aren't SQL-reproducible);
    recall floor vs the brute-force twin pinned in
    tests/test_similarity.py at the fixture SF and sf0.1.
    """
    import math

    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("emb"))
    n = table_rowcount(sf_dir, "embeddings")
    k_lists = max(4, int(math.isqrt(n)))
    nprobe = max(2, k_lists // 4)
    refine = max(PQ_REFINE_MIN, n // PQ_REFINE_FRAC)

    cent_rows = (
        e.select(F.xxhash64("vec_id").alias("h"), "emb").orderBy("h").limit(k_lists).collect()
    )
    if not cent_rows:  # empty corpus: no lists to build
        return _empty_topk(e)
    cents = np.stack([np.array(r["emb"], dtype=np.float64) for r in cent_rows])
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)

    sample_rows = (
        e.select(F.xxhash64("vec_id").alias("h"), "emb").orderBy("h").limit(PQ_SAMPLE).collect()
    )
    sample = np.stack([np.array(r["emb"], dtype=np.float64) for r in sample_rows])
    sample /= np.linalg.norm(sample, axis=1, keepdims=True)
    resid_sample = sample - cents[np.argmax(sample @ cents.T, axis=1)]
    books = _pq_train(resid_sample)

    q_rows = e.where(F.col("vec_id") < N_QUERIES).collect()
    if not q_rows:  # no query vectors: defined empty result
        return _empty_topk(e)
    q_ids = np.array([r["vec_id"] for r in q_rows])
    q = np.stack([np.array(r["emb"], dtype=np.float64) for r in q_rows])
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    qc = q @ cents.T  # exact q·c term, |Q| × K
    # probe set per query: nprobe nearest centroids by the same metric
    probes = np.argsort(-qc, axis=1)[:, :nprobe]
    probe_mask = np.zeros((len(q_ids), k_lists), dtype=bool)
    for qi in range(len(q_ids)):
        probe_mask[qi, probes[qi]] = True
    sub = q.shape[1] // PQ_M
    tables = np.einsum("qjs,jks->qjk", q.reshape(len(q), PQ_M, sub), books)

    def ivfadc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf["emb"].to_numpy())
            v = v / np.linalg.norm(v, axis=1, keepdims=True)
            assign = np.argmax(v @ cents.T, axis=1)
            resid = (v - cents[assign]).reshape(len(v), PQ_M, sub)
            codes = np.empty((len(v), PQ_M), dtype=np.int64)
            for j in range(PQ_M):
                d2 = ((resid[:, j, None, :] - books[None, j]) ** 2).sum(axis=2)
                codes[:, j] = np.argmin(d2, axis=1)
            # ADC: q·v ≈ q·c(v) + Σ_j T[q, j, code_j(v)]
            scores = qc[:, assign].copy()
            for j in range(PQ_M):
                scores += tables[:, j, codes[:, j]]
            hit = probe_mask[:, assign]  # |Q| × |batch|: v's list probed by q?
            qi, vi = np.nonzero(hit)
            nid = pdf["vec_id"].to_numpy()
            out = pd.DataFrame(
                {
                    "query_id": q_ids[qi],
                    "neighbor_id": nid[vi],
                    "adc": scores[qi, vi],
                }
            )
            yield out[out["query_id"] != out["neighbor_id"]]

    cand = e.mapInPandas(ivfadc, schema="query_id long, neighbor_id long, adc double")
    return refine_adc(e, cand, refine)


def _distributed_moments(e: DataFrame) -> tuple[int, "np.ndarray", "np.ndarray"]:
    """One-pass distributed (n, mean, covariance) over an `emb` column:
    each Arrow batch emits (n, Σx, ΣxxT) partials — d + d² doubles per
    TASK — summed driver-side. The only collect is O(tasks) partial
    rows; the corpus is read exactly once, map-only."""
    import numpy as np
    import pandas as pd

    def moments(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["emb"].to_numpy())
            yield pd.DataFrame(
                {
                    "n": [len(x)],
                    "s": [x.sum(axis=0).tolist()],
                    "ss": [(x.T @ x).reshape(-1).tolist()],
                }
            )

    parts = e.mapInPandas(
        moments, schema="n long, s array<double>, ss array<double>"
    ).collect()
    if not parts:  # empty corpus: zero-dim moments, callers emit empty
        return 0, np.zeros(0), np.zeros((0, 0))
    n = sum(r["n"] for r in parts)
    d = len(parts[0]["s"])
    s = np.zeros(d)
    ss = np.zeros((d, d))
    for r in parts:
        s += np.array(r["s"])
        ss += np.array(r["ss"]).reshape(d, d)
    mu = s / n
    cov = ss / n - np.outer(mu, mu)
    return n, mu, cov


# ---------------------------------------------------------------------------
# PCA variance spectrum — intrinsic dimensionality / whitening calibration.
# ---------------------------------------------------------------------------


@register("embedding_pca_variance", oracle=None, tags=("similarity", "vector", "stats"))
def embedding_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvalue spectrum of the embedding covariance — the intrinsic-
    dimensionality diagnostic behind every "can we truncate/whiten these
    vectors?" decision (PQ subspace sizing, dimension-drop before ANN,
    anisotropy checks on trained encoders: a spectrum dominated by a few
    components means cosine is being driven by a rogue direction).

    Distributed as MOMENTS, the one-pass classic: each Arrow batch emits
    (n, Σx, ΣxxT) partials — a d + d² payload per TASK, not per row —
    which sum on the driver into C = E[xxT] − μμT; ``numpy.linalg.eigh``
    on the d×d matrix is microseconds. Nothing data-sized is ever
    collected (the partial count is O(tasks)); the full corpus is read
    exactly once, map-only. Per-component output: eigenvalue, variance
    share, cumulative share, descending.

    Rows-only driver check (eigendecomposition isn't SQL); equality
    against a single-machine numpy PCA on the same vectors is pinned in
    tests/test_similarity.py.
    """
    import numpy as np

    e = load(spark, sf_dir, "embeddings").select(as_double("embedding").alias("emb"))
    n, mu, cov = _distributed_moments(e)
    evals = np.linalg.eigvalsh(cov)[::-1]  # descending
    total = float(evals.sum())
    cum = np.cumsum(evals) / total
    rows = [
        (i + 1, round(float(evals[i]), 6), round(float(evals[i] / total), 4),
         round(float(cum[i]), 4))
        for i in range(len(evals))
    ]
    return local_frame(
        spark, rows, "component int, eigenvalue double, variance_share double, cumulative_share double"
    )


WHITEN_K = 16  # retained components for the whitening check


def whiten_embeddings(spark: SparkSession, sf_dir: str, k: int = WHITEN_K) -> DataFrame:
    """Two-pass distributed PCA whitening: pass 1 computes (μ, Σ) via
    ``_distributed_moments``; the driver eigendecomposes the d×d
    covariance and builds W = V_k · diag(1/√λ_k); pass 2 projects every
    vector (x − μ)·W in one Arrow map — no shuffle in either pass, and
    the basis rides the closure (d·k doubles). Output: (vec_id, array of
    k whitened coordinates). The standard pre-step before cosine ANN on
    anisotropic trained embeddings — whitening undoes the rogue-
    direction dominance the PCA spectrum diagnoses.
    """
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("emb"))
    _, mu, cov = _distributed_moments(e.select("emb"))
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:k]
    lam = np.maximum(evals[order], 1e-12)
    w = evecs[:, order] / np.sqrt(lam)

    def project(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["emb"].to_numpy())
            z = (x - mu) @ w
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "white": list(map(list, z))})

    return e.mapInPandas(project, schema="vec_id long, white array<double>")


@register("embedding_whiten_check", oracle=None, tags=("similarity", "vector", "stats"))
def embedding_whiten_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end whitening QA: run ``whiten_embeddings`` and re-measure
    the whitened coordinates' moments DISTRIBUTED (same one-pass
    machinery) — per retained component, the post-whitening mean must
    be ~0 and variance ~1, and that is exactly what this entry emits for
    the driver's rows-only check (pytest pins the ≈0/≈1 bands plus
    off-diagonal decorrelation). Exercises the full two-pass pipeline:
    moments → driver basis → Arrow projection → moments again.
    """
    import numpy as np

    white = whiten_embeddings(spark, sf_dir).select(F.col("white").alias("emb"))
    n, mu, cov = _distributed_moments(white)
    rows = [
        (i + 1, round(float(mu[i]), 6), round(float(cov[i, i]), 6))
        for i in range(len(mu))
    ]
    return local_frame(spark, rows, "component int, mean_after double, var_after double")


# ---------------------------------------------------------------------------
# Triplet mining — (anchor, positive, hard negative) for contrastive training.
# ---------------------------------------------------------------------------

TRIPLET_ANCHORS = 50  # vec_id < 50 form the demo anchor set

_TRIPLET_ORACLE = f"""
WITH e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS emb, label FROM embeddings),
a AS (SELECT * FROM e WHERE vec_id < {TRIPLET_ANCHORS}),
scored AS (
  SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
         c.vec_id AS cand_id, c.label AS cand_label,
         list_cosine_similarity(a.emb, c.emb) AS cos
  FROM a JOIN e c ON c.vec_id <> a.vec_id
), pos AS (
  SELECT anchor_id, cand_id AS pos_id, round(cos, 4) AS pos_sim,
         row_number() OVER (PARTITION BY anchor_id ORDER BY cos DESC, cand_id) AS rn
  FROM scored WHERE cand_label = anchor_label
), neg AS (
  SELECT anchor_id, cand_id AS neg_id, round(cos, 4) AS neg_sim,
         row_number() OVER (PARTITION BY anchor_id ORDER BY cos DESC, cand_id) AS rn
  FROM scored WHERE cand_label <> anchor_label
)
SELECT p.anchor_id, p.pos_id, p.pos_sim, n.neg_id, n.neg_sim,
       round(p.pos_sim - n.neg_sim, 4) AS margin
FROM pos p JOIN neg n USING (anchor_id)
WHERE p.rn = 1 AND n.rn = 1
"""


def _best_pos_neg(scored: DataFrame) -> DataFrame:
    """Per-anchor (pos_id, pos_sim, neg_id, neg_sim, margin) from a
    scored-candidates frame (anchor_id, anchor_label, cand_id,
    cand_label, cos) — the ONE definition of triplet scoring, shared by
    the exact tier and the ANN rung so a tie-break or rounding change
    can never desynchronize them (their agreement pins assume identical
    scoring).

    Best positive and best negative come from ONE pass over the scored
    candidates (conditional struct-max, the _ivf_assign fast-path
    idiom): separate pos/neg window branches each re-ran the whole
    candidate-scoring subtree. Tie-break: max cos, then min cand_id via
    the overflow-safe bit-flip; anchors missing either side drop out
    exactly as a pos⋈neg inner join would.
    """
    same = F.col("cand_label") == F.col("anchor_label")
    flip = F.col("cand_id").bitwiseXOR(F.lit(-1))
    cand_struct = F.struct(F.col("cos").alias("cos"), flip.alias("fc"))
    best = scored.groupBy("anchor_id").agg(
        F.max(F.when(same, cand_struct)).alias("p"),
        F.max(F.when(~same, cand_struct)).alias("ng"),
    )
    pos_sim = F.round(F.col("p.cos"), 4)
    neg_sim = F.round(F.col("ng.cos"), 4)
    return (
        best.where(F.col("p").isNotNull() & F.col("ng").isNotNull())
        .select(
            "anchor_id",
            F.col("p.fc").bitwiseXOR(F.lit(-1)).alias("pos_id"),
            pos_sim.alias("pos_sim"),
            F.col("ng.fc").bitwiseXOR(F.lit(-1)).alias("neg_id"),
            neg_sim.alias("neg_sim"),
            F.round(pos_sim - neg_sim, 4).alias("margin"),
        )
    )


@register("embedding_triplet_mine", oracle=_TRIPLET_ORACLE, tags=("similarity", "vector", "training"))
def embedding_triplet_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-triplet mining for contrastive training: per anchor, the
    most-similar SAME-label vector (positive) and the most-similar
    DIFFERENT-label vector (the hard negative — the one the model
    currently confuses), with the margin between them. Margins near or
    below zero are the batch-building signal: those anchors' classes
    overlap in embedding space and earn a larger share of the training
    mix.

    Exact demo tier over the broadcast anchor set (one map-only scoring
    pass + two per-anchor top-1 windows on the same partitioning). At
    corpus scale the anchor set is the whole table and this exact form
    is O(n²) — the implemented scale rung is
    ``embedding_triplet_mine_ann`` below (same output contract, IVF
    shortlist + exact re-score, agreement pinned vs this tier), the
    standard FAISS-backed pipeline.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb"), "label"
    )
    a = e.where(F.col("vec_id") < TRIPLET_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("emb").alias("ae"),
        F.col("label").alias("anchor_label"),
    )
    scored = (
        F.broadcast(a)
        .join(e, F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("cand_id"),
            F.col("label").alias("cand_label"),
            cosine(F.col("ae"), F.col("emb")).alias("cos"),
        )
    )
    return _best_pos_neg(scored)


# ---------------------------------------------------------------------------
# MMR diverse selection — relevance vs redundancy on a bounded pool.
# ---------------------------------------------------------------------------

MMR_POOL = 100
MMR_SELECT = 20
# Integer MMR scoring (the r7 promotion): relevances and similarities
# quantize to 1e-8 integers (qrel, qsim) and the greedy objective
# λ·rel − (1−λ)·maxsim becomes the INTEGER NUM·qrel − (DEN−NUM)·qmaxsim
# with λ = MMR_LAM_NUM/MMR_LAM_DEN exactly (7/10 — never the float
# 0.7/0.30000000000000004 pair), in 1e-9 units. Selection is then a
# pure function of engine-identical integers: no float near-tie can
# ever flip an argmax between engines, which matters here because the
# synthetic corpus contains near-duplicate vectors. EVERY weight below
# (oracle CTEs, greedy replay, output scale) derives from this single
# pair — nothing hardcodes 7/3/10 independently.
MMR_LAM_NUM = 7
MMR_LAM_DEN = 10
MMR_W_SIM = MMR_LAM_DEN - MMR_LAM_NUM
MMR_Q = 10**8


def _mmr_fold_dot(a: str, b: str) -> str:
    """DuckDB replay of ``dot``'s F.aggregate fold: same 0.0 seed (via
    list_prepend — list_reduce seeds with the FIRST element), same
    element order, same per-element float→double cast placement."""
    return (
        f"list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}), "
        f"s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))), (x, y) -> x + y)"
    )


def _mmr_cos(a: str, b: str) -> str:
    return (
        f"{_mmr_fold_dot(a, b)} / "
        f"(sqrt({_mmr_fold_dot(a, a)}) * sqrt({_mmr_fold_dot(b, b)}))"
    )


def _mmr_oracle() -> str:
    """Unrolled greedy MMR: one (sel, cum) CTE pair per selection round.

    Like the PageRank promotion, a FIXED-round greedy is a finite
    dataflow: the pool is the top-MMR_POOL by quantized relevance, the
    pairwise similarity table is pool², and each round's argmax is an
    ORDER BY qscore DESC, vec_id LIMIT 1 over the not-yet-selected pool
    with qmaxsim = max over the selected set.
    """
    rounds = []
    for t in range(2, MMR_SELECT + 1):
        rounds.append(
            f""", sel{t} AS MATERIALIZED (
  SELECT {t - 1} AS rank, c.vec_id, c.qrel, {MMR_LAM_NUM} * c.qrel - {MMR_W_SIM} * c.qms AS qscore
  FROM (
    SELECT p.vec_id, p.qrel, max(s.qsim) AS qms
    FROM pool p
    JOIN sims s ON s.a = p.vec_id AND s.b IN (SELECT vec_id FROM cum{t - 1})
    WHERE p.vec_id NOT IN (SELECT vec_id FROM cum{t - 1})
    GROUP BY p.vec_id, p.qrel
  ) c
  ORDER BY qscore DESC, c.vec_id LIMIT 1
), cum{t} AS MATERIALIZED (
  SELECT * FROM cum{t - 1} UNION ALL SELECT * FROM sel{t}
)"""
        )
    return (
        f"""
WITH q0 AS (
  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
), pool AS MATERIALIZED (
  SELECT e.vec_id,
         CAST(floor({_mmr_cos("e.embedding", "q0.qe")} * {MMR_Q} + 0.5) AS BIGINT) AS qrel
  FROM embeddings e CROSS JOIN q0
  WHERE e.vec_id <> 0
  ORDER BY qrel DESC, e.vec_id
  LIMIT {MMR_POOL}
), sims AS MATERIALIZED (
  SELECT p1.vec_id AS a, p2.vec_id AS b,
         CAST(floor({_mmr_cos("e1.embedding", "e2.embedding")} * {MMR_Q} + 0.5) AS BIGINT) AS qsim
  FROM pool p1 JOIN pool p2 ON p1.vec_id <> p2.vec_id
  JOIN embeddings e1 ON e1.vec_id = p1.vec_id
  JOIN embeddings e2 ON e2.vec_id = p2.vec_id
), sel1 AS MATERIALIZED (
  SELECT 0 AS rank, vec_id, qrel, {MMR_LAM_NUM} * qrel AS qscore
  FROM pool ORDER BY {MMR_LAM_NUM} * qrel DESC, vec_id LIMIT 1
), cum1 AS MATERIALIZED (
  SELECT * FROM sel1
)"""
        + "".join(rounds)
        + f"""
SELECT cast(rank AS INTEGER) AS rank, vec_id,
       qrel / {MMR_Q}.0 AS relevance,
       qscore / {MMR_Q * MMR_LAM_DEN}.0 AS mmr_score
FROM cum{MMR_SELECT}
ORDER BY rank
"""
    )


def mmr_greedy(pool: "list[tuple[int, int, list[float]]]", k: int):
    """Greedy Maximal Marginal Relevance (Carbonell & Goldstein 1998)
    over a (vec_id, qrel, vector) pool, in the INTEGER scoring of
    ``MMR_Q``: argmax MMR_LAM_NUM·qrel − MMR_W_SIM·qmaxsim, ties →
    lowest vec_id (the
    SIGNED max-sim-to-selected starts undefined, not at 0 — flooring it
    at zero would erase the diversity bonus for anti-correlated
    candidates). Pure-Python, driver-side — the pool is BOUNDED
    (top-MMR_POOL by relevance), so this is |pool|² sequential-fold dot
    products on tiny state, the same bounded-collect contract as the PQ
    codebook sample. The folds deliberately avoid numpy: a SIMD/pairwise
    sum would diverge from the oracle's list_reduce at the last ulp,
    and the 1e-8 quantization must see the identical double."""
    import math

    if not pool:  # empty corpus: nothing to select
        return []
    ids = [p[0] for p in pool]
    qrel = [p[1] for p in pool]
    V = [p[2] for p in pool]

    def fdot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    norm = [math.sqrt(fdot(v, v)) for v in V]
    n = len(pool)
    qsim = [
        [
            math.floor(fdot(V[i], V[j]) / (norm[i] * norm[j]) * MMR_Q + 0.5)
            if i != j
            else 0
            for j in range(n)
        ]
        for i in range(n)
    ]
    out = []
    cand = set(range(n))
    qms = None
    for t in range(min(k, n)):
        score = {
            i: MMR_LAM_NUM * qrel[i] - (MMR_W_SIM * qms[i] if qms is not None else 0)
            for i in cand
        }
        best = min(cand, key=lambda i: (-score[i], ids[i]))
        out.append((ids[best], qrel[best], score[best]))
        cand.remove(best)
        if qms is None:
            qms = [qsim[i][best] for i in range(n)]
        else:
            qms = [max(qms[i], qsim[i][best]) for i in range(n)]
    return out


@register(
    "embedding_mmr_select",
    oracle=_mmr_oracle(),
    tags=("similarity", "retrieval", "sampling"),
)
def embedding_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware selection: pick MMR_SELECT vectors that are
    RELEVANT to the seed (vec 0 cosine) but not redundant with each
    other — the dedup-aware retrieval/demo-set builder (MMR). Two
    tiers: the distributed part scores the whole corpus and TakeOrders
    the top-MMR_POOL pool (map-only + one bounded cut); the greedy
    argmax chain is inherently sequential, so it runs driver-side over
    the collected 100-row pool — bounded state, never data-sized (the
    PQ-codebook contract).

    FULLY oracle-checked despite the greedy recursion (the r7
    promotion, same move as graph_part_pagerank): relevances and
    pairwise sims quantize to 1e-8 integers off engine-identical
    sequential-fold cosines, the greedy objective is the integer
    MMR_LAM_NUM·qrel − MMR_W_SIM·qmaxsim (λ = MMR_LAM_NUM/MMR_LAM_DEN
    exactly), and the oracle unrolls the MMR_SELECT rounds as
    a CTE chain (``_mmr_oracle``). Selection parity vs an independent
    float reference and the diversity invariant stay pinned in
    tests/test_similarity.py.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    )
    q0 = e.where(F.col("vec_id") == 0).select(F.col("emb").alias("qe"))
    pool_df = (
        e.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q0))
        .select(
            "vec_id",
            F.floor(cosine(F.col("emb"), F.col("qe")) * MMR_Q + 0.5)
            .cast("long")
            .alias("qrel"),
            "emb",
        )
        .orderBy(F.col("qrel").desc(), "vec_id")
        .limit(MMR_POOL)
    )
    pool = [(r["vec_id"], r["qrel"], r["emb"]) for r in pool_df.collect()]
    sel = mmr_greedy(pool, MMR_SELECT)
    return local_frame(
        pool_df.sparkSession,
        [
            (i, v, qrel / MMR_Q, qscore / (MMR_Q * MMR_LAM_DEN))
            for i, (v, qrel, qscore) in enumerate(sel)
        ],
        "rank int, vec_id long, relevance double, mmr_score double",
    )


# ---------------------------------------------------------------------------
# IVF index persistence — build once, query many (the production lifecycle).
# ---------------------------------------------------------------------------


def _ivf_centroids(e: DataFrame, k_lists: int) -> DataFrame:
    """The deterministic hash-order centroid pick shared by the inline
    ``ann_ivf_flat`` build and the persisted index below (one rule, so a
    persisted index answers exactly like a fresh build)."""
    return (
        e.select(F.xxhash64("vec_id").alias("cid"), F.col("emb").alias("cemb"))
        .orderBy("cid")
        .limit(k_lists)
    )


def build_ivf_index(spark: SparkSession, sf_dir: str, index_dir: str, version: int = 1) -> None:
    """Persist the IVF index as two artifact tables (artifacts.py
    versioning: immutable versions, read-latest):

    - ``{index_dir}/centroids`` — k≈√n (cid, cemb) rows;
    - ``{index_dir}/lists`` — the inverted lists as bare (cid, vec_id)
      pairs, repartitioned by cid so each list is contiguous (at 100 TB:
      partition BY cid so a query's nprobe lists are partition-pruned
      reads; embeddings are NOT duplicated into the index — the query
      re-joins them from the base table by id).

    This is the missing half of the ANN story at scale: the build cost
    (n×K scoring) is paid once per corpus version, not per query session.
    """
    import math

    from live_data_spark.artifacts import write_artifact

    e = load(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("emb"))
    n = table_rowcount(sf_dir, "embeddings")
    k_lists = max(4, int(math.isqrt(n)))
    centroids = _ivf_centroids(e, k_lists)
    lists = _ivf_assign(e, centroids, nprobe=1, id_col="vec_id").select("cid", "vec_id")
    write_artifact(centroids, f"{index_dir}/centroids", version)
    write_artifact(lists.repartition("cid"), f"{index_dir}/lists", version)


def query_ivf_index(
    spark: SparkSession, sf_dir: str, index_dir: str, version: int | None = None
) -> DataFrame:
    """Top-k ANN against a PERSISTED index (latest version by default):
    load the k-row centroid table, assign the queries to their nprobe
    lists, read ONLY those lists' (cid, vec_id) pairs, re-join the
    embeddings by id, exact re-score. Output schema and results are
    identical to ``ann_ivf_flat``'s fresh build (pinned in tests) — the
    only difference is WHERE the lists come from.
    """
    import math

    from live_data_spark.artifacts import read_artifact

    e = load(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("emb"))
    n = table_rowcount(sf_dir, "embeddings")
    k_lists = max(4, int(math.isqrt(n)))
    nprobe = max(2, k_lists // 4)

    centroids = read_artifact(spark, f"{index_dir}/centroids", version)
    lists = read_artifact(spark, f"{index_dir}/lists", version)

    queries = _ivf_assign(
        e.where(F.col("vec_id") < N_QUERIES).withColumnRenamed("vec_id", "query_id"),
        centroids,
        nprobe=nprobe,
        id_col="query_id",
    ).select("cid", "query_id", F.col("emb").alias("qe"))

    ne = e.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("ne"))
    cand = (
        F.broadcast(queries)
        .join(lists.withColumnRenamed("vec_id", "neighbor_id"), "cid")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .join(ne, "neighbor_id")
    )
    scored = cand.select(
        "query_id", "neighbor_id", cosine(F.col("qe"), F.col("ne")).alias("cos")
    )
    return exact_topk(scored)


def build_pq_codebook(spark: SparkSession, sf_dir: str, index_dir: str, version: int = 1) -> None:
    """Persist the trained PQ codebooks as a versioned artifact table:
    one row per (subspace, code) with the codeword vector. The train
    sample is the deterministic hash-ordered PQ_SAMPLE slice, so a
    rebuild over the same corpus reproduces the books bit-for-bit —
    which is what makes the persisted index auditable (retrain, diff
    against the stored version, alert on drift).
    """
    import numpy as np

    from live_data_spark.artifacts import write_artifact

    e = load(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("emb"))
    sample_rows = (
        e.select(F.xxhash64("vec_id").alias("h"), "emb").orderBy("h").limit(PQ_SAMPLE).collect()
    )
    if not sample_rows:
        # an empty/fully-filtered corpus cannot train codebooks; fail with
        # the real reason instead of np.stack's "need at least one array"
        # (and never persist a garbage artifact version) — the guard the
        # sibling query tiers implement as an early empty return
        raise ValueError(
            f"build_pq_codebook: no embeddings to sample at {sf_dir} — "
            "refusing to train/persist an empty codebook"
        )
    sample = np.stack([np.array(r["emb"], dtype=np.float64) for r in sample_rows])
    sample /= np.linalg.norm(sample, axis=1, keepdims=True)
    books = _pq_train(sample)
    rows = [
        (j, k, [float(x) for x in books[j, k]])
        for j in range(books.shape[0])
        for k in range(books.shape[1])
    ]
    df = local_frame(spark, rows, "subspace int, code int, codeword array<double>")
    write_artifact(df, f"{index_dir}/pq_codebook", version)


def query_pq_index(
    spark: SparkSession, sf_dir: str, index_dir: str, version: int | None = None
) -> DataFrame:
    """PQ-ADC top-k against a PERSISTED codebook (latest by default) —
    identical results to the inline ``ann_pq_adc`` for the same books
    (pinned in tests). The codebook collect is bounded at m·ks rows
    (the same budget the trainer's driver state already holds)."""
    import numpy as np

    from live_data_spark.artifacts import read_artifact

    rows = read_artifact(spark, f"{index_dir}/pq_codebook", version).collect()
    m = 1 + max(r["subspace"] for r in rows)
    ks = 1 + max(r["code"] for r in rows)
    sub = len(rows[0]["codeword"])
    books = np.empty((m, ks, sub))
    for r in rows:
        books[r["subspace"], r["code"]] = r["codeword"]
    e = load(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("emb"))
    refine = max(PQ_REFINE_MIN, table_rowcount(sf_dir, "embeddings") // PQ_REFINE_FRAC)
    return _pq_adc_with_books(spark, e, books, refine)


# ---------------------------------------------------------------------------
# Centroid drift — did each label's embedding distribution move?
# ---------------------------------------------------------------------------

_DRIFT_ORACLE = """
WITH mx AS (SELECT max(vec_id) AS m FROM embeddings),
h AS (
  SELECT vec_id, label, embedding,
         CASE WHEN vec_id * 2 <= (SELECT m FROM mx) THEN 0 ELSE 1 END AS half
  FROM embeddings
), dims AS (
  SELECT unnest(generate_series(1, (SELECT max(len(embedding)) FROM embeddings))) AS dim
), ex AS (
  SELECT e.label, e.half, d.dim, cast(e.embedding[d.dim] AS DOUBLE) AS x
  FROM h e CROSS JOIN dims d
), cent AS (
  SELECT label, half, dim, sum(x) AS cx FROM ex GROUP BY 1, 2, 3
), cvecs AS (
  SELECT label, half, list(cx ORDER BY dim) AS cvec FROM cent GROUP BY 1, 2
), counts AS (
  SELECT label, half, count(*) AS n FROM h GROUP BY 1, 2
)
SELECT a.label,
       cast(ca.n AS BIGINT) AS n_first,
       cast(cb.n AS BIGINT) AS n_second,
       round(list_cosine_similarity(a.cvec, b.cvec), 4) AS centroid_cos
FROM cvecs a
JOIN cvecs b ON b.label = a.label AND a.half = 0 AND b.half = 1
JOIN counts ca ON ca.label = a.label AND ca.half = 0
JOIN counts cb ON cb.label = b.label AND cb.half = 1
"""


@register("embedding_centroid_drift", oracle=_DRIFT_ORACLE, tags=("similarity", "vector", "stats"))
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid drift between the corpus' first and second half
    (vec_id order): the cosine between the two half-centroids — the
    embedding-space analog of ``events_value_drift_psi``. Labels whose
    halves stop agreeing (cos dropping from ~1) signal ingest drift:
    the encoder changed, the source mix shifted, or the label's meaning
    moved — exactly what a training pipeline must catch before mixing
    eras of a corpus into one epoch.

    Cosine is scale-invariant, so half-centroids skip the 1/n
    normalization (the label_prototypes discipline) and the cosine runs
    in-plan over the two |labels|-row vector frames — JVM zip_with /
    aggregate, no Python anywhere. One posexplode pass builds both
    halves' per-dim sums in a single (label, half, dim) aggregate;
    nothing data-sized moves after it.

    Empty corpus: NULL max ⇒ the half flag is NULL ⇒ zero grouped rows
    ⇒ empty output, no abort (empty-input sweep).
    """
    e = load(spark, sf_dir, "embeddings")
    probe = e.select("embedding").first()
    if probe is None:  # empty corpus: defined empty drift table
        return e.limit(0).select(
            "label",
            F.lit(0).cast("bigint").alias("n_first"),
            F.lit(0).cast("bigint").alias("n_second"),
            F.lit(0.0).alias("centroid_cos"),
        )
    n_dims = len(probe["embedding"])
    mx = e.agg(F.max("vec_id").alias("m"))
    h = e.crossJoin(F.broadcast(mx)).select(
        "label",
        F.when(F.col("vec_id") * 2 <= F.col("m"), 0).otherwise(1).alias("half"),
        as_double("embedding").alias("emb"),
    )
    cent = h.groupBy("label", "half").agg(
        F.count(F.lit(1)).alias("n"),
        F.array(*[F.sum(F.col("emb")[i]) for i in range(n_dims)]).alias("cvec"),
    )
    a = cent.where(F.col("half") == 0).select(
        "label", F.col("n").alias("n_first"), F.col("cvec").alias("va")
    )
    b = cent.where(F.col("half") == 1).select(
        "label", F.col("n").alias("n_second"), F.col("cvec").alias("vb")
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return a.join(b, "label").select(
        "label",
        F.col("n_first").cast("bigint").alias("n_first"),
        F.col("n_second").cast("bigint").alias("n_second"),
        F.round(dot / (norm("va") * norm("vb")), 4).alias("centroid_cos"),
    )


# ---------------------------------------------------------------------------
# Procrustes drift — is the "drift" just a rotation of the whole space?
# ---------------------------------------------------------------------------


@register("embedding_procrustes_drift", oracle=None, tags=("similarity", "vector", "stats"))
def embedding_procrustes_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orthogonal Procrustes alignment between the first- and second-half
    label centroids: find the rotation R = UVᵀ (SVD of AᵀB, Schönemann
    1966) that best maps half-1 centroids onto half-2, and report each
    label's centroid distance BEFORE vs AFTER alignment. This separates
    the two drift stories embedding_centroid_drift conflates: an encoder
    re-deploy typically rotates the whole space (per-label cosines all
    drop, but residual-after ≈ 0 — embeddings are still mutually
    consistent, fix = one linear map), while real semantic drift leaves
    residuals after the best rotation (no linear map reconciles the
    eras — the halves must not be mixed in one training epoch).

    Plumbing: the per-(label, half) centroid aggregate is the
    embedding_centroid_drift subtree (one posexplode pass, JVM-side);
    only the 2·|labels| centroid ROWS are collected for the d×d SVD —
    the bounded-driver-state pattern shared with k-means and the PQ
    codebook (|labels|·d doubles, scale-free). Rows-only driver check
    (SVD isn't SQL-reproducible); a planted pure-rotation corpus pins
    residual-after ≈ 0 in pytest while the unaligned distance stays
    large.
    """
    import numpy as np

    e = load(spark, sf_dir, "embeddings")
    mx = e.agg(F.max("vec_id").alias("m"))
    h = e.crossJoin(F.broadcast(mx)).select(
        "label",
        F.when(F.col("vec_id") * 2 <= F.col("m"), 0).otherwise(1).alias("half"),
        as_double("embedding").alias("emb"),
    )
    cent = (
        h.select("label", "half", F.posexplode("emb").alias("dim", "x"))
        .groupBy("label", "half", "dim")
        .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n"))
        .groupBy("label", "half")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", (F.col("sx") / F.col("n")).alias("v")))
            ).alias("cv"),
            F.first("n").alias("n"),
        )
        .select(
            "label",
            "half",
            "n",
            F.transform("cv", lambda s: s["v"]).alias("c"),
        )
    )
    rows = cent.collect()  # 2·|labels| rows of d doubles — bounded driver state
    labels = sorted({r["label"] for r in rows})
    by = {(r["label"], r["half"]): (np.array(r["c"]), r["n"]) for r in rows}
    pairs = [l for l in labels if (l, 0) in by and (l, 1) in by]
    schema = "label int, n_first long, n_second long, dist_before double, dist_after double"
    if not pairs:  # empty corpus / no label present in both halves
        return local_frame(spark, [], schema)
    A = np.stack([by[(l, 0)][0] for l in pairs])
    B = np.stack([by[(l, 1)][0] for l in pairs])
    u, _, vt = np.linalg.svd(A.T @ B)
    R = u @ vt
    AR = A @ R
    out = [
        (
            int(l),
            int(by[(l, 0)][1]),
            int(by[(l, 1)][1]),
            round(float(np.linalg.norm(A[i] - B[i])), 4),
            round(float(np.linalg.norm(AR[i] - B[i])), 4),
        )
        for i, l in enumerate(pairs)
    ]
    return local_frame(spark, out, schema)  # in label order: ``pairs`` is sorted


# ---------------------------------------------------------------------------
# Intrinsic dimension — how many dimensions do the embeddings really use?
# ---------------------------------------------------------------------------


@register("embedding_intrinsic_dimension", oracle=None, tags=("similarity", "vector", "stats"))
def embedding_intrinsic_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-NN intrinsic-dimension estimate (Facco et al. 2017): for each
    vector, μ = r₂/r₁ (second- over first-nearest euclidean distance);
    the MLE is ID = n / Σ ln μ. An encoder may emit 64 dims while the
    data lives on a ~10-dimensional manifold — ID is the number that
    says whether Matryoshka truncation, PQ subspaces, and LSH plane
    counts are sized against the REAL geometry or the nominal width
    (all three knobs in this repo's ANN ladder scale with it). Reported
    overall (label −1) and per label (a label collapsing toward ~1 is
    near-collinear — a degenerate cluster worth inspecting).

    Plan: the exact 2-NN reuses embedding_neardup_pairs' BLOCKED
    all-pairs discipline — block-pair applyInPandas groups whose
    distance matrices are single numpy ops, each emitting every
    vector's two best candidates INTO that block; a per-vector
    aggregate then takes the two smallest over its ~2B candidates
    (2·n_blocks rows per vector — bounded, no driver collect, no eager
    job in the construction path). Duplicate points (r₁ = 0) drop —
    their μ is undefined. ln μ quantizes to 1e-8 integers before the
    order-free sums. Rows-only driver check (exact k-NN has no
    tractable SQL analog); pytest pins a numpy replay AND recovery of
    ID ≈ 2 on a planted 2-D manifold embedded in 64-dim. This tier is
    all-pairs O(n²) by design (the ground truth); the scale rung is
    ``embedding_intrinsic_dimension_sampled`` below.
    """
    import math

    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double("embedding").alias("emb")
    )
    n = table_rowcount(sf_dir, "embeddings")
    n_blocks = max(1, math.ceil(n / _BLOCK_TARGET))
    rep = (
        e.withColumn("blk", F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int"))
        .select(
            "vec_id",
            "label",
            "emb",
            "blk",
            F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("x"),
        )
        .select(
            "vec_id",
            "label",
            "emb",
            "blk",
            F.least("blk", "x").alias("ba"),
            F.greatest("blk", "x").alias("bb"),
        )
    )

    def block_two_nn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ba, bb = key
        out_ids, out_lbl, out_d = [], [], []
        sides = (
            [(pdf[pdf["blk"] == ba], pdf[pdf["blk"] == bb])]
            if ba == bb
            else [
                (pdf[pdf["blk"] == ba], pdf[pdf["blk"] == bb]),
                (pdf[pdf["blk"] == bb], pdf[pdf["blk"] == ba]),
            ]
        )
        for left, right in sides:
            if left.empty or right.empty:
                continue
            X = np.stack(left["emb"].to_numpy())
            Y = np.stack(right["emb"].to_numpy())
            d2 = ((X**2).sum(1)[:, None] + (Y**2).sum(1)[None, :]) - 2.0 * (X @ Y.T)
            np.maximum(d2, 0.0, out=d2)
            if left is right or (ba == bb):
                li = left["vec_id"].to_numpy()
                d2[li[:, None] == right["vec_id"].to_numpy()[None, :]] = np.inf
            k = min(2, d2.shape[1])
            best = np.partition(d2, k - 1, axis=1)[:, :k]
            for j in range(k):
                out_ids.append(left["vec_id"].to_numpy())
                out_lbl.append(left["label"].to_numpy())
                out_d.append(np.sqrt(best[:, j]))
        if not out_ids:
            return pd.DataFrame({"vec_id": [], "label": [], "d": []}).astype(
                {"vec_id": "int64", "label": "int32", "d": "float64"}
            )
        return pd.DataFrame(
            {
                "vec_id": np.concatenate(out_ids),
                "label": np.concatenate(out_lbl),
                "d": np.concatenate(out_d),
            }
        )

    cand = rep.groupBy("ba", "bb").applyInPandas(
        block_two_nn, "vec_id long, label int, d double"
    )
    per_vec = (
        cand.where(~F.isnan("d") & (F.col("d") != float("inf")))
        .groupBy("vec_id", "label")
        .agg(F.array_sort(F.collect_list("d")).alias("ds"))
        .where((F.size("ds") >= 2) & (F.element_at("ds", 1) > 0))
        .select(
            "label",
            F.floor(
                F.ln(F.element_at("ds", 2) / F.element_at("ds", 1)) * 100000000 + 0.5
            )
            .cast("bigint")
            .alias("qlnmu"),
        )
    )
    per_label = per_vec.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("qlnmu").cast("bigint").alias("s"),
    )
    overall = per_vec.agg(
        F.lit(-1).cast("int").alias("label"),
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("qlnmu").cast("bigint").alias("s"),
    )
    return (
        per_label.unionByName(overall)
        .where(F.col("s") > 0)
        .select(
            "label",
            "n_vecs",
            F.round(F.col("n_vecs") / (F.col("s") / 100000000.0), 2).alias("id_2nn"),
        )
        .orderBy("label")
    )

ID_ANCHOR_BUDGET = 256  # hash-sampled anchor count for the scale rung


@register(
    "embedding_intrinsic_dimension_sampled",
    oracle=None,
    tags=("similarity", "vector", "stats"),
)
def embedding_intrinsic_dimension_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE RUNG for ``embedding_intrinsic_dimension``: the exact
    tier's 2-NN is all-pairs O(n²) and cannot leave demo scale. The
    Facco estimator, however, is an MLE over per-point μ = r₂/r₁ draws,
    so it is SAMPLE-STABLE: estimating from a fixed hash-sample of
    anchors — while still ranking each anchor's neighbors over the FULL
    corpus — replaces O(n²) with O(B·n), one scan-side pass with a
    bounded (B×64-double ≈ 128 KB) broadcast state. That is the same
    anchors-vs-everything shape FAISS-style audits use, and at 100 TB it
    is the only tractable form (B stays fixed as n grows; the estimate's
    standard error depends on B, not n).

    Plan: B anchors collect driver-side (deterministic hash order — the
    PQ_SAMPLE / MMR bounded-collect contract), then one ``mapInPandas``
    pass over the corpus computes each Arrow batch's anchor×batch
    distance matrix in numpy and emits ≤ 2·B candidate rows per batch;
    a per-anchor aggregate takes the global two smallest. No shuffle
    touches the vectors — candidates travel as (anchor_id, label, d).
    Downstream math (duplicate drop, 1e-8 ln-quantization, per-label +
    overall MLE) is IDENTICAL to the exact tier's, so at n ≤ B the two
    tiers return the same rows (pinned), and at n > B the overall
    estimates agree within sampling error (stability pinned vs the
    exact tier at sf0.01 AND sf0.1 in tests/test_similarity.py).
    Rows-only driver check, like the exact tier.
    """
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double("embedding").alias("emb")
    )
    anchor_rows = (
        e.select(F.xxhash64("vec_id").alias("h"), "vec_id", "label", "emb")
        .orderBy("h")
        .limit(ID_ANCHOR_BUDGET)
        .collect()
    )
    if not anchor_rows:  # empty corpus: declared schema, no numpy work
        return local_frame(spark, [], "label int, n_vecs bigint, id_2nn double")
    A = np.stack([np.asarray(r["emb"], dtype=np.float64) for r in anchor_rows])
    a_ids = np.array([r["vec_id"] for r in anchor_rows], dtype=np.int64)
    a_lbl = np.array([r["label"] for r in anchor_rows], dtype=np.int32)
    a_sq = (A**2).sum(1)

    def anchor_two_nn(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            Y = np.stack(pdf["emb"].to_numpy())
            d2 = a_sq[:, None] + (Y**2).sum(1)[None, :] - 2.0 * (A @ Y.T)
            np.maximum(d2, 0.0, out=d2)
            d2[a_ids[:, None] == pdf["vec_id"].to_numpy()[None, :]] = np.inf
            k = min(2, d2.shape[1])
            best = np.sqrt(np.partition(d2, k - 1, axis=1)[:, :k])
            finite = np.isfinite(best)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(a_ids, k)[finite.ravel()],
                    "label": np.repeat(a_lbl, k)[finite.ravel()],
                    "d": best.ravel()[finite.ravel()],
                }
            )

    cand = e.select("vec_id", "emb").mapInPandas(
        anchor_two_nn, "vec_id long, label int, d double"
    )
    per_vec = (
        cand.groupBy("vec_id", "label")
        .agg(F.slice(F.array_sort(F.collect_list("d")), 1, 2).alias("ds"))
        .where((F.size("ds") >= 2) & (F.element_at("ds", 1) > 0))
        .select(
            "label",
            F.floor(
                F.ln(F.element_at("ds", 2) / F.element_at("ds", 1)) * 100000000 + 0.5
            )
            .cast("bigint")
            .alias("qlnmu"),
        )
    )
    per_label = per_vec.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("qlnmu").cast("bigint").alias("s"),
    )
    overall = per_vec.agg(
        F.lit(-1).cast("int").alias("label"),
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("qlnmu").cast("bigint").alias("s"),
    )
    return (
        per_label.unionByName(overall)
        .where(F.col("s") > 0)
        .select(
            "label",
            "n_vecs",
            F.round(F.col("n_vecs") / (F.col("s") / 100000000.0), 2).alias("id_2nn"),
        )
        .orderBy("label")
    )


@register(
    "embedding_triplet_mine_ann",
    oracle=None,
    tags=("similarity", "vector", "training"),
)
def embedding_triplet_mine_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE RUNG for ``embedding_triplet_mine``: same output
    contract (per anchor, best same-label positive / best diff-label
    hard negative / margin), but candidates come from an IVF SHORTLIST
    instead of the exact all-candidates scan — the standard FAISS-backed
    mining pipeline. Per anchor only its ``nprobe`` nearest centroids'
    inverted lists are scored (~nprobe/K of the corpus), and survivors
    re-score EXACTLY, so precision is 1 and the only approximation is a
    candidate that lives outside the probed lists. Agreement with the
    exact tier is pinned at sf0.01 AND sf0.1 in tests/test_similarity.py.

    One contract divergence from the exact tier, stated rather than
    hidden: an anchor whose probed lists contain NO same-label (or no
    diff-label) candidate is OMITTED from the output — the pos⋈neg join
    has nothing to pair — while the exact tier always emits every
    anchor. On these corpora coverage is 100% (pinned); on a corpus
    with a rare, spatially clustered label the mitigation is a larger
    ``nprobe`` or a label-stratified fallback probe for the uncovered
    anchors, not a silent NULL row.

    At 100 TB the anchor set is the whole table: the broadcast on the
    anchor assignment disappears (both sides shuffle-partition on cid),
    the lists are the persisted ``build_ivf_index`` artifacts read
    partition-pruned, and per-anchor work stays ~nprobe·n/K — never
    all-pairs. Rows-only driver check (centroid choice is hash-based,
    like ann_ivf_flat).
    """
    import math

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb"), "label"
    )
    n = table_rowcount(sf_dir, "embeddings")
    k_lists = max(4, int(math.isqrt(n)))
    nprobe = max(2, k_lists // 4)
    centroids = _ivf_centroids(e, k_lists)

    anchors = e.where(F.col("vec_id") < TRIPLET_ANCHORS)
    # _ivf_assign projects to (id, emb, cid) — re-attach the anchor label
    # by id (anchor frame is bounded, the join broadcasts)
    albl = anchors.select(
        F.col("vec_id").alias("anchor_id"), F.col("label").alias("anchor_label")
    )
    aassign = (
        _ivf_assign(
            anchors.withColumnRenamed("vec_id", "anchor_id"), centroids, nprobe, "anchor_id"
        )
        .join(F.broadcast(albl), "anchor_id")
        .select("cid", "anchor_id", F.col("emb").alias("ae"), "anchor_label")
    )
    lists = _ivf_assign(e, centroids, nprobe=1, id_col="vec_id").select("cid", "vec_id")

    ne = e.select(
        F.col("vec_id").alias("cand_id"),
        F.col("emb").alias("ce"),
        F.col("label").alias("cand_label"),
    )
    scored = (
        F.broadcast(aassign)
        .join(lists.withColumnRenamed("vec_id", "cand_id"), "cid")
        .where(F.col("cand_id") != F.col("anchor_id"))
        .dropDuplicates(["anchor_id", "cand_id"])
        .join(ne, "cand_id")
        .select(
            "anchor_id",
            "anchor_label",
            "cand_id",
            "cand_label",
            cosine(F.col("ae"), F.col("ce")).alias("cos"),
        )
    )
    return _best_pos_neg(scored)
