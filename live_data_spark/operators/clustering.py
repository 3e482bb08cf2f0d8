"""Embedding clustering: spherical k-means and SemDeDup-style near-dup.

The clustering rung of the curation ladder: k-means partitions the
embedding space so downstream passes (semantic dedup, diversity
sampling, stratified eval splits) can work within clusters instead of
globally. Iterative algorithms have no single-statement SQL oracle, so
these register rows-only with the driver; exactness is pinned in
tests/test_clustering.py against a plain-numpy reference implementation
(assignment-identical), and SemDeDup's precision/recall is measured
against the exact all-pairs twin.

Scale shape (the reason k-means-on-Spark looks like this):
- Assignment is a map-only Arrow batch per partition — centroids ride
  into the pandas_udf closure (k·d doubles), so no shuffle, no join.
- The update step is ONE hash aggregate per iteration: vectors sum
  per cluster via numpy inside ``applyInPandas`` partials; only k rows
  cross the wire to the driver (the same treeAggregate contract MLlib's
  KMeans uses). Iterations are driver-side loops over small collected
  centroid state — bounded at k·d·iters doubles, never data-sized.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from live_data_spark.catalog import load, register, table_rowcount
from live_data_spark.operators.similarity import as_double, pin_for_iteration
from live_data_spark.session import local_frame

K_CLUSTERS = 8
N_ITERS = 5
SEMDEDUP_THRESHOLD = 0.4  # same band as embedding_neardup_pairs

# Production k-scaling (SemDeDup, Abbas et al. 2023 runs k ≈ n/10⁴ at
# 100M-document scale; the principle is FIXED target cluster size, so
# the within-cluster exact term stays n·C instead of n²/k with k
# pinned). 512 keeps each within-cluster block a single comfortable
# Arrow batch (512² = 262k pair-sims ≈ 17 MFLOP at 64 dims).
SEMDEDUP_TARGET_CLUSTER = 512
# closure-broadcast ceiling: centroids ride into the assignment UDF as
# k·d doubles; past ~100k centroids (≈50 MB at 64 dims) the matrix
# should move to a proper sparkContext.broadcast — cap and say so
# rather than silently degrade (embedding_kmeans docstring).
SEMDEDUP_MAX_K = 100_000


def semdedup_production_k(n: int) -> int:
    """The production cluster count for an n-vector corpus:
    ``clamp(ceil(n / SEMDEDUP_TARGET_CLUSTER), K_CLUSTERS, SEMDEDUP_MAX_K)``.

    With k ∝ n the within-cluster exact pass is O(n·C) and the Lloyd
    fit is O(n·k·d·iters) = O(n²·d·iters/C) — asymptotically the fit
    dominates, but its constant is an Arrow einsum FLOP (≈200× cheaper
    per unit than the pair materialization it replaces), so the
    crossover sits far beyond any single-cluster corpus; past it,
    production systems either fit k on a SAMPLE (centroid quality needs
    only Θ(k·C) points, restoring O(n) total: assignment stays one
    map-only pass) or scale k ∝ √n. The floor keeps tiny corpora at the
    fixed-k default; the cap is the closure-broadcast ceiling above."""
    return max(K_CLUSTERS, min(SEMDEDUP_MAX_K, -(-n // SEMDEDUP_TARGET_CLUSTER)))


def _normalized(mat: np.ndarray) -> np.ndarray:
    return mat / np.linalg.norm(mat, axis=1, keepdims=True)


def _init_centroids(e: DataFrame, k: int) -> np.ndarray:
    """Deterministic init: the k smallest vec_ids' unit vectors.

    Empty table → a (0, 0) matrix, the "no centroids" sentinel the fit
    loop and every caller treat as "emit the empty result" (the
    catalog-wide empty-input contract, tests/test_empty_input.py)."""
    rows = e.orderBy("vec_id").limit(k).collect()
    if not rows:
        return np.zeros((0, 0))
    return _normalized(np.array([r["emb"] for r in rows], dtype=np.float64))


def _assign_udf(centroids: np.ndarray):
    """argmax-cosine cluster id per vector, Arrow-batched (ties → lowest id).

    Non-deterministic marking is an optimizer fence, not a semantics
    change (the function is pure): downstream joins on the assigned
    cluster imply an ``isnotnull(cluster)`` filter that Catalyst pushes
    below the projection while keeping the projection too, so the whole
    argmax-cosine batch ran TWICE per pass (two ArrowEvalPython nodes
    per call in the unfenced plan; the optimization guide §4.4
    pattern). The fence keeps it to one."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    c = centroids  # k×d, unit rows; rides the closure into each worker

    # hint-free form: `from __future__ import annotations` stringifies
    # hints, which pandas_udf can't resolve for locals (see similarity.py)
    def _assign(emb):
        m = _normalized(np.stack(emb.to_numpy()))
        return pd.Series(np.argmax(m @ c.T, axis=1).astype("int32"))

    return pandas_udf(_assign, "int").asNondeterministic()


def _partial_sums_fn(centroids: np.ndarray):
    """mapInPandas fn: assign each vector to its argmax-cosine centroid and
    emit per-partition per-cluster (raw-Σemb, count) partials — ≤k rows per
    partition, the whole Lloyd round in one Arrow pass."""
    import pandas as pd

    c = centroids
    k, _ = c.shape

    def part(batches):
        sums = np.zeros_like(c)
        counts = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["emb"].to_numpy())
            a = np.argmax(_normalized(m) @ c.T, axis=1)
            np.add.at(sums, a, m)
            counts += np.bincount(a, minlength=k)
        nz = np.nonzero(counts)[0]
        if len(nz):
            yield pd.DataFrame(
                {"cluster": nz.astype("int32"), "vsum": list(sums[nz]), "n": counts[nz]}
            )

    return part


def _assign_top_udf(centroids: np.ndarray, probes: int):
    """Top-p nearest clusters per vector (soft assignment), Arrow-batched."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    c, p = centroids, probes

    def _assign(emb):
        m = _normalized(np.stack(emb.to_numpy()))
        sims = m @ c.T
        top = np.argsort(-sims, axis=1)[:, :p].astype("int32")
        return pd.Series(list(top))

    return pandas_udf(_assign, "array<int>")


def kmeans_fit(
    spark: SparkSession,
    sf_dir: str,
    k: int = K_CLUSTERS,
    iters: int = N_ITERS,
    history: list | None = None,
) -> np.ndarray:
    """Spherical k-means (cosine metric) over the embeddings table:
    ``iters`` Lloyd rounds from the deterministic min-vec_id init;
    returns the k×d unit centroid matrix.

    If ``history`` is given, appends per-round (objective, sizes) built
    from the already-collected k-row update state (no extra pass):
    objective = Σ_j dot(vsum_j, c_j) = Σ_i |emb_i|·cos(emb_i, c_assigned)
    — the weighted spherical objective both Lloyd steps maximize, so it
    is non-decreasing round over round (pinned in tests)."""
    e = pin_for_iteration(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", as_double("embedding").alias("emb")
        )
    )
    try:
        return _fit_rounds(e, k, iters, history)
    finally:
        e.unpersist()


def _fit_rounds(e: DataFrame, k: int, iters: int, history: list | None) -> np.ndarray:
    """The Lloyd loop proper, over an already-pinned frame: ``iters``
    rounds of one Arrow partial-sums pass each, centroid state merged
    driver-side (see kmeans_fit docstring for the aggregate contract)."""
    centroids = _init_centroids(e, k)
    if centroids.size == 0:  # empty corpus: nothing to fit
        return centroids
    for _ in range(iters):
        # Assignment AND per-cluster partial sums in ONE Arrow pass: each
        # partition emits ≤k (cluster, Σemb, n) rows, merged driver-side —
        # the treeAggregate contract. This replaces the earlier
        # assign-udf + 64-column JVM aggregate per round, which paid a
        # fresh codegen compile and an extra shuffle every iteration
        # (profile query best-of-3 at sf0.1: 5.7 s → 3.4 s; SemDeDup,
        # which refits, 4.3 s → 2.2 s). Driver state stays bounded at
        # partitions·k·d doubles.
        parts = e.mapInPandas(
            _partial_sums_fn(centroids), schema="cluster int, vsum array<double>, n long"
        ).collect()
        sums = np.zeros_like(centroids)
        counts = np.zeros(k, dtype=np.int64)
        for r in parts:
            sums[r["cluster"]] += np.array(r["vsum"], dtype=np.float64)
            counts[r["cluster"]] += r["n"]
        if history is not None:
            obj = float(sum(np.dot(sums[c], centroids[c]) for c in range(k) if counts[c]))
            history.append((obj, {c: int(counts[c]) for c in range(k) if counts[c]}))
        nxt = centroids.copy()  # empty clusters keep their previous centroid
        for c in range(k):
            if counts[c]:
                nxt[c] = sums[c] / np.linalg.norm(sums[c])
        centroids = nxt
    return centroids


def kmeans_assign(
    spark: SparkSession, sf_dir: str, k: int = K_CLUSTERS, iters: int = N_ITERS
) -> DataFrame:
    """(vec_id, emb, cluster) under the fitted centroids."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    )
    centroids = kmeans_fit(spark, sf_dir, k, iters)
    return e.withColumn("cluster", _assign_udf(centroids)("emb"))


def _profile_partials_fn(centroids: np.ndarray):
    """mapInPandas fn for the ONE-PASS cluster profile: per partition,
    per final-assignment cluster, emit (raw-Σemb, Σ(emb/|emb|), count)
    — ≤k rows per partition. The raw sum rebuilds the profile centroid
    (consistent with what the assignment returns, exactly like the old
    in-plan recompute); the unit sum gives mean cos-to-centroid as
    dot(Σ emb/|emb|, c)/n without a second pass or join."""
    import pandas as pd

    c = centroids
    k, _ = c.shape

    def part(batches):
        sums = np.zeros_like(c)
        usums = np.zeros_like(c)
        counts = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["emb"].to_numpy())
            u = _normalized(m)
            a = np.argmax(u @ c.T, axis=1)
            np.add.at(sums, a, m)
            np.add.at(usums, a, u)
            counts += np.bincount(a, minlength=k)
        nz = np.nonzero(counts)[0]
        if len(nz):
            yield pd.DataFrame(
                {
                    "cluster": nz.astype("int32"),
                    "vsum": list(sums[nz]),
                    "usum": list(usums[nz]),
                    "n": counts[nz],
                }
            )

    return part


def _merge_profile_partials(pdf):
    """applyInPandas merge of one cluster's profile partials → ONE row.

    Bounds the driver collect at k rows (guide §5 driver hygiene): the
    r12 shape collected the partials UNMERGED — ≤k rows × 2·d doubles
    PER PARTITION, which at 10⁵–10⁶ partitions of a 100 TB corpus is
    GB-scale driver traffic for a k-row result. One tiny exchange on
    the ≤k·partitions partial rows merges them where they are. Counts
    are integer-exact under any merge order; the float sums drift only
    at the 1e-16 grain, far under the profile's 1e-4 rounding."""
    import pandas as pd

    return pd.DataFrame(
        {
            "cluster": [pdf["cluster"].iloc[0]],
            "vsum": [list(np.sum(np.stack(pdf["vsum"].to_numpy()), axis=0))],
            "usum": [list(np.sum(np.stack(pdf["usum"].to_numpy()), axis=0))],
            "n": [int(pdf["n"].sum())],
        }
    )


@register("embedding_kmeans", oracle=None, headline=True, tags=("similarity", "clustering"))
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster profile after 5 spherical k-means rounds: size and mean
    cosine-to-centroid per cluster (rows-only: iterative — no SQL
    oracle; assignment-level exactness vs a numpy reference is pinned in
    tests/test_clustering.py).

    At 100 TB this is the canonical mergeable-state loop: assignment
    never shuffles (centroids travel to the data), the update is one
    map-side-combined aggregate, and driver state is k·d doubles per
    round. k scales to ~100k centroids before the closure broadcast
    wants to become a proper ``spark.sparkContext.broadcast``.

    The profile itself is ONE more pass of the same mergeable shape (r12,
    guide §§1.2/2.4): the final assignment's per-cluster (Σemb, Σemb/|emb|,
    n) partials collect as ≤k·partitions rows and the k-row profile is
    merged on the driver — mean cos-to-centroid = dot(Σ emb/|emb|, c)/n
    with c the recomputed profile centroid Σemb/|Σemb|, algebraically the
    same average the old plan took. That replaces the r11 shape — TWO
    full scan+assignment subtrees (the broadcast join between them defeats
    exchange reuse), a 64-column JVM aggregate, and three exchanges —
    with one scan, one Arrow pass, zero exchanges. The pass ALSO reuses
    the fit's pinned frame (same persist, executor-local re-read), and
    the fit's centroid matrix already gives the dimension count, where
    the old build ran an extra ``first()`` probe job. Measured at sf0.1
    (same-session bench pair): 2.88 → 2.33 s — the profile action is
    now ~instant and the remaining cost is the fit's 5 sequential Lloyd
    rounds.

    The k-row profile goes back to Spark through ``local_frame``: a
    LocalRelation in cluster order, so collecting it starts no job. The
    earlier ``createDataFrame(rows).orderBy("cluster")`` built an RDD of
    pickled rows and sorted it, three jobs (1.3–1.7 s cold on a 4-core
    host) to return k rows the driver already held.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    )
    pinned = pin_for_iteration(e)
    try:
        centroids = _fit_rounds(pinned, K_CLUSTERS, N_ITERS, None)
        if centroids.size == 0:  # empty corpus: defined empty profile
            return e.limit(0).select(
                F.lit(0).cast("int").alias("cluster"),
                F.lit(0).cast("long").alias("n_points"),
                F.lit(0.0).alias("mean_cos_to_centroid"),
            )
        _profile_schema = "cluster int, vsum array<double>, usum array<double>, n long"
        parts = (
            pinned.mapInPandas(_profile_partials_fn(centroids), schema=_profile_schema)
            # merge partials to ≤k rows IN SPARK before the collect
            # (guide §5): one exchange of tiny partial rows instead of
            # ≤k·partitions rows of 2·d doubles to the driver
            .groupBy("cluster")
            .applyInPandas(_merge_profile_partials, schema=_profile_schema)
            .collect()
        )
    finally:
        pinned.unpersist()
    k, _ = centroids.shape
    sums = np.zeros_like(centroids)
    usums = np.zeros_like(centroids)
    counts = np.zeros(k, dtype=np.int64)
    for r in parts:
        sums[r["cluster"]] += np.array(r["vsum"], dtype=np.float64)
        usums[r["cluster"]] += np.array(r["usum"], dtype=np.float64)
        counts[r["cluster"]] += r["n"]
    rows = []
    for c in range(k):
        if counts[c]:
            cvec = sums[c] / np.linalg.norm(sums[c])
            rows.append((c, int(counts[c]), float(np.dot(usums[c], cvec) / counts[c])))
    # no Sort: the rows are in cluster order and a LocalRelation keeps it
    out = local_frame(spark, rows, "cluster int, n_points long, mean_cos double")
    # F.round (HALF_UP), matching the old plan's rounding exactly
    return out.select(
        "cluster", "n_points", F.round("mean_cos", 4).alias("mean_cos_to_centroid")
    )


@register("semdedup_pairs", oracle=None, headline=True, tags=("similarity", "dedup", "clustering"))
def semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dup: k-means first, then exact
    cosine pairs ONLY within each cluster — the pruning that turns the
    O(n²) all-pairs scan into k independent O((n/k)²) blocks.

    Same schema and threshold as ``embedding_neardup_pairs``; rows-only
    because cluster assignment is iterative. Precision is 1.0 by
    construction (every emitted pair is re-scored exactly); recall is
    what clustering trades away — pairs straddling a cluster boundary
    are missed. Soft top-2 assignment (each vector lands in its two
    nearest clusters) halves that loss for a 2× replication; measured
    recall is pinned in tests/test_clustering.py on this uniform-random
    testdata, where threshold-0.4 "near-dups" are 66° apart — on real
    corpora near-dups sit at cos ≥0.95 and co-cluster almost surely,
    which is why SemDeDup clusters at all. Shuffle cost: probes·n rows
    hash-partitioned by cluster id, versus the exact twin's O(n·B)
    replication. The pinned k=8 leaves a within-cluster n²/8 term that
    the r11 replay measured emerging (slopes 1.52/2.56 at 3×/10×);
    ``semdedup_pairs_production`` scales k with n and measured flat
    (0.96/1.30) — SCALE.md §19.
    """
    return semdedup_pairs_at_k(spark, sf_dir, k=K_CLUSTERS)


def semdedup_pairs_at_k(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """The SemDeDup plan at an explicit cluster count — the shared core
    of the fixed-k catalog entry above and the production configuration
    below. Same schema, threshold, and soft top-2 assignment."""
    import pandas as pd

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    )
    centroids = kmeans_fit(spark, sf_dir, k=k)
    # a corpus smaller than k fits fewer centroids; top-2 probing needs
    # at least 2 columns to explode, and argsort handles k>=2 fine
    probes = min(2, max(1, centroids.shape[0]))
    assigned = e.withColumn(
        "cluster", F.explode(_assign_top_udf(centroids, probes=probes)("emb"))
    )

    def within(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"vec_id_1": [], "vec_id_2": [], "cos": []})
        m = _normalized(np.stack(pdf["emb"].to_numpy()))
        ids = pdf["vec_id"].to_numpy()
        sim = m @ m.T
        ii, jj = np.triu_indices(len(ids), k=1)
        keep = sim[ii, jj] >= SEMDEDUP_THRESHOLD
        id1, id2 = ids[ii[keep]], ids[jj[keep]]
        return pd.DataFrame(
            {
                "vec_id_1": np.minimum(id1, id2),
                "vec_id_2": np.maximum(id1, id2),
                "cos": sim[ii, jj][keep],
            }
        )

    pairs = assigned.groupBy("cluster").applyInPandas(
        within, "vec_id_1 long, vec_id_2 long, cos double"
    )
    # a pair whose members share both probed clusters is emitted twice;
    # max() collapses it (values agree to fp noise — same two vectors)
    return (
        pairs.groupBy("vec_id_1", "vec_id_2")
        .agg(F.round(F.max("cos"), 4).alias("cosine_sim"))
    )


@register("semdedup_pairs_production", oracle=None, tags=("similarity", "dedup", "clustering"))
def semdedup_pairs_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented production configuration as a catalog entry
    (promoted r12, same move as r11's neardup_lsh_production_band — the
    production rung accumulates its own driver rows): ``k =
    semdedup_production_k(n)`` — fixed ~512-vector target
    cluster size instead of the catalog entry's pinned k=8, so the
    within-cluster exact term stays O(n·C) as the corpus grows (the
    r10 scale_replay measured the pinned-k entry's slope drifting
    toward its n²/8 term: 3.13 at 10×/3× vs linear 3.3 and rising).

    Same schema, threshold, soft top-2 probing, and
    precision-1-by-construction contract as ``semdedup_pairs``; recall
    is what finer clustering trades away on ANGULARLY-DIFFUSE pairs —
    this testdata's threshold-0.4 "near-dups" sit 66° apart and split
    across finer clusters easily, while real near-dups (cos ≥ 0.95,
    the regime SemDeDup is FOR) co-cluster almost surely at any k; the
    planted-case pin in tests/test_clustering.py measures exactly
    that split: full recall on planted cos≈0.97 pairs, precision 1
    globally. Rows-only by nature (k-means assignment is
    init-order-sensitive, same as semdedup_pairs). k is sized from the
    parquet FOOTER rowcount — a driver-side metadata read, zero Spark
    jobs (the r11 version ran an eager ``count()`` action per build;
    same number, one fewer full pass — guide §1.2 step 1).
    """
    n = table_rowcount(sf_dir, "embeddings")
    return semdedup_pairs_at_k(spark, sf_dir, k=semdedup_production_k(n))
