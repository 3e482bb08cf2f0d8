"""Model-in-the-loop curation: distributed logistic regression.

Every serious training-data pipeline eventually scores documents with a
LEARNED quality/domain classifier (fastText-style filters in public LLM
corpus reports), not just closed-form heuristics. This module trains a
binary logistic regression on the ``embeddings`` table with Newton/IRLS
(public textbook algorithm) expressed the Spark-native way, then scores
the corpus with the fitted weights.

Scale shape — the same treeAggregate contract as k-means
(operators/clustering.py):

- Each Newton round is ONE shuffle-free Arrow pass: every partition emits
  the (d+1)×(d+1) Gram partial ``Σ s_i·x_i·x_iᵀ`` and the (d+1) gradient
  partial ``Σ (y_i − p_i)·x_i`` — a few KB per partition, merged on the
  driver, solved with one O(d³) dense solve. No data-sized state ever
  reaches the driver, iterations are a driver loop over collected
  partials exactly like ``kmeans_fit``.
- Scoring is map-only: the weight vector rides into the pandas_udf
  closure; at 100 TB it is embarrassingly parallel.
- Ridge regularization keeps the Newton step defined on separable data
  (unregularized logistic diverges there — weights walk to ±∞).

Iterative optimization has no SQL oracle → the catalog entry registers
rows-only; exactness is pinned in tests/test_classifier.py against a
from-scratch numpy IRLS on the same collected matrix (coefficients
allclose at 1e-8, hard predictions identical) plus convergence
invariants (penalized log-loss non-increasing round over round).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from live_data_spark.catalog import load, register
from live_data_spark.operators.similarity import as_double, pin_for_iteration

TARGET_LABEL = 0  # positive class for the catalog entry's binary task
N_NEWTON = 8
RIDGE = 1e-3  # on coefficients (not the intercept-only path): keeps X'SX+λI PD


def _partials_fn(beta: np.ndarray, target: int):
    """mapInPandas fn: per-partition IRLS partials under current beta.

    Emits ONE row per partition: flattened Gram partial A = Σ s·x·xᵀ,
    gradient partial g = Σ (y−p)·x, plus (n, Σlog-loss) so the driver
    can track penalized loss without a second pass.
    """
    import pandas as pd

    b = beta
    d1 = len(b)

    def part(batches):
        A = np.zeros((d1, d1))
        g = np.zeros(d1)
        n = 0
        loss = 0.0
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.column_stack(
                [np.ones(len(pdf)), np.stack(pdf["emb"].to_numpy())]
            )
            y = (pdf["label"].to_numpy() == target).astype(np.float64)
            eta = X @ b
            p = 1.0 / (1.0 + np.exp(-eta))
            s = p * (1.0 - p)
            A += (X * s[:, None]).T @ X
            g += X.T @ (y - p)
            n += len(pdf)
            # numerically-stable log-loss: log(1+e^eta) − y·eta
            loss += float(np.sum(np.logaddexp(0.0, eta) - y * eta))
        yield pd.DataFrame(
            {"a": [A.ravel()], "g": [g], "n": [n], "loss": [loss]}
        )

    return part


def logreg_fit(
    spark: SparkSession,
    sf_dir: str,
    target: int = TARGET_LABEL,
    iters: int = N_NEWTON,
    ridge: float = RIDGE,
    history: list | None = None,
) -> np.ndarray:
    """Fit binary logistic regression (label == target vs rest) over the
    embeddings table; returns the (d+1) weight vector (intercept first).

    Deterministic: beta starts at 0 and every update is a dense solve of
    driver-merged partials — no sampling, no init randomness. Each call
    fits afresh; the durable train-once/score-everywhere form is an
    artifacts.py table. ``history``, when given, collects the penalized
    loss of each round.
    """
    # pinned across rounds: each Newton round is one Arrow partials pass
    # over this frame — without the pin an ``iters``-round fit re-scans
    # the source ``iters`` times (see pin_for_iteration's scale notes)
    e = pin_for_iteration(
        load(spark, sf_dir, "embeddings").select(
            as_double("embedding").alias("emb"), "label"
        )
    )
    try:
        first = e.first()
        if first is None:  # empty corpus: no fit — callers emit empty results
            return None
        d1 = len(first["emb"]) + 1
        beta = np.zeros(d1)
        reg = ridge * np.eye(d1)
        reg[0, 0] = 0.0  # never shrink the intercept
        for _ in range(iters):
            parts = e.mapInPandas(
                _partials_fn(beta, target),
                schema="a array<double>, g array<double>, n long, loss double",
            ).collect()
            A = np.zeros((d1, d1))
            g = np.zeros(d1)
            loss = 0.0
            for r in parts:
                A += np.array(r["a"], dtype=np.float64).reshape(d1, d1)
                g += np.array(r["g"], dtype=np.float64)
                loss += r["loss"]
            if history is not None:
                history.append(loss + 0.5 * ridge * float(beta[1:] @ beta[1:]))
            # Newton step on the PENALIZED objective: g already holds X'(y−p);
            # subtract the ridge gradient so the step targets the same loss
            # the history tracks (otherwise separable data still diverges).
            beta = beta + np.linalg.solve(A + reg, g - reg @ beta)
    finally:
        e.unpersist()
    return beta


def _score_udf(beta: np.ndarray):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    b = beta

    def _score(emb):
        X = np.column_stack([np.ones(len(emb)), np.stack(emb.to_numpy())])
        return pd.Series(1.0 / (1.0 + np.exp(-(X @ b))))

    return pandas_udf(_score, "double")


@register("embedding_logreg_eval", oracle=None, tags=("similarity", "classifier", "iterative"))
def embedding_logreg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label evaluation of the fitted one-vs-rest classifier for
    ``TARGET_LABEL``: (label, n_vecs, n_pred_pos, n_correct). A healthy
    fit concentrates ``n_pred_pos`` on the target label's row; the
    driver-visible confusion profile is how a curation pipeline audits a
    learned filter before unleashing it on the corpus (rows-only:
    iterative optimizer — exactness and convergence pinned in
    tests/test_classifier.py).

    Train is the Newton loop above (one Arrow pass per round); eval here
    is map-only scoring + one small aggregate.
    """
    beta = logreg_fit(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings").select(
        "label", as_double("embedding").alias("emb")
    )
    if beta is None:  # empty corpus: no fit, defined empty confusion table
        return e.limit(0).select(
            "label",
            F.lit(0).cast("long").alias("n_vecs"),
            F.lit(0).cast("long").alias("n_pred_pos"),
            F.lit(0).cast("long").alias("n_correct"),
        )
    p = _score_udf(beta)(F.col("emb"))
    pred = (p >= 0.5).cast("int")
    correct = (
        pred == (F.col("label") == F.lit(TARGET_LABEL)).cast("int")
    ).cast("long")
    return (
        e.select("label", pred.alias("pred"), correct.alias("ok"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("pred").cast("long").alias("n_pred_pos"),
            F.sum("ok").alias("n_correct"),
        )
        .orderBy("label")
    )


@register("embedding_logreg_calibration", oracle=None, tags=("similarity", "classifier", "iterative"))
def embedding_logreg_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table for the fitted classifier: predicted-probability
    deciles vs observed positive rate — the calibration audit that
    decides whether the filter's scores can be used as sampling WEIGHTS
    (well-calibrated) or only as a ranking (miscalibrated). Rows:
    (bin, n_vecs, mean_pred, frac_pos); a calibrated model tracks
    mean_pred ≈ frac_pos per bin. Rows-only (fit is iterative); bin
    accounting and probability bounds are pinned in
    tests/test_classifier.py.

    Scoring is map-only (weights in the UDF closure); binning is one
    map-side-combined aggregate over 10 groups.
    """
    beta = logreg_fit(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings").select(
        "label", as_double("embedding").alias("emb")
    )
    if beta is None:  # empty corpus: no fit, defined empty reliability table
        return e.limit(0).select(
            F.lit(0).alias("bin"),
            F.lit(0).cast("long").alias("n_vecs"),
            F.lit(0.0).alias("mean_pred"),
            F.lit(0.0).alias("frac_pos"),
        )
    p = _score_udf(beta)(F.col("emb"))
    y = (F.col("label") == F.lit(TARGET_LABEL)).cast("double")
    binned = e.select(
        F.least(F.floor(p * 10).cast("int"), F.lit(9)).alias("bin"),
        p.alias("p"),
        y.alias("y"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("p"), 6).alias("mean_pred"),
            F.round(F.avg("y"), 6).alias("frac_pos"),
        )
        .orderBy("bin")
    )
