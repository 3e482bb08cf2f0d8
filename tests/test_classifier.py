"""Logistic-regression parity vs a from-scratch numpy IRLS.

The trainer is iterative (rows-only with the driver), so exactness is
pinned here: coefficients from the distributed Newton loop must match a
single-machine numpy implementation run on the same collected matrix,
hard predictions must be identical, and the penalized log-loss must be
non-increasing round over round (the Newton-on-a-convex-objective
invariant that catches a wrong gradient or Hessian immediately).
"""

from __future__ import annotations

import numpy as np
import pytest

from live_data_spark.operators import classifier as cl
from live_data_spark.operators.similarity import as_double


def _collect_xy(spark, sf_dir, target):
    from live_data_spark.catalog import load

    rows = (
        load(spark, sf_dir, "embeddings")
        .select(as_double("embedding").alias("emb"), "label")
        .collect()
    )
    X = np.column_stack(
        [np.ones(len(rows)), np.stack([np.array(r["emb"]) for r in rows])]
    )
    y = np.array([1.0 if r["label"] == target else 0.0 for r in rows])
    return X, y


def _numpy_irls(X, y, iters, ridge):
    d1 = X.shape[1]
    beta = np.zeros(d1)
    reg = ridge * np.eye(d1)
    reg[0, 0] = 0.0
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(X @ beta)))
        s = p * (1.0 - p)
        A = (X * s[:, None]).T @ X
        g = X.T @ (y - p)
        beta = beta + np.linalg.solve(A + reg, g - reg @ beta)
    return beta


def test_logreg_matches_numpy_reference(spark, sf_dir):
    X, y = _collect_xy(spark, sf_dir, cl.TARGET_LABEL)
    want = _numpy_irls(X, y, cl.N_NEWTON, cl.RIDGE)
    got = cl.logreg_fit(spark, sf_dir)
    # partials merge in partition order → fp drift only; 1e-6 relative is
    # far tighter than any decision boundary and fails on a real bug
    np.testing.assert_allclose(got, want, rtol=1e-6, atol=1e-8)
    # hard predictions identical
    assert (
        ((X @ got) >= 0) == ((X @ want) >= 0)
    ).all(), "prediction sets diverge"


def test_logreg_loss_monotone_and_fit_useful(spark, sf_dir):
    hist: list = []
    beta = cl.logreg_fit(spark, sf_dir, history=hist)
    assert len(hist) == cl.N_NEWTON
    # Newton on a convex penalized objective: non-increasing (tiny fp slack)
    for a, b in zip(hist, hist[1:]):
        assert b <= a + 1e-6, f"loss increased: {hist}"
    # the fit must beat the trivial all-negative classifier on its
    # training set (accuracy > base rate) — a weak, stable floor
    X, y = _collect_xy(spark, sf_dir, cl.TARGET_LABEL)
    acc = float((((X @ beta) >= 0) == (y == 1.0)).mean())
    base = float((y == 0.0).mean())
    assert acc > base, f"accuracy {acc} not above base rate {base}"


def test_logreg_eval_entry_consistent(spark, sf_dir):
    rows = {r["label"]: r for r in cl.embedding_logreg_eval(spark, sf_dir).collect()}
    X, y = _collect_xy(spark, sf_dir, cl.TARGET_LABEL)
    n_pos_pred = sum(r["n_pred_pos"] for r in rows.values())
    beta = cl.logreg_fit(spark, sf_dir)
    assert n_pos_pred == int(((X @ beta) >= 0).sum())
    # per-label counts cover the whole table exactly once
    assert sum(r["n_vecs"] for r in rows.values()) == len(y)
    # n_correct consistency on the target row: pred_pos == correct there
    t = rows[cl.TARGET_LABEL]
    assert t["n_correct"] == t["n_pred_pos"], (
        "on the target label's row every positive prediction is correct"
    )


@pytest.mark.parametrize("target", [3, 7])
def test_logreg_other_targets_numpy_parity(spark, sf_dir, target):
    X, y = _collect_xy(spark, sf_dir, target)
    want = _numpy_irls(X, y, 4, cl.RIDGE)
    got = cl.logreg_fit(spark, sf_dir, target=target, iters=4)
    np.testing.assert_allclose(got, want, rtol=1e-6, atol=1e-8)


def test_logreg_calibration_bins_account_for_everything(spark, sf_dir):
    rows = cl.embedding_logreg_calibration(spark, sf_dir).collect()
    X, y = _collect_xy(spark, sf_dir, cl.TARGET_LABEL)
    assert sum(r["n_vecs"] for r in rows) == len(y)
    assert all(0 <= r["bin"] <= 9 for r in rows)
    for r in rows:
        assert 0.0 <= r["mean_pred"] <= 1.0 and 0.0 <= r["frac_pos"] <= 1.0
        # mean_pred must lie inside its own bin's probability range
        assert r["bin"] / 10 - 1e-9 <= r["mean_pred"] <= (r["bin"] + 1) / 10 + 1e-9
    # positives overall must reconcile with the label base rate
    tot_pos = sum(r["frac_pos"] * r["n_vecs"] for r in rows)
    assert abs(tot_pos - float((y == 1.0).sum())) < 1e-3


def test_logreg_sf01_scale_invariants(spark):
    """sf0.1 (2000 vectors, 4x the fixture SF): the Newton fit must stay
    convergent (penalized loss non-increasing) and beat the beta=0
    starting point (n·ln2) — the kmeans/SemDeDup scale-invariant
    precedent for iterative operators. Accuracy may only MATCH the
    all-negative base rate here: uniform-random embeddings carry no
    label signal, and at this n the ridge correctly refuses to overfit
    past it (the honest outcome; never regress below it)."""
    import numpy as np

    SF01 = "/root/testdata/sf0.1"
    hist: list = []
    beta = cl.logreg_fit(spark, SF01, history=hist)
    for a, b in zip(hist, hist[1:]):
        assert b <= a + 1e-6, f"loss increased at sf0.1: {hist}"
    X, y = _collect_xy(spark, SF01, cl.TARGET_LABEL)
    assert hist[-1] < len(y) * np.log(2), "fit no better than beta=0"
    acc = float((((X @ beta) >= 0) == (y == 1.0)).mean())
    assert acc >= float((y == 0.0).mean())
