"""Ground-truth tests for x4b exact stump-ensemble tree-SHAP.

The closed form φ_f = Σ_{stumps on f} (s(x_f) − E_b[s(b_f)]) is checked
against BRUTE-FORCE Shapley subset enumeration (the definition:
φ_j = Σ_S |S|!(d−|S|−1)!/d! · (v(S∪{j}) − v(S)) with the interventional
value v(S) = E_b[f(x_S, b_{S̄})]) — no shared code path between the two
sides. Then the Spark query's numbers are pinned to a pure-numpy
reimplementation, and the planted-feature recovery property is checked.
"""

from __future__ import annotations

import itertools
import math

import numpy as np

from reduction_dask_spark.operators.importance import (
    tree_shap_scores,
    x4b_tree_shap,
)
from reduction_dask_spark.ml import N_INFORMATIVE

from .conftest import SF_SMALL


def stump_shap_closed_form(
    stumps: list[tuple[int, float, float, float]],
    x: np.ndarray,
    background: np.ndarray,
) -> np.ndarray:
    """Exact interventional SHAP of a depth-1 stump ensemble at point x
    against a background sample, in closed form.

    A stump s = (f, thr, vl, vr) depends on feature f ALONE, so its
    Shapley attribution lands entirely on f:
        φ_f += s(x_f) − E_b[s(b_f)]
    and the ensemble's SHAP is the sum over stumps (Shapley values are
    additive across additive model components). This is TreeExplainer's
    interventional value specialized to depth 1 — exact, no
    approximation (checked against brute-force subset enumeration
    below)."""
    phi = np.zeros(len(x))
    for f, thr, vl, vr in stumps:
        sx = vl if x[f] <= thr else vr
        eb = float(np.where(background[:, f] <= thr, vl, vr).mean())
        phi[f] += sx - eb
    return phi


def brute_force_shapley(stumps, x, background):
    """Textbook Shapley over feature subsets with interventional value
    v(S) = mean_b f(x_S ∪ b_{S̄}). Exponential in d — tiny cases only."""
    d = len(x)

    def value(subset):
        mixed = np.tile(background, (1, 1)).astype(float).copy()
        for j in subset:
            mixed[:, j] = x[j]
        out = np.zeros(len(mixed))
        for f, thr, vl, vr in stumps:
            out += np.where(mixed[:, f] <= thr, vl, vr)
        return float(out.mean())

    phi = np.zeros(d)
    feats = list(range(d))
    for j in feats:
        rest = [f for f in feats if f != j]
        for r in range(len(rest) + 1):
            for S in itertools.combinations(rest, r):
                w = math.factorial(len(S)) * math.factorial(d - len(S) - 1) / math.factorial(d)
                phi[j] += w * (value(S + (j,)) - value(S))
    return phi


def test_closed_form_matches_brute_force():
    rng = np.random.default_rng(7)
    d = 5
    for trial in range(5):
        stumps = [
            (int(rng.integers(0, d)), float(rng.normal()), float(rng.normal()), float(rng.normal()))
            for _ in range(6)
        ]
        background = rng.normal(size=(20, d))
        x = rng.normal(size=d)
        exact = brute_force_shapley(stumps, x, background)
        closed = stump_shap_closed_form(stumps, x, background)
        np.testing.assert_allclose(closed, exact, atol=1e-10)


def test_efficiency_property():
    """Shapley efficiency: Σ_f φ_f = f(x) − E_b[f(b)]."""
    rng = np.random.default_rng(11)
    d = 8
    stumps = [
        (int(rng.integers(0, d)), float(rng.normal()), float(rng.normal()), float(rng.normal()))
        for _ in range(12)
    ]
    background = rng.normal(size=(50, d))
    x = rng.normal(size=d)
    phi = stump_shap_closed_form(stumps, x, background)

    def f(X):
        out = np.zeros(len(X))
        for ft, thr, vl, vr in stumps:
            out += np.where(X[:, ft] <= thr, vl, vr)
        return out

    np.testing.assert_allclose(
        phi.sum(), f(x[None, :])[0] - f(background).mean(), atol=1e-10
    )


def test_x4b_matches_numpy_and_recovers_planted(spark):
    """The Spark query equals a pure-numpy reimplementation over the
    same sample/models, and its top features are planted ones."""
    from reduction_dask_spark.ml import K_FOLDS, cv_frame, fit_gbt_fold_models

    df = cv_frame(spark, SF_SMALL).persist()
    models = fit_gbt_fold_models(df, k=K_FOLDS)
    sample = df.orderBy("vec_id").limit(1000).select("vec_id", "fold", "features").toPandas()
    X = np.stack(sample["features"].to_numpy()).astype(float)
    folds = sample["fold"].to_numpy()

    expect = {}
    for i in range(len(X)):
        phi = stump_shap_closed_form(models[int(folds[i])], X[i], X)
        for f_idx in np.nonzero(phi)[0]:
            expect.setdefault(int(f_idx), []).append(abs(phi[f_idx]))
    got = {
        r["feature"]: r["mean_abs_shap"]
        for r in tree_shap_scores(spark, SF_SMALL).collect()
    }
    split_feats = {s[0] for st in models.values() for s in st}
    for f_idx, vals in expect.items():
        assert abs(got[f_idx] - round(float(np.mean(vals)), 6)) <= 1e-6
    for f_idx in set(range(len(X[0]))) - set(expect):
        # unsplit features (and split features whose φ happened to be 0
        # on every sample row) must be reported as exactly 0
        assert got[f_idx] == 0.0
    assert split_feats, "GBT fit produced no stumps"

    top4 = [r["feature"] for r in x4b_tree_shap(spark, SF_SMALL).take(4)]
    assert set(top4) <= set(range(N_INFORMATIVE)), top4
