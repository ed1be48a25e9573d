"""Hyperparameter-tuning operators (SURVEY.md §2.13) on the one-pass
ridge harness (ml.py). The reference's scatter/submit/gather loops
(tuners.py) become: one sufficient-statistics pass → driver-side
solves → one broadcast-join scoring pass.

Rows-only checks (model fitting isn't ANSI-SQL-expressible); semantics
are pinned by unit tests against direct numpy solutions
(tests/test_ml.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import phash
from ..ml import (
    ERA_DOMAIN,
    coef_frame,
    fit_fold_models,
    fold_suffstats,
    score_by_group,
    supervised_frame,
    with_prediction,
)
from ..caching import barrier
from ..registry import query
from ..session import local_frame
from .cv import kfold_era

K_FOLDS = 5


def kfold_cv_ridge(spark: SparkSession, sf_dir: str, lam: float = 1.0, k: int = K_FOLDS) -> DataFrame:
    """T2 kfold_dask (tuners.py:100-146): k-fold era-aware CV of one
    model; returns per-fold (spearman, quartic). One stats pass + one
    scoring pass."""
    df = kfold_era(supervised_frame(spark, sf_dir), "era", k=k, eras=list(ERA_DOMAIN))
    stats = fold_suffstats(df)
    models = fit_fold_models(stats, lam)
    coefs = coef_frame(spark, models)
    test_scored = with_prediction(df, coefs)  # fold col = test fold of that row
    return score_by_group(test_scored, ["fold"])


@query(
    "t2_kfold_cv_eval",
    oracle=None,
    doc="T2 kfold_dask CV evaluation (tuners.py:100-146): per-fold "
        "era-Spearman + quartic error, then mean and quartiles "
        "(tuners.py:144-145 computes quartiles despite the CI "
        "docstring — SURVEY.md §2.16 drift, quartiles implemented).",
    tags=("tuning", "ml", "bench"),
)
def t2_kfold_cv_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_fold = kfold_cv_ridge(spark, sf_dir)
    return per_fold.agg(
        F.round(F.avg("spearman"), 6).alias("spearman_mean"),
        F.round(F.percentile("spearman", F.lit(0.25)), 6).alias("spearman_q25"),
        F.round(F.percentile("spearman", F.lit(0.75)), 6).alias("spearman_q75"),
        F.round(F.avg("quartic"), 6).alias("quartic_mean"),
    )


def kfold_cv_gbt(spark: SparkSession, sf_dir: str, k: int = K_FOLDS) -> DataFrame:
    """T2/M3 with the NONLINEAR kernel: k-fold CV of gradient-boosted
    stump ensembles (ml.fit_gbt_fold_models). The fit is T distributed
    histogram passes (all folds per pass); scoring is a broadcast join
    of the stump arrays evaluated as one fused JVM expression — no
    Python in the inference path."""
    from ..ml import fit_gbt_fold_models, stump_frame, with_gbt_prediction

    # barriered (r11): the boosting fit fires GBT_ROUNDS+2 actions
    # over this relation (caching.barrier — plan-size rationale)
    df = barrier(kfold_era(supervised_frame(spark, sf_dir), "era", k=k, eras=list(ERA_DOMAIN)))
    models = fit_gbt_fold_models(df, k=k)
    stumps = stump_frame(spark, models)
    scored = with_gbt_prediction(df, stumps)  # fold col = held-out fold
    return score_by_group(scored, ["fold"])


@query(
    "t2b_kfold_cv_gbt",
    oracle=None,
    doc="T2 CV evaluation with the nonlinear GBT-stump kernel (the "
        "reference's RandomForest slot, metrics.py:34-42): per-fold "
        "era-Spearman + quartic on held-out folds. Fit = one "
        "k·d·bins-row histogram shuffle per boosting round; model "
        "ships as KB-sized stump arrays; inference is a broadcast "
        "join + aggregate(sequence) expression.",
    tags=("tuning", "ml"),
)
def t2b_kfold_cv_gbt(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kfold_cv_gbt(spark, sf_dir)


LAMBDA_GRID = [0.01, 0.1, 1.0, 10.0, 100.0]


def lhs_ridge_search(spark: SparkSession, sf_dir: str, lambdas=None, k: int = K_FOLDS) -> DataFrame:
    """T1 tune_kfold_dask (tuners.py:12-97): params × folds CV sweep.

    The statistics pass is λ-independent, so the WHOLE grid costs one
    data pass + |grid| driver solves + one scoring pass in which every
    row is scored under its fold's coefficients for every param
    (broadcast coef table keyed by (param_id, fold))."""
    lambdas = lambdas or LAMBDA_GRID
    df = kfold_era(supervised_frame(spark, sf_dir), "era", k=k, eras=list(ERA_DOMAIN))
    stats = fold_suffstats(df)
    rows = []
    for pid, lam in enumerate(lambdas):
        for fold, coef in fit_fold_models(stats, lam).items():
            rows.append((pid, float(lam), fold, float(coef[0]), [float(w) for w in coef[1:]]))
    coefs = local_frame(
        spark,
        rows, "param_id int, lam double, fold int, intercept double, weights array<double>"
    )
    scored = df.join(F.broadcast(coefs), "fold")
    scored = scored.withColumn(
        "pred",
        F.col("intercept")
        + F.aggregate(
            F.zip_with("features", "weights", lambda x, w: x * w),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
    )
    per = score_by_group(scored, ["param_id", "lam", "fold"])
    return (
        per.groupBy("param_id", "lam")
        .agg(
            F.round(F.avg("spearman"), 6).alias("spearman_mean"),
            F.round(F.avg("quartic"), 6).alias("quartic_mean"),
        )
        .orderBy(F.desc("spearman_mean"), F.asc("param_id"))
    )


@query(
    "t1_lhs_kfold_search",
    oracle=None,
    doc="T1 tune_kfold_dask LHS × k-fold grid search (tuners.py:12-97): "
        "result table (param, mean spearman/quartic) sorted best-first. "
        "Entire grid = one stats pass + one scoring pass.",
    tags=("tuning", "ml"),
)
def t1_lhs_kfold_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lhs_ridge_search(spark, sf_dir)


def hyperband(
    spark: SparkSession,
    sf_dir: str,
    max_ratio: int = 81,
    eta: int = 3,
    k: int = K_FOLDS,
) -> DataFrame:
    """T5 hyperband (tuners.py:376-509): successive halving over a
    data-fraction resource. Each rung is ONE Spark job on a
    deterministic hash-subset of rows; configs pruned by η between
    rungs on the driver (milliseconds of control flow).

    Returns the rung trace (bracket, rung, ratio_pct, lam, spearman,
    kept)."""
    s_max = int(math.log(max_ratio, eta))
    base = supervised_frame(spark, sf_dir)
    # barriered (r11): every rung fires two actions (suffstats pass +
    # score collect) over this relation — with a lazy plan each
    # carries the full kfold/supervised-frame tree (caching.barrier)
    df_all = barrier(kfold_era(base, "era", k=k))
    stats_cache: dict[int, dict] = {}
    trace = []
    for s in range(s_max, -1, -1):
        n_configs = int(math.ceil((s_max + 1) / (s + 1)) * eta**s)
        configs = [
            (c, float(10.0 ** (((c * 2654435761) % 97) / 97.0 * 4 - 2)))  # λ ∈ [0.01, 100]
            for c in range(n_configs)
        ]
        for i in range(s + 1):
            ratio_pct = int(100 / eta ** (s - i))  # grows each rung
            if ratio_pct not in stats_cache:
                sub = df_all.filter(phash("vec_id", 100) < ratio_pct)
                stats_cache[ratio_pct] = fold_suffstats(sub)
            stats = stats_cache[ratio_pct]
            rows = []
            for cid, lam in configs:
                for fold, coef in fit_fold_models(stats, lam).items():
                    rows.append((cid, float(lam), fold, float(coef[0]), [float(w) for w in coef[1:]]))
            coefs = local_frame(
                spark,
                rows, "param_id int, lam double, fold int, intercept double, weights array<double>"
            )
            sub = df_all.filter(phash("vec_id", 100) < ratio_pct)
            sj = sub.join(F.broadcast(coefs), "fold")
            sj = sj.withColumn(
                "pred",
                F.col("intercept")
                + F.aggregate(
                    F.zip_with("features", "weights", lambda x, w: x * w),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ),
            )
            per = score_by_group(sj, ["param_id", "lam"])
            result = {r["param_id"]: (r["spearman"], r["lam"]) for r in per.collect()}
            ranked = sorted(configs, key=lambda c: (-(result.get(c[0], (-1e8,))[0] or -1e8), c[0]))
            keep = max(1, int(len(configs) / eta)) if i < s else len(ranked)
            for cid, lam in configs:
                sp = result.get(cid, (None,))[0]
                kept = any(c[0] == cid for c in ranked[:keep])
                trace.append((s, i, ratio_pct, cid, float(lam), sp, kept))
            configs = ranked[:keep]
    return local_frame(
        spark,
        trace,
        "bracket int, rung int, ratio_pct int, param_id int, lam double, spearman double, kept boolean",
    )


@query(
    "t5_hyperband",
    oracle=None,
    doc="T5 hyperband successive halving (tuners.py:376-509): brackets "
        "s_max..0, rungs keep top n/η configs (O4), resource = "
        "deterministic hash-fraction of rows (C3). Returns the full "
        "rung trace. Memory-adaptive gather of T6 (tuners.py:673-705) "
        "is intentionally dropped — Spark's lazy pipelining and spill "
        "subsume it (SURVEY.md §4).",
    tags=("tuning", "ml"),
)
def t5_hyperband(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hyperband(spark, sf_dir, max_ratio=9, eta=3)
