"""Reference-parity facade: the entry points a `reduction-dask` user
calls today, re-expressed over DataFrames.

Mapping convention: the reference passes (numpy matrix, Series, era
Series, dask client); here every function takes a DataFrame carrying
(key, era, features array<double>, y) columns — the shape
`ml.supervised_frame` produces — and the SparkSession rides inside the
DataFrame. `client`/`workers`/`scatter` parameters disappear: the
lazy DAG and broadcast variables replace explicit data placement
(SURVEY.md §2.1 S4, §4).

| reference (file:line)                            | here |
|--------------------------------------------------|------|
| metrics.spearman_rank(y_true, y_pred, era) :5    | spearman_rank(df) |
| metrics.quartic_error(y_true, y_pred) :25        | quartic_error(df) |
| metrics.fit_predict(...) :34                     | fit_predict(df, lam) (ml.py) |
| utils.kfold_era(era, k) :11                      | kfold_era(df, "era", k) (cv.py) |
| utils.LHS_RandomizedSearch(grid, n) :89          | lhs_param_table (cv.py) |
| utils.payout(scores) :51                         | payout(df, col) |
| utils.fit_transform_dask(redux, x, ...) :132     | fit_transform(df, n_components) |
| distance_func.variation_of_information :9        | variation_of_information(df, x, y) |
| distance_func.max_corr :26 / distance_corr :38   | max_corr_pairs / distance_corr (distance.py) |
| feature_clustering.pairwise :12                  | pairwise_corr (distance.py d4) |
| feature_clustering.get_optimal_clusters :39      | get_optimal_clusters (distance.py d5) |
| feature_selection_numerai.mean_decrease_accuracy :13 | mean_decrease_accuracy(df) |
| feature_selection_numerai.*_selector :249/:379   | select_top_features(df, ranks, n) |
| tuners.kfold_dask :100                           | kfold_dask(df, lam) |
| tuners.tune_kfold_dask :12                       | tune_kfold_dask(df, lambdas) |
| tuners.tune_reduction_dask :149                  | tune_reduction(df, components) |
| tuners.hyperband :376                            | hyperband (tuning.py) |
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, functions as F

from .functions import clip
from .ml import fit_predict  # noqa: F401  (re-export)
from .operators.cv import kfold_era, lhs_param_table  # noqa: F401  (re-export)
from .operators.metrics import spearman_by_era
from .operators.tuning import hyperband, kfold_cv_ridge, lhs_ridge_search  # noqa: F401


# ------------------------------------------------------------- metrics

def spearman_rank(scored: DataFrame, y_true: str = "y_true", y_pred: str = "pred",
                  era: str = "era", key: str = "event_id") -> float:
    """metrics.spearman_rank(y_true, y_pred, era) → scalar
    (reference metrics.py:5-22): per-era pct-rank then pooled corr."""
    row = spearman_by_era(scored, y_true, y_pred, era, key).collect()[0]
    return float(row["spearman_era_corr"])


def quartic_error(scored: DataFrame, y_true: str = "y_true", y_pred: str = "pred") -> float:
    """metrics.quartic_error (metrics.py:25-33)."""
    row = scored.agg(
        F.avg(F.pow(F.col(y_true) - F.col(y_pred), 4)).alias("q")
    ).collect()[0]
    return float(row["q"])


def payout(df: DataFrame, score_col: str) -> DataFrame:
    """utils.payout (utils.py:51-55)."""
    return df.withColumn("payout", clip((F.col(score_col)) / 0.2, -1.0, 1.0))


# ------------------------------------------------------------- tuning

def kfold_dask(per_fold: DataFrame):
    """tuners.kfold_dask (tuners.py:100-146): (mean, [q25, q75]) for
    spearman, plus mean quartic — quartiles per the CODE, not the
    docstring's CI claim (SURVEY.md §2.16). ``per_fold`` is the
    fit_predict / kfold_cv_ridge score table."""
    pdf = per_fold.toPandas()
    return (
        float(pdf["spearman"].mean()),
        [float(np.quantile(pdf["spearman"], 0.25)), float(np.quantile(pdf["spearman"], 0.75))],
        float(pdf["quartic"].mean()),
    )


def tune_kfold_dask(spark, sf_dir: str, lambdas=None) -> DataFrame:
    """tuners.tune_kfold_dask (tuners.py:12-97): sorted result table."""
    return lhs_ridge_search(spark, sf_dir, lambdas)


# --------------------------------------------------------- reduction

def fit_transform(spark, sf_dir: str, n_components: int = 2) -> DataFrame:
    """utils.fit_transform_dask (utils.py:132-167): subsample-fit PCA,
    distributed transform."""
    from .operators.reduction import fit_pca, pca_transform
    from .ml import supervised_frame

    mu, comps = fit_pca(spark, sf_dir, n_components)
    return pca_transform(supervised_frame(spark, sf_dir), mu, comps)


# --------------------------------------------------------- selection

def mean_decrease_accuracy(spark, sf_dir: str) -> DataFrame:
    """feature_selection_numerai.mean_decrease_accuracy (:13-154):
    sorted (feature, importance) table."""
    from .operators.importance import mda_importance

    return mda_importance(spark, sf_dir)


def shapely_values(spark, sf_dir: str) -> DataFrame:
    """feature_selection_numerai.shapely_values (:271-288)."""
    from .operators.importance import linear_shap_scores

    return linear_shap_scores(spark, sf_dir)


def select_top_features(df: DataFrame, ranked_features: list[int], n: int,
                        features_col: str = "features") -> DataFrame:
    """X3/X5 selector (:249-268, :379-392): project the top-n feature
    coordinates of the feature array (membership stays typed — the
    reference round-trips through str + ast.literal_eval)."""
    keep = sorted(ranked_features[:n])
    arr = F.array(*[F.element_at(F.col(features_col), f + 1) for f in keep])
    return df.withColumn(features_col, arr)


# --------------------------------------------------------- distances

def variation_of_information(df: DataFrame, x: Column, y: Column,
                             bins: int = 5, width: float = 100.0) -> float:
    """distance_func.variation_of_information (:9-22) over any two
    columns of ``df``."""
    from .operators.distance import bucket

    joint = df.groupBy(
        bucket(x, width, bins).alias("bx"), bucket(y, width, bins).alias("by_")
    ).agg(F.count("*").alias("nxy"))
    tot = joint.agg(F.sum("nxy").alias("tot"))
    mx = joint.groupBy("bx").agg(F.sum("nxy").alias("nx"))
    my = joint.groupBy("by_").agg(F.sum("nxy").alias("ny"))
    q = (
        joint.crossJoin(F.broadcast(tot))
        .join(F.broadcast(mx), "bx")
        .join(F.broadcast(my), "by_")
        .select(
            (F.col("nxy") / F.col("tot")).alias("pxy"),
            (F.col("nx") / F.col("tot")).alias("px"),
            (F.col("ny") / F.col("tot")).alias("py"),
        )
    )
    row = q.agg(
        F.sum(F.col("pxy") * F.log(F.col("pxy") / (F.col("px") * F.col("py")))).alias("mi"),
        (-F.sum(F.col("pxy") * F.log(F.col("px")))).alias("hx"),
        (-F.sum(F.col("pxy") * F.log(F.col("py")))).alias("hy"),
    ).collect()[0]
    return float(row["hx"] + row["hy"] - 2 * row["mi"])
