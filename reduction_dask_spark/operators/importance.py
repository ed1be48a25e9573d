"""Feature-importance / selection operators (SURVEY.md §2.12).

X1 MDA permutation importance re-architected for Spark (SURVEY.md §3.2):
the reference's driver materializes F×k shuffled copies of every
validation fold (feature_selection_numerai.py:124-134 — its biggest
scalability sin). Here:

1. fold models come from the one-pass sufficient-statistics fit (ml.py);
2. shuffled-column scoring happens LAZILY inside applyInPandas per
   (fold, era) group — each group permutes each feature column once
   with a seed derived from (fold, era, feature), predicts with the
   broadcast coefficient vector, and emits (feature, fold, row, y,
   pred) rows. No driver copies, no whole-fold materialization; memory
   is one (era-group × features) pandas frame per task;
3. importance = mean over folds of (base − shuf)/(1 − shuf)
   (feature_selection_numerai.py:54-55), scored with the M1 metric.

X4's SHAP is TreeExplainer in the reference
(feature_selection_numerai.py:271-288); with the linear kernel the
exact SHAP value is w_j·(x_j − μ_j), computed here in closed form —
same mean-|SHAP| table shape (A4), no shap package needed.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..ml import (
    DIM,
    ERA_DOMAIN,
    coef_frame,
    fit_fold_models,
    fit_global_model,
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
LAM = 1.0
SEED = 42


def _mda_block(feats: np.ndarray, preds: np.ndarray, fold: int, era: int,
               vec_id: np.ndarray, y: np.ndarray) -> pd.DataFrame:
    """Assemble the (d+1)·n MDA rows as ONE DataFrame from a stacked
    prediction block (r16, guide §4.2: the former one-DataFrame-per-
    feature + concat built 65 frames per group — pure Python/pandas
    overhead; the values and their downstream grouping are order-
    insensitive and unchanged)."""
    n = len(y)
    return pd.DataFrame({
        "feature": np.repeat(feats, n),
        "fold": fold,
        "era": era,
        "vec_id": np.tile(vec_id, len(feats)),
        "y": np.tile(y, len(feats)),
        "pred": preds.ravel(),
    })


def _mda_mapper(models: dict[int, np.ndarray], seed: int):
    def fn(key, pdf):
        fold, era = int(key[0]), int(key[1])
        coef = np.asarray(models[fold])
        X = np.stack(pdf["features"].to_numpy()).astype(np.float64)
        y = pdf["y"].to_numpy(dtype=np.float64)
        vec_id = pdf["vec_id"].to_numpy()
        base = coef[0] + X @ coef[1:]
        n, d = X.shape
        feats = np.arange(-1, d)
        preds = np.empty((d + 1, n))
        preds[0] = base
        for f in range(d):
            rng = np.random.default_rng((seed * 1_000_003 + fold * 10_007 + era * 101 + f) % 2**32)
            perm = rng.permutation(n)
            # only feature f moves: pred_shuf = base + w_f·(x_f[perm] − x_f)
            preds[1 + f] = base + coef[1 + f] * (X[perm, f] - X[:, f])
        return _mda_block(feats, preds, fold, era, vec_id, y)

    return fn


def mda_table(preds: DataFrame) -> DataFrame:
    """Shared MDA post-processing: per-(feature, fold) Spearman →
    importance = mean over folds of (base − shuf)/(1 − shuf), sorted."""
    per = score_by_group(preds, ["feature", "fold"])  # spearman per (feature, fold)
    base = per.filter(F.col("feature") == -1).select(
        F.col("fold").alias("bfold"), F.col("spearman").alias("base_s")
    )
    shuf = per.filter(F.col("feature") >= 0)
    return (
        shuf.join(F.broadcast(base), shuf.fold == base.bfold)
        .withColumn(
            "imp_fold",
            (F.col("base_s") - F.col("spearman")) / (1.0 - F.col("spearman")),
        )
        .groupBy("feature")
        .agg(F.round(F.avg("imp_fold"), 6).alias("importance"))
        .orderBy(F.desc("importance"), F.asc("feature"))
    )


def mda_importance(
    spark: SparkSession, sf_dir: str, k: int = K_FOLDS, lam: float = LAM, seed: int = SEED
) -> DataFrame:
    """X1: (feature, importance) table, sorted descending."""
    df = kfold_era(supervised_frame(spark, sf_dir), "era", k=k, eras=list(ERA_DOMAIN))
    stats = fold_suffstats(df)
    models = {g: np.asarray(c) for g, c in fit_fold_models(stats, lam).items()}
    preds = df.groupBy("fold", "era").applyInPandas(
        _mda_mapper(models, seed),
        schema="feature int, fold int, era int, vec_id long, y double, pred double",
    )
    return mda_table(preds)


@query(
    "x1_mda_importance",
    oracle=None,
    doc="X1 mean-decrease-accuracy permutation importance "
        "(feature_selection_numerai.py:13-154): per-(fold,era) lazy "
        "column permutation + broadcast-model scoring, importance = "
        "mean over folds of (base−shuf)/(1−shuf), sorted table (O1).",
    tags=("importance", "ml", "bench"),
)
def x1_mda_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mda_importance(spark, sf_dir)


def _mda_gbt_mapper(models: dict[int, list], seed: int):
    """Per-(fold, era) MDA rows for the nonlinear stump ensemble.

    Permuting feature f only changes the stumps that SPLIT on f, so the
    shuffled prediction is base − contrib_f(x_f) + contrib_f(x_f[perm])
    — exact, and ~T/|stumps on f| cheaper than re-running the whole
    ensemble per feature."""
    from collections import defaultdict

    from ..ml import predict_stumps

    def col_pred(stumps_f: list, col: np.ndarray) -> np.ndarray:
        out = np.zeros(len(col))
        for _, thr, vl, vr in stumps_f:
            out += np.where(col <= thr, vl, vr)
        return out

    def fn(key, pdf):
        fold, era = int(key[0]), int(key[1])
        stumps = models[fold]
        by_f = defaultdict(list)
        for s in stumps:
            by_f[s[0]].append(s)
        X = np.stack(pdf["features"].to_numpy()).astype(np.float64)
        y = pdf["y"].to_numpy(dtype=np.float64)
        vec_id = pdf["vec_id"].to_numpy()
        base = predict_stumps(stumps, X)
        n, d = X.shape
        feats = np.arange(-1, d)
        preds = np.empty((d + 1, n))
        preds[0] = base
        for f in range(d):
            rng = np.random.default_rng((seed * 1_000_003 + fold * 10_007 + era * 101 + f) % 2**32)
            perm = rng.permutation(n)
            if by_f.get(f):
                preds[1 + f] = base - col_pred(by_f[f], X[:, f]) + col_pred(by_f[f], X[perm, f])
            else:
                preds[1 + f] = base
        return _mda_block(feats, preds, fold, era, vec_id, y)

    return fn


def mda_importance_gbt(
    spark: SparkSession, sf_dir: str, k: int = K_FOLDS, seed: int = SEED
) -> DataFrame:
    from ..ml import fit_gbt_fold_models

    # barriered (r11): the boosting fit fires GBT_ROUNDS+2 separate
    # actions over this relation — with a lazy pin each carries the
    # full kfold/supervised-frame tree per plan (caching.barrier)
    df = barrier(kfold_era(supervised_frame(spark, sf_dir), "era", k=k, eras=list(ERA_DOMAIN)))
    models = fit_gbt_fold_models(df, k=k)
    preds = df.groupBy("fold", "era").applyInPandas(
        _mda_gbt_mapper(models, seed),
        schema="feature int, fold int, era int, vec_id long, y double, pred double",
    )
    return mda_table(preds)


@query(
    "x1c_mda_importance_gbt",
    oracle=None,
    doc="X1 MDA with the NONLINEAR kernel (reference trains "
        "RandomForest, metrics.py:34-42): leave-one-fold-out gradient-"
        "boosted stump ensembles fit by distributed histogram "
        "aggregation (ml.fit_gbt_fold_models — one k·d·B-row histogram "
        "pass per boosting round, all folds advanced per pass), then "
        "the same lazy per-(fold,era) permutation scoring as x1. "
        "Permuting a feature re-evaluates only the stumps split on it. "
        "In the bench headline since r8 (verdict item 6) so the "
        "histogram-kernel GBT path is regression-guarded at sf0.1 — "
        "x1/t2 exercise only the ridge suffstats kernels.",
    tags=("importance", "ml", "bench"),
)
def x1c_mda_importance_gbt(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mda_importance_gbt(spark, sf_dir)


# ---------------------------------------------------------------- X4

def linear_shap_scores(
    spark: SparkSession, sf_dir: str, n_rows: int = 1000, lam: float = LAM
) -> DataFrame:
    """X4: mean |SHAP| per feature on a pinned head sample. For the
    linear kernel, SHAP_j(x) = w_j·(x_j − μ_j) exactly."""
    df = kfold_era(supervised_frame(spark, sf_dir), "era", k=K_FOLDS, eras=list(ERA_DOMAIN))
    coef = fit_global_model(fold_suffstats(df), lam)
    # head sample via orderBy+limit → TakeOrderedAndProject (partial
    # per-partition top-k), not a single-partition global row_number
    sample = df.orderBy("vec_id").limit(n_rows)
    melted = sample.select(
        "vec_id", F.posexplode("features").alias("feature", "val")
    )
    means = melted.groupBy("feature").agg(F.avg("val").alias("mu"))
    weights = local_frame(
        spark,
        [(j, float(coef[1 + j])) for j in range(DIM)], "feature int, w double"
    )
    return (
        melted.join(F.broadcast(means), "feature")
        .join(F.broadcast(weights), "feature")
        .groupBy("feature")
        .agg(F.round(F.avg(F.abs(F.col("w") * (F.col("val") - F.col("mu")))), 6).alias("mean_abs_shap"))
        .orderBy(F.desc("mean_abs_shap"), F.asc("feature"))
    )


@query(
    "x4_linear_shap",
    oracle=None,
    doc="X4 shapely_values (feature_selection_numerai.py:271-288): "
        "mean |SHAP| per feature over the first 1000 rows (A4 "
        "melt+groupBy); closed-form linear SHAP w_j·(x_j−μ_j) replaces "
        "TreeExplainer.",
    tags=("importance", "ml"),
)
def x4_linear_shap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return linear_shap_scores(spark, sf_dir)


# ------------------------------------------------------------ X4b


def stump_shap_closed_form(
    stumps: list[tuple[int, float, float, float]],
    x: "np.ndarray",
    background: "np.ndarray",
) -> "np.ndarray":
    """Exact interventional SHAP of a depth-1 stump ensemble at point x
    against a background sample, in closed form.

    A stump s = (f, thr, vl, vr) depends on feature f ALONE, so its
    Shapley attribution lands entirely on f:
        φ_f += s(x_f) − E_b[s(b_f)]
    and the ensemble's SHAP is the sum over stumps (Shapley values are
    additive across additive model components). This is TreeExplainer's
    interventional value specialized to depth 1 — exact, no
    approximation (parity-tested against brute-force subset
    enumeration in tests/test_round5_ops.py)."""
    phi = np.zeros(len(x))
    for f, thr, vl, vr in stumps:
        sx = vl if x[f] <= thr else vr
        eb = float(np.where(background[:, f] <= thr, vl, vr).mean())
        phi[f] += sx - eb
    return phi


def tree_shap_scores(
    spark: SparkSession, sf_dir: str, n_rows: int = 1000, k: int = K_FOLDS
) -> DataFrame:
    """X4b: mean |SHAP| per feature of the GBT stump ensembles over the
    pinned head sample, computed OUT-OF-FOLD (each row is explained by
    the model that did not train on it) with the same head sample as
    the interventional background.

    Plan shape: the model is a k×T-row stump table (broadcast, KBs).
    One melt of the sample feeds (a) the per-stump background mean
    E_b[s(b_f)] — broadcast-join + tiny agg — and (b) the per-row leaf
    values; SHAP_f(x) = Σ_{stumps on f} (s(x_f) − E_b[s]) is a
    broadcast join + groupBy. No Python UDF in the explanation path;
    the T boosting-round fit passes dominate. Features no stump splits
    on have SHAP exactly 0 and are reported at 0 via the stump-feature
    domain."""
    from ..ml import fit_gbt_fold_models

    df = barrier(kfold_era(
        supervised_frame(spark, sf_dir), "era", k=k, eras=list(ERA_DOMAIN)
    ))
    models = fit_gbt_fold_models(df, k=k)
    sample = df.orderBy("vec_id").limit(n_rows)
    melted = sample.select(
        "vec_id", "fold", F.posexplode("features").alias("feature", "val")
    )
    st = local_frame(
        spark,
        [
            (int(m), ti, int(f), float(thr), float(vl), float(vr))
            for m, stumps in models.items()
            for ti, (f, thr, vl, vr) in enumerate(stumps)
        ],
        "sfold int, t int, sfeature int, thr double, vl double, vr double",
    )
    leaf = F.when(F.col("val") <= F.col("thr"), F.col("vl")).otherwise(F.col("vr"))
    # background mean per stump over the WHOLE head sample (the
    # interventional reference distribution), any row fold
    bg = (
        melted.join(F.broadcast(st), melted["feature"] == st["sfeature"])
        .groupBy("sfold", "t")
        .agg(F.avg(leaf).alias("mval"))
    )
    own = (
        melted.join(
            F.broadcast(st),
            (melted["feature"] == st["sfeature"]) & (melted["fold"] == st["sfold"]),
        )
        .select("vec_id", "feature", "sfold", "t", "val", "thr", "vl", "vr")
    )
    shap = (
        own.join(F.broadcast(bg), ["sfold", "t"])
        .select("vec_id", "feature", (leaf - F.col("mval")).alias("c"))
        .groupBy("vec_id", "feature")
        .agg(F.sum("c").alias("shap"))
    )
    scores = shap.groupBy("feature").agg(
        F.round(F.avg(F.abs("shap")), 6).alias("mean_abs_shap")
    )
    # features never split on: SHAP ≡ 0 (explicit rows keep the table
    # schema-stable against x4's 64-feature output)
    domain = local_frame(spark, [(j,) for j in range(DIM)], "feature int")
    return (
        domain.join(scores, "feature", "left")
        .select("feature", F.coalesce("mean_abs_shap", F.lit(0.0)).alias("mean_abs_shap"))
        .orderBy(F.desc("mean_abs_shap"), F.asc("feature"))
    )


@query(
    "x4b_tree_shap",
    oracle=None,
    doc="X4b shapely_values with the TREE kernel — the reference's "
        "actual SHAP path is shap.TreeExplainer over a forest "
        "(feature_selection_numerai.py:271-288); here the in-repo GBT "
        "stump ensemble (ml.fit_gbt_fold_models) is explained with "
        "EXACT interventional tree-SHAP: for depth-1 stumps the "
        "Shapley attribution is closed-form per stump, "
        "φ_f += s(x_f) − E_background[s] (parity-tested against "
        "brute-force subset enumeration). Out-of-fold explanation, "
        "pinned head-sample background, broadcast stump table, zero "
        "Python in the explanation path.",
    tags=("importance", "ml"),
)
def x4b_tree_shap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tree_shap_scores(spark, sf_dir)


# ------------------------------------------------------------ X2 / X5

def forward_selection(
    spark: SparkSession, sf_dir: str, sizes=(4, 8, 16, 32, 64), lam: float = LAM,
    rank_fn=None,
) -> DataFrame:
    """X2/X5 forward selection (feature_selection_numerai.py:157-246):
    for each n take the top-n features by importance rank (O2), run
    era-aware CV (T2) on the projected features, report mean scores.

    The projection happens on the SUFFICIENT STATISTICS, not the data:
    top-n selection just slices rows/cols of XtX/Xty, so the whole
    sweep costs one stats pass + one scoring pass per n (scoring uses
    zero-padded coefficients over the full feature array).

    ``rank_fn`` chooses the importance ranking (the reference's
    shap-rank branch, :291-376): default linear SHAP; x2b passes
    tree_shap_scores so the selection order comes from the exact
    tree-SHAP of the GBT stump ensemble."""
    rank_pdf = (rank_fn or linear_shap_scores)(spark, sf_dir).toPandas()
    order = rank_pdf["feature"].to_list()
    # barriered (r11): one scoring collect per size plus the stats
    # pass all read this relation (caching.barrier)
    df = barrier(kfold_era(supervised_frame(spark, sf_dir), "era", k=K_FOLDS, eras=list(ERA_DOMAIN)))
    stats = fold_suffstats(df)
    results = []
    for n in sizes:
        keep = sorted(order[:n])
        idx = np.array([0] + [1 + f for f in keep])
        sub_stats = {
            g: (xtx[np.ix_(idx, idx)], xty[idx], cnt) for g, (xtx, xty, cnt) in stats.items()
        }
        models = fit_fold_models(sub_stats, lam)
        full = {}
        for g, c in models.items():
            w = np.zeros(DIM + 1)
            w[idx] = c
            full[g] = w
        coefs = coef_frame(spark, full)
        scored = with_prediction(df, coefs)
        per = score_by_group(scored, ["fold"]).agg(
            F.round(F.avg("spearman"), 6).alias("s"), F.round(F.avg("quartic"), 6).alias("q")
        ).collect()[0]
        results.append((int(n), per["s"], per["q"]))
    return local_frame(spark, results, "n_features int, spearman_mean double, quartic_mean double")


@query(
    "x2_forward_selection",
    oracle=None,
    doc="X2/X5 forward-selection CV sweep over top-n features "
        "(feature_selection_numerai.py:157-246, 291-376): result table "
        "(n, mean spearman/quartic). Selection operates on sufficient "
        "statistics — no per-n data pass.",
    tags=("importance", "ml"),
)
def x2_forward_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return forward_selection(spark, sf_dir)


@query(
    "x2b_forward_selection_tree_shap",
    oracle=None,
    doc="X2/X5 shap-rank branch with the TREE explainer (the "
        "reference ranks by TreeExplainer SHAP before its selection "
        "CV, feature_selection_numerai.py:291-376): selection order = "
        "x4b's exact stump-ensemble tree-SHAP, scoring = the shared "
        "suffstats CV sweep (one stats pass for the whole n-grid).",
    tags=("importance", "ml"),
)
def x2b_forward_selection_tree_shap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return forward_selection(spark, sf_dir, rank_fn=tree_shap_scores)


# ------------------------------------------------------------ P2 / X3

@query(
    "x3_projection_by_rank",
    oracle="""
        WITH melted AS (
            SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS fid,
                   CAST(unnest(embedding) AS DOUBLE) AS val
            FROM embeddings
        ),
        imp AS (
            SELECT fid, round(var_samp(val), 6) AS score FROM melted GROUP BY fid
        ),
        topn AS (
            SELECT fid, score,
                   row_number() OVER (ORDER BY score DESC, fid) AS rn
            FROM imp
        )
        SELECT m.vec_id, m.fid, m.val
        FROM melted m JOIN topn t ON m.fid = t.fid AND t.rn <= 8
    """,
    doc="P2/X3 selector: project the top-n feature columns by an "
        "importance rank (feature_selection_numerai.py:249-268) — "
        "variance-ranked here so the oracle is SQL; membership stays a "
        "proper column, never stringified (the reference round-trips "
        "cluster lists through str + ast.literal_eval, :202/:265).",
    tags=("importance",),
)
def x3_projection_by_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    melted = emb.select("vec_id", F.posexplode("embedding").alias("fid", "valf")).select(
        "vec_id", "fid", F.col("valf").cast("double").alias("val")
    )
    imp = melted.groupBy("fid").agg(F.round(F.var_samp("val"), 6).alias("score"))
    # top-8 features by score: orderBy+limit compiles to
    # TakeOrderedAndProject (per-partition partial top-k, then a merge
    # of 8-row heaps) — no global window, no single-partition sort
    topn = imp.orderBy(F.desc("score"), F.asc("fid")).limit(8)
    return melted.join(F.broadcast(topn.select("fid")), "fid").select("vec_id", "fid", "val")


# ---------------------------------------------------------- X1b (scale)

def _mda_suffstats_mapper(models: dict[int, np.ndarray], seed: int):
    """Like _mda_mapper but scores INSIDE the UDF: each (fold, era)
    group emits one row of pooled-correlation sufficient statistics
    per feature — (n, Σy, Σy², Σr, Σr², Σyr) with r the era-local
    pct rank of the prediction (W1 semantics: order by (pred, vec_id),
    rank/n). The shuffle shrinks from O(features × rows) prediction
    rows (the x1 plan) to O(features × folds × eras) stat rows — at
    the reference's 310 features × 500k rows that is a ~2,500×
    reduction in shuffled bytes, and group memory stays O(rows_in_era)
    regardless of feature count (no per-feature frame concat)."""

    def fn(key, pdf):
        fold, era = int(key[0]), int(key[1])
        coef = np.asarray(models[fold])
        X = np.stack(pdf["features"].to_numpy()).astype(np.float64)
        y = pdf["y"].to_numpy(dtype=np.float64)
        vec_id = pdf["vec_id"].to_numpy()
        n = len(y)
        base = coef[0] + X @ coef[1:]

        def rank_pct(pred: np.ndarray) -> np.ndarray:
            order = np.lexsort((vec_id, pred))  # (pred, vec_id) asc
            r = np.empty(n)
            r[order] = np.arange(1, n + 1)
            return r / n

        rows = []
        for f in range(-1, X.shape[1]):
            if f < 0:
                pred = base
            else:
                rng = np.random.default_rng(
                    (seed * 1_000_003 + fold * 10_007 + era * 101 + f) % 2**32
                )
                perm = rng.permutation(n)
                pred = base + coef[1 + f] * (X[perm, f] - X[:, f])
            r = rank_pct(pred)
            rows.append((f, fold, era, n,
                         float(y.sum()), float((y * y).sum()),
                         float(r.sum()), float((r * r).sum()), float((y * r).sum())))
        return pd.DataFrame(
            rows, columns=["feature", "fold", "era", "n", "sy", "sy2", "sr", "sr2", "syr"]
        )

    return fn


def mda_importance_suffstats(
    spark: SparkSession, sf_dir: str, k: int = K_FOLDS, lam: float = LAM, seed: int = SEED
) -> DataFrame:
    """X1 at scale: identical permutation seeds and rank semantics to
    mda_importance, but the pooled era-rank correlation is assembled
    from per-(feature, fold, era) sufficient statistics."""
    df = kfold_era(supervised_frame(spark, sf_dir), "era", k=k, eras=list(ERA_DOMAIN))
    stats = fold_suffstats(df)
    models = {g: np.asarray(c) for g, c in fit_fold_models(stats, lam).items()}
    part = df.groupBy("fold", "era").applyInPandas(
        _mda_suffstats_mapper(models, seed),
        schema="feature int, fold int, era int, n long, sy double, sy2 double, "
               "sr double, sr2 double, syr double",
    )
    agg = part.groupBy("feature", "fold").agg(
        *[F.sum(c).alias(c) for c in ("n", "sy", "sy2", "sr", "sr2", "syr")]
    )
    num = F.col("n") * F.col("syr") - F.col("sy") * F.col("sr")
    den = F.sqrt(
        (F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy"))
        * (F.col("n") * F.col("sr2") - F.col("sr") * F.col("sr"))
    )
    # round to 6 like score_by_group does, so x1/x1b parity is exact
    per = agg.select("feature", "fold", F.round(F.try_divide(num, den), 6).alias("spearman"))
    base = per.filter(F.col("feature") == -1).select(
        F.col("fold").alias("bfold"), F.col("spearman").alias("base_s")
    )
    shuf = per.filter(F.col("feature") >= 0)
    return (
        shuf.join(F.broadcast(base), shuf.fold == base.bfold)
        .withColumn(
            "imp_fold",
            (F.col("base_s") - F.col("spearman")) / (1.0 - F.col("spearman")),
        )
        .groupBy("feature")
        .agg(F.round(F.avg("imp_fold"), 6).alias("importance"))
        .orderBy(F.desc("importance"), F.asc("feature"))
    )


@query(
    "x1b_mda_suffstats",
    oracle=None,
    doc="X1b MDA permutation importance, sufficient-statistics form: "
        "scoring happens inside the per-(fold, era) UDF and only six "
        "pooled-corr sums per (feature, fold, era) cross the shuffle — "
        "the 310-feature/100 TB-safe MDA plan (see _mda_suffstats_"
        "mapper). Same seeds, same rank semantics, same importance "
        "table as x1 (parity-tested to 1e-6).",
    tags=("importance", "ml"),
)
def x1b_mda_suffstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mda_importance_suffstats(spark, sf_dir)
