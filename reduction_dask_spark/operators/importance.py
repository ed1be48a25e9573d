"""Feature-importance / selection operators (SURVEY.md §2.12).

X1 MDA permutation importance re-architected for Spark (SURVEY.md §3.2):
the reference's driver materializes F×k shuffled copies of every
validation fold (feature_selection_numerai.py:124-134 — its biggest
scalability sin). Here:

1. fold models come from the one-pass sufficient-statistics ridge fit
   (x1, x1b) or the histogram-boosted stump ensembles (x1c), ml.py;
2. shuffled-column scoring happens LAZILY in ONE applyInPandas mapper
   per (fold, era) group (:func:`_mda_mapper`) — each group permutes
   each feature column once with a seed derived from (fold, era,
   feature) and fills a (features+1) × rows prediction matrix from the
   fold model's kernel. No driver copies, no whole-fold
   materialization; memory is one (era-group × features) block per
   task;
3. the group emits either its prediction rows (x1, x1c), which Spark
   ranks per era and correlates per (feature, fold) with the M1
   metric, or its six pooled-correlation sums per feature (x1b), which
   only cross the shuffle as O(features × folds × eras) rows;
4. importance = mean over folds of (base − shuf)/(1 − shuf)
   (feature_selection_numerai.py:54-55).

X4's SHAP is TreeExplainer in the reference
(feature_selection_numerai.py:271-288); with the linear kernel the
exact SHAP value is w_j·(x_j − μ_j), computed here in closed form —
same mean-|SHAP| table shape (A4), no shap package needed.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..ml import (
    DIM,
    K_FOLDS,
    coef_frame,
    cv_frame,
    fit_fold_models,
    fit_gbt_fold_models,
    fit_global_model,
    fold_suffstats,
    predict_stumps,
    score_by_group,
    with_prediction,
)
from ..caching import barrier
from ..registry import query
from ..session import local_frame

LAM = 1.0
SEED = 42


def _permutation(seed: int, fold: int, era: int, f: int, n: int) -> np.ndarray:
    """The permutation of feature f's column in one (fold, era) group —
    the one seed rule x1, x1b and x1c share (x1/x1b parity rests on
    it)."""
    rng = np.random.default_rng((seed * 1_000_003 + fold * 10_007 + era * 101 + f) % 2**32)
    return rng.permutation(n)


def _linear_predictions(coef: np.ndarray, X: np.ndarray):
    """Ridge kernel: (base, shuffled). Only feature f moves, so
    shuffled(f, perm) = base + w_f·(x_f[perm] − x_f)."""
    base = coef[0] + X @ coef[1:]

    def shuffled(f: int, perm: np.ndarray) -> np.ndarray:
        return base + coef[1 + f] * (X[perm, f] - X[:, f])

    return base, shuffled


def _gbt_predictions(stumps: list, X: np.ndarray):
    """Stump-ensemble kernel: (base, shuffled). Permuting feature f only
    changes the stumps that SPLIT on f, so shuffled(f, perm) =
    base − c_f(x_f) + c_f(x_f[perm]) — exact, and ~T/|stumps on f|
    cheaper than re-running the whole ensemble per feature."""
    by_f = defaultdict(list)
    for st in stumps:
        by_f[st[0]].append(st)
    base = predict_stumps(stumps, X)

    def col_pred(stumps_f: list, col: np.ndarray) -> np.ndarray:
        out = np.zeros(len(col))
        for _, thr, vl, vr in stumps_f:
            out += np.where(col <= thr, vl, vr)
        return out

    def shuffled(f: int, perm: np.ndarray) -> np.ndarray:
        if not by_f.get(f):
            return base
        return base - col_pred(by_f[f], X[:, f]) + col_pred(by_f[f], X[perm, f])

    return base, shuffled


MDA_ROWS = "feature int, fold int, era int, vec_id long, y double, pred double"


def _mda_rows(preds: np.ndarray, fold: int, era: int, vec_id: np.ndarray,
              y: np.ndarray) -> pd.DataFrame:
    """x1/x1c output: the (d+1)·n (feature, fold, era, vec_id, y, pred)
    rows of one group as ONE DataFrame, feature −1 the base. The
    ranking and the pooled correlation run in Spark (score_by_group)."""
    n = len(y)
    return pd.DataFrame({
        "feature": np.repeat(np.arange(-1, len(preds) - 1), n),
        "fold": fold,
        "era": era,
        "vec_id": np.tile(vec_id, len(preds)),
        "y": np.tile(y, len(preds)),
        "pred": preds.ravel(),
    })


MDA_SUFFSTATS = (
    "feature int, fold int, era int, n long, sy double, sy2 double, "
    "sr double, sr2 double, syr double"
)


def _mda_suffstats(preds: np.ndarray, fold: int, era: int, vec_id: np.ndarray,
                   y: np.ndarray) -> pd.DataFrame:
    """x1b output: one row of pooled-correlation sufficient statistics
    per feature — (n, Σy, Σy², Σr, Σr², Σyr) with r the era-local pct
    rank of the prediction (W1 semantics: order by (pred, vec_id),
    rank/n). The shuffle shrinks from O(features × rows) prediction
    rows to O(features × folds × eras) stat rows — at the reference's
    310 features × 500k rows a ~2,500× reduction in shuffled bytes."""
    n = len(y)
    rows = []
    for f, pred in enumerate(preds, start=-1):
        order = np.lexsort((vec_id, pred))  # (pred, vec_id) asc
        r = np.empty(n)
        r[order] = np.arange(1, n + 1)
        r = r / n
        rows.append((f, fold, era, n,
                     float(y.sum()), float((y * y).sum()),
                     float(r.sum()), float((r * r).sum()), float((y * r).sum())))
    return pd.DataFrame(
        rows, columns=["feature", "fold", "era", "n", "sy", "sy2", "sr", "sr2", "syr"]
    )


def _mda_mapper(predict, models: dict, emit):
    """The one per-(fold, era) MDA loop: the fold model's base and
    shuffled predictions (``predict``, a kernel above) fill the
    (d+1, n) prediction matrix, row 0 the base and row 1+f feature f
    under its one :func:`_permutation`; ``emit`` turns the matrix into
    the group's output rows. Memory is one era group × features."""

    def fn(key, pdf):
        fold, era = int(key[0]), int(key[1])
        X = np.stack(pdf["features"].to_numpy()).astype(np.float64)
        y = pdf["y"].to_numpy(dtype=np.float64)
        vec_id = pdf["vec_id"].to_numpy()
        base, shuffled = predict(models[fold], X)
        n, d = X.shape
        preds = np.empty((d + 1, n))
        preds[0] = base
        for f in range(d):
            preds[1 + f] = shuffled(f, _permutation(SEED, fold, era, f, n))
        return emit(preds, fold, era, vec_id, y)

    return fn


def mda_table(per: DataFrame) -> DataFrame:
    """The one MDA importance tail, from per-(feature, fold) Spearman
    rows with feature −1 the unpermuted base: importance = mean over
    folds of (base − shuf)/(1 − shuf), sorted descending."""
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


def mda_importance(spark: SparkSession, sf_dir: str, gbt: bool = False,
                   pooled: bool = False) -> DataFrame:
    """X1/X1b/X1c: (feature, importance) table, sorted descending.

    Fold models are the ridge fit of one suffstats pass, or with
    ``gbt`` the stump ensembles of ml.fit_gbt_fold_models. Every
    (fold, era) group runs :func:`_mda_mapper`. By default the groups
    emit prediction rows, which score_by_group ranks and correlates
    per (feature, fold); ``pooled`` has them emit x1b's per-era
    sufficient statistics, whose pooled correlation is identical."""
    df = cv_frame(spark, sf_dir)
    if gbt:
        # barriered (r11): the boosting fit fires GBT_ROUNDS+2 separate
        # actions over this relation — with a lazy pin each carries the
        # full kfold/supervised-frame tree per plan (caching.barrier)
        df = barrier(df)
        models, predict = fit_gbt_fold_models(df, k=K_FOLDS), _gbt_predictions
    else:
        models = fit_fold_models(fold_suffstats(df), LAM)
        predict = _linear_predictions
    emit, schema = (_mda_suffstats, MDA_SUFFSTATS) if pooled else (_mda_rows, MDA_ROWS)
    out = df.groupBy("fold", "era").applyInPandas(_mda_mapper(predict, models, emit), schema=schema)
    if not pooled:
        return mda_table(score_by_group(out, ["feature", "fold"]))
    agg = out.groupBy("feature", "fold").agg(
        *[F.sum(c).alias(c) for c in ("n", "sy", "sy2", "sr", "sr2", "syr")]
    )
    num = F.col("n") * F.col("syr") - F.col("sy") * F.col("sr")
    den = F.sqrt(
        (F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy"))
        * (F.col("n") * F.col("sr2") - F.col("sr") * F.col("sr"))
    )
    # round to 6 like score_by_group does, so x1/x1b parity is exact
    return mda_table(agg.select("feature", "fold", F.round(F.try_divide(num, den), 6).alias("spearman")))


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
    return mda_importance(spark, sf_dir, gbt=True)


# ---------------------------------------------------------------- X4

def linear_shap_scores(
    spark: SparkSession, sf_dir: str, n_rows: int = 1000, lam: float = LAM
) -> DataFrame:
    """X4: mean |SHAP| per feature on a pinned head sample. For the
    linear kernel, SHAP_j(x) = w_j·(x_j − μ_j) exactly."""
    df = cv_frame(spark, sf_dir)
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
    df = barrier(cv_frame(spark, sf_dir, k))
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
    sweep costs one stats pass + one scoring pass, which scores every
    row under each size's zero-padded coefficients over the full
    feature array (coef table keyed by (n_features, fold), as t1 keys
    its λ grid).

    ``rank_fn`` chooses the importance ranking (the reference's
    shap-rank branch, :291-376): default linear SHAP; x2b passes
    tree_shap_scores so the selection order comes from the exact
    tree-SHAP of the GBT stump ensemble."""
    rank_pdf = (rank_fn or linear_shap_scores)(spark, sf_dir).toPandas()
    order = rank_pdf["feature"].to_list()
    # barriered (r11): the stats pass and the scoring collect both
    # read this relation (caching.barrier)
    df = barrier(cv_frame(spark, sf_dir))
    stats = fold_suffstats(df)
    models = {}
    for n in sizes:
        idx = np.array([0] + [1 + f for f in sorted(order[:n])])
        sub_stats = {
            g: (xtx[np.ix_(idx, idx)], xty[idx], cnt) for g, (xtx, xty, cnt) in stats.items()
        }
        for g, c in fit_fold_models(sub_stats, lam).items():
            w = np.zeros(DIM + 1)
            w[idx] = c
            models[(int(n), g)] = w
    coefs = coef_frame(spark, models, ["n_features int", "fold int"])
    per = score_by_group(with_prediction(df, coefs), ["n_features", "fold"])
    results = sorted(
        (r["n_features"], r["s"], r["q"])
        for r in per.groupBy("n_features").agg(
            F.round(F.avg("spearman"), 6).alias("s"), F.round(F.avg("quartic"), 6).alias("q")
        ).collect()
    )
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
    return mda_importance(spark, sf_dir, pooled=True)
