"""Distributed linear-model machinery for the ML-harness operators.

The reference trains sklearn models inside Dask futures
(/root/reference/metrics.py:34-42, tuners.py:52-146). sklearn is not in
this container, and shipping whole fitted models is the reference's
scalability sin anyway. The Spark-first replacement is a ridge
regression fit by **additive sufficient statistics**:

    XtX = Σ xᵀx,  Xty = Σ xᵀy   (x includes an intercept column)

- ONE distributed pass (:func:`sum_partials`: each partition's
  (d+1)²+d+2 partial sums per fold, added in partition-id order)
  computes the per-fold statistics.
- Train statistics for fold i are total − fold_i, so k-fold CV needs
  ONE pass, not k (the reference scatters k copies: tuners.py:129-135).
- λ enters only at the (d+1)×(d+1) driver-side solve, so an entire
  hyperparameter grid reuses the same pass.
- Prediction is a pure `zip_with` dot-product expression against the
  coefficient table, which is built as a JVM LocalRelation
  (:func:`session.local_frame`) and broadcast-joined — JVM-side,
  codegen, no Python worker anywhere in the scoring path.

At 100 TB: the data pass moves k·(d+1)² doubles per partition (merged
in Spark above 256 partitions), the solve is milliseconds, scoring is
a broadcast join + expression. Nothing scales with rows except the
two scans.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions import corr_safe, pct_rank_first
from .session import local_frame
from .sources import load_table

DIM = 64  # embeddings feature width


N_INFORMATIVE = 8  # features 0..7 carry the planted signal
ERA_DOMAIN = tuple(range(20))  # era = vec_id % 20 ⇒ domain known statically
K_FOLDS = 5


def planted_weight(d: int) -> float:
    return float((d % 3) + 1)


def supervised_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numerai-shaped supervised frame from the embeddings table:
    (vec_id, era, features array<double>[64], y). era = vec_id % 20 —
    the static time bucket of the reference (utils.py:18).

    The target has PLANTED informative features (FIXTURES.md §1): a
    fixed linear signal on features 0..7 plus deterministic hash noise
    and a label component — so importance rankings (MDA/SHAP) have a
    ground truth and CV scores have real signal to find."""
    emb = load_table(spark, sf_dir, "embeddings")
    feats = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    signal = sum(
        F.element_at(F.col("features"), d + 1) * F.lit(planted_weight(d))
        for d in range(N_INFORMATIVE)
    )
    # mod-first: congruent to (vec_id * K) % 1000 but overflow-free at
    # corpus-scale ids (ANSI mode errors on int64 overflow)
    noise = (((F.col("vec_id") % 1000) * 2654435761) % 1000) / 1000.0 - 0.5
    return (
        emb.select(
            "vec_id",
            (F.col("vec_id") % 20).cast("int").alias("era"),
            feats.alias("features"),
            F.col("label").cast("double").alias("label_y"),
        )
        .withColumn("y", signal + 0.1 * F.col("label_y") + 0.05 * noise)
        .drop("label_y")
    )


# ------------------------------------------------------ partial sums

SUM_PARTIALS_DRIVER_MAX = 256  # partitions; above it the sum runs in Spark


def arrow_matrix(col, width: int) -> np.ndarray:
    """One record batch's fixed-width list column as an (n, width)
    array, reshaped from the flat values buffer (no per-row Python)."""
    flat = np.asarray(col.flatten())
    if flat.size != len(col) * width:
        raise ValueError(f"list rows are not all {width} wide")
    return flat.reshape(len(col), width)


def sum_partials(df: DataFrame, partial) -> dict[tuple, np.ndarray]:
    """Σ over partitions of per-partition additive statistics.

    ``partial(batches)`` receives one partition of ``df`` as Arrow
    record batches and returns ``{key: vector}``: ``key`` a tuple of
    ints, ``vector`` a 1-D float64 array whose width may differ between
    keys (not between partitions for one key). An empty dict — an
    empty partition — contributes nothing. Driver state the partials
    need (a model, centroids, β) travels in the ``partial`` closure,
    which is pickled with the plan. Returns ``{key: Σ vector}``.

    One ``mapInArrow`` pass tags each vector with its partition id.
    The mapped relation's own partition count P picks where the
    addition runs:

    - P ≤ 256: the vectors are collected and added on the driver. It
      collects at most 256 × keys × width × 8 bytes: 44 MB for
      :func:`fold_suffstats` (5 folds × 4,291 at d=64), 21 MB per
      boosting round of :func:`fit_gbt_fold_models` (5 × 2,048),
      8.5 MB for t8's covariance (1 × 4,161), 1.3 MB per Lloyd
      iteration of km1 (10 × 65), and less for IRLS and the t3 sweep.
    - P > 256: ``groupBy(key)`` adds them in Spark over
      ``array_sort(collect_list(struct(pid, vals)))``, and the driver
      reads keys × width doubles.

    Both sides add the same vectors in partition-id order, starting
    from 0.0, so they return the same bits. Reading P from the mapped
    relation's RDD runs its upstream shuffle stages; the driver side
    collects the same executed plan, so they run once (the groupBy side
    plans the relation again)."""

    def fn(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        out = partial(batches)
        if out:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([TaskContext.get().partitionId()] * len(out), pa.int32()),
                    pa.array([list(k) for k in out], pa.list_(pa.int64())),
                    pa.array(
                        [np.asarray(v, dtype=np.float64) for v in out.values()],
                        pa.list_(pa.float64()),
                    ),
                ],
                names=["pid", "key", "vals"],
            )

    rows = df.mapInArrow(fn, "pid int, key array<bigint>, vals array<double>")
    sums: dict[tuple, np.ndarray] = {}
    if rows.rdd.getNumPartitions() <= SUM_PARTIALS_DRIVER_MAX:
        pdf = rows.toPandas().sort_values("pid", kind="stable")
        for key, v in zip(pdf["key"], pdf["vals"]):
            key = tuple(int(k) for k in key)
            sums[key] = sums.get(key, np.zeros(len(v))) + v
        return sums
    parts = F.col("parts")
    merged = rows.groupBy("key").agg(
        F.array_sort(F.collect_list(F.struct("pid", "vals"))).alias("parts")
    ).select(
        "key",
        F.aggregate(
            parts,
            F.array_repeat(F.lit(0.0), F.size(parts[0]["vals"])),
            lambda acc, p: F.zip_with(acc, p["vals"], lambda a, b: a + b),
        ).alias("vals"),
    )
    for r in merged.collect():
        sums[tuple(r["key"])] = np.asarray(r["vals"], dtype=np.float64)
    return sums


# ----------------------------------------------------- sufficient stats

def fold_suffstats(df: DataFrame, group: str = "fold", dim: int = DIM) -> dict[int, tuple[np.ndarray, np.ndarray, float]]:
    """One distributed pass → {group: (XtX, Xty, n)}.

    Each partition sums its rows' [XtX | Xty | n] per group in
    (d+1)²+d+2 doubles; :func:`sum_partials` adds those vectors in
    partition-id order — one array row per (partition, group), never
    (group, idx) scalar rows."""

    def partial(batches):
        acc: dict[tuple, np.ndarray] = {}
        for rb in batches:
            g = rb.column(group).to_numpy(zero_copy_only=False)
            X = np.hstack([np.ones((len(g), 1)), arrow_matrix(rb.column("features"), dim)])
            y = np.asarray(rb.column("y").to_numpy(zero_copy_only=False), dtype=np.float64)
            for v in np.unique(g):
                m = g == v
                acc[(int(v),)] = acc.get((int(v),), 0.0) + suffstat_vector(X[m], y[m])
        return acc

    sums = sum_partials(df.select(group, "features", "y"), partial)
    return {g: split_suffstats(flat, dim + 1) for (g,), flat in sums.items()}


def suffstat_vector(X1: np.ndarray, y: np.ndarray) -> np.ndarray:
    """[XᵀX | Xᵀy | n] of one block of rows; ``X1`` carries the
    intercept column."""
    return np.concatenate([(X1.T @ X1).ravel(), X1.T @ y, [len(y)]])


def split_suffstats(flat: np.ndarray, d1: int) -> tuple[np.ndarray, np.ndarray, float]:
    """(XtX, Xty, n) from a summed :func:`suffstat_vector`."""
    return flat[: d1 * d1].reshape(d1, d1), flat[d1 * d1 : -1], float(flat[-1])


def ridge_solve(xtx: np.ndarray, xty: np.ndarray, lam: float) -> np.ndarray:
    """(XtX + λI)⁻¹ Xty; the intercept is not penalized."""
    pen = np.eye(len(xtx)) * lam
    pen[0, 0] = 0.0
    return np.linalg.solve(xtx + pen, xty)


def _totals(stats: dict[int, tuple[np.ndarray, np.ndarray, float]]) -> tuple[np.ndarray, np.ndarray]:
    """(Σ XtX, Σ Xty) over every fold's statistics."""
    return sum(s[0] for s in stats.values()), sum(s[1] for s in stats.values())


def fit_fold_models(
    stats: dict[int, tuple[np.ndarray, np.ndarray, float]], lam: float
) -> dict[int, np.ndarray]:
    """Leave-one-fold-out coefficients from per-fold statistics:
    train_i = Σ_j stats_j − stats_i (no second data pass)."""
    xtx_all, xty_all = _totals(stats)
    return {
        g: ridge_solve(xtx_all - s[0], xty_all - s[1], lam) for g, s in stats.items()
    }


def fit_global_model(
    stats: dict[int, tuple[np.ndarray, np.ndarray, float]], lam: float
) -> np.ndarray:
    return ridge_solve(*_totals(stats), lam)


# ----------------------------------------- nonlinear kernel: GBT stumps
#
# The reference's model slot is sklearn RandomForest
# (/root/reference/metrics.py:34-42); the container has no sklearn, and
# shipping fitted models is the wrong distributed shape anyway. This is
# the nonlinear in-numpy kernel behind the same M3/X1 harness: gradient-
# boosted regression stumps fit by DISTRIBUTED HISTOGRAM AGGREGATION —
# the LightGBM/XGBoost-on-cluster design:
#
# - each boosting round is ONE distributed pass producing per-
#   (fold, feature, bin) residual sums/counts (k·d·B·2 floats per
#   partition, ~20k — independent of row count), added by
#   sum_partials;
# - the driver picks each fold's best stump from the histogram and
#   appends it to that fold's ensemble (milliseconds);
# - all k leave-one-fold-out models advance in the SAME pass: a row
#   contributes residuals to every fold model except its own, so k-fold
#   CV costs T passes total, not k·T (the same trick fold_suffstats
#   plays for the linear kernel);
# - no randomness anywhere (full-data deterministic boosting), and
#   histograms add in partition-id order, so results are bit-stable
#   under retries for a given partitioning (float sums still differ
#   when the partitioning does).
#
# At 100 TB: T × (one scan + a k·d·B-row merge). Nothing scales with
# rows except the scans; the model that ships to executors is a list of
# (feature, threshold, left, right) tuples — KBs.

GBT_ROUNDS = 12
GBT_BINS = 16
GBT_LR = 0.5


def predict_stumps(stumps: list[tuple[int, float, float, float]], X: np.ndarray) -> np.ndarray:
    """Ensemble prediction: Σ_t where(x_f ≤ thr, left, right)."""
    out = np.zeros(len(X))
    for f, thr, vl, vr in stumps:
        out += np.where(X[:, f] <= thr, vl, vr)
    return out


def feature_bounds(df: DataFrame, dim: int = DIM) -> tuple[np.ndarray, np.ndarray]:
    """Per-feature (min, max) in one pass — the fixed histogram grid."""
    melted = df.select(F.posexplode("features").alias("f", "v"))
    pdf = melted.groupBy("f").agg(F.min("v").alias("mn"), F.max("v").alias("mx")).toPandas()
    mn, mx = np.zeros(dim), np.ones(dim)
    for _, r in pdf.iterrows():
        mn[int(r["f"])], mx[int(r["f"])] = r["mn"], r["mx"]
    return mn, np.where(mx > mn, mx, mn + 1.0)


def gbt_edges(mn: np.ndarray, mx: np.ndarray, n_bins: int) -> np.ndarray:
    """The one split rule: (d, B−1) interior bin edges
    ``edges[f, j] = mn[f] + (j+1)·(mx[f]−mn[f])/B``.

    A value's bin is ``bin(x) = #{j : edges[f, j] < x}`` and the stump
    on boundary b splits at ``thr = edges[f, b]``. Each edge is a
    monotone function of j, so the edges never decrease and
    ``bin(x) ≤ b ⟺ x ≤ thr`` holds for every x, including a value
    exactly on an edge (the reference's quantized levels put 3 of 5 on
    one). Training branches on ``bin ≤ b``; predict_stumps, the MDA
    mapper, with_gbt_prediction and tree-SHAP branch on ``x ≤ thr``;
    both send every row the same way."""
    j = np.arange(1, n_bins, dtype=np.float64)
    return mn[:, None] + j[None, :] * (mx - mn)[:, None] / n_bins


def gbt_bin_frame(df: DataFrame, edges: np.ndarray) -> DataFrame:
    """(fold, y, bins): the boosting rounds' input. ``bins`` holds
    bin(x) = #{j : edges[f, j] < x} of each feature as array<tinyint>,
    so each round ships ~80 bytes/row instead of the 65-double feature
    array (~530 bytes/row), and the bin index is computed once per fit."""
    d = edges.shape[0]

    def fn(batches):
        import pyarrow as pa

        for rb in batches:
            X = arrow_matrix(rb.column("features"), d)
            B = np.empty(X.shape, dtype=np.int8)
            for f in range(d):
                B[:, f] = np.searchsorted(edges[f], X[:, f], side="left")
            offsets = pa.array(np.arange(0, B.size + 1, d, dtype=np.int32))
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column("fold"),
                    rb.column("y"),
                    pa.ListArray.from_arrays(offsets, pa.array(B.ravel())),
                ],
                names=["fold", "y", "bins"],
            )

    return df.select(
        F.col("fold").cast("int").alias("fold"), F.col("y").cast("double").alias("y"), "features"
    ).mapInArrow(fn, "fold int, y double, bins array<tinyint>")


def _gbt_hist_partial(bin_models: dict[int, list], n_bins: int, d: int):
    """One partition of (fold, y, bins) → {(fold,): [sr | cnt]}: the
    flattened (d, B) residual-sum and count histograms of each
    leave-one-fold-out model. Stumps apply by bin index (``bin <= b``,
    the same branch as ``x <= thr`` by :func:`gbt_edges`); the Arrow
    ``bins`` column reshapes from its flat int8 buffer with no per-row
    Python."""
    folds = sorted(bin_models)
    offsets = np.arange(d, dtype=np.int64) * n_bins

    def partial(batches):
        sr = np.zeros((len(folds), d * n_bins))
        cnt = np.zeros((len(folds), d * n_bins))
        seen = False
        for rb in batches:
            seen = True
            fold = rb.column(0).to_numpy(zero_copy_only=False)
            y = rb.column(1).to_numpy(zero_copy_only=False)
            B = arrow_matrix(rb.column(2), d).astype(np.int64, copy=False)
            for mi, m in enumerate(folds):
                mask = fold != m  # leave-one-fold-out training rows
                if not mask.any():
                    continue
                pred = np.zeros(len(y))
                for f, b, vl, vr in bin_models[m]:
                    pred += np.where(B[:, f] <= b, vl, vr)
                resid = (y - pred)[mask]
                # ONE d·n_bins bincount per fold: each feature's bins
                # offset into a disjoint range; the row-major ravel
                # keeps each bin's float accumulation in row order
                flatidx = (B[mask] + offsets).ravel()
                sr[mi] += np.bincount(flatidx, weights=np.repeat(resid, d), minlength=d * n_bins)
                cnt[mi] += np.bincount(flatidx, minlength=d * n_bins)
        if not seen:
            return {}
        return {(m,): np.concatenate([sr[mi], cnt[mi]]) for mi, m in enumerate(folds)}

    return partial


def _best_stump_with_bin(
    hist: np.ndarray, counts: np.ndarray, edges: np.ndarray, lr: float
) -> tuple[int, int, float, float, float]:
    """Pick the (feature, boundary) stump maximizing SSE reduction
    Σl²/nl + Σr²/nr from a (d, B) residual-sum/count histogram; leaves
    predict lr × mean residual. Returns (f, b, thr, vl, vr): training
    applies the stump as ``bin <= b``, every raw-value consumer as
    ``x <= thr`` with ``thr = edges[f, b]`` (:func:`gbt_edges`)."""
    sl = np.cumsum(hist, axis=1)[:, :-1]       # left sums at each boundary
    cl = np.cumsum(counts, axis=1)[:, :-1]
    s, c = hist.sum(axis=1, keepdims=True), counts.sum(axis=1, keepdims=True)
    srt, crt = s - sl, c - cl
    with np.errstate(divide="ignore", invalid="ignore"):
        gain = np.where(cl > 0, sl**2 / cl, 0.0) + np.where(crt > 0, srt**2 / crt, 0.0)
    gain = np.where((cl > 0) & (crt > 0), gain, -np.inf)
    f, b = np.unravel_index(int(np.argmax(gain)), gain.shape)
    vl = float(lr * sl[f, b] / cl[f, b]) if cl[f, b] > 0 else 0.0
    vr = float(lr * srt[f, b] / crt[f, b]) if crt[f, b] > 0 else 0.0
    return int(f), int(b), float(edges[f, b]), vl, vr


def fit_gbt_fold_models(
    df: DataFrame,
    k: int = 5,
    n_rounds: int = GBT_ROUNDS,
    n_bins: int = GBT_BINS,
    lr: float = GBT_LR,
    dim: int = DIM,
) -> dict[int, list[tuple[int, float, float, float]]]:
    """Leave-one-fold-out GBT-stump ensembles, all folds per pass.

    ``df`` must carry (features, y, fold). Returns {fold: stumps}.

    Rounds scan the (fold, y, bins) projection of
    :func:`gbt_bin_frame`; each round is one :func:`sum_partials` pass
    of per-partition histograms. A stump's training branch
    (``bin <= b``) and its scoring branch (``x <= thr``) agree on
    every row by :func:`gbt_edges`, so the histograms the fit chose
    from are those of the model every consumer scores."""
    mn, mx = feature_bounds(df, dim)
    edges = gbt_edges(mn, mx, n_bins)
    # persisted: the bin projection never changes across rounds — bin
    # it once, let rounds 2..T read the ~80 B/row cache (sequential
    # actions, so no AQE cache race here). The rounds consume it fully
    # before return, so it is unpersisted at exit rather than pinned
    # (caching.py's convention).
    fit_in = gbt_bin_frame(df, edges).persist()
    models: dict[int, list] = {m: [] for m in range(k)}
    bin_models: dict[int, list] = {m: [] for m in range(k)}
    width = dim * n_bins
    try:
        for _ in range(n_rounds):
            sums = sum_partials(fit_in, _gbt_hist_partial(bin_models, n_bins, dim))
            for m in models:
                v = sums.get((m,), np.zeros(2 * width))
                hist, counts = v[:width].reshape(dim, n_bins), v[width:].reshape(dim, n_bins)
                f, b, thr, vl, vr = _best_stump_with_bin(hist, counts, edges, lr)
                models[m].append((f, thr, vl, vr))
                bin_models[m].append((f, b, vl, vr))
    finally:
        fit_in.unpersist()
    return models


def stump_frame(spark: SparkSession, models: dict[int, list]) -> DataFrame:
    """(fold, feature[], thr[], vl[], vr[]) — the broadcastable model."""
    rows = [
        (
            int(m),
            [int(s[0]) for s in st],
            [float(s[1]) for s in st],
            [float(s[2]) for s in st],
            [float(s[3]) for s in st],
        )
        for m, st in models.items()
    ]
    return local_frame(
        spark,
        rows, "fold int, s_f array<int>, s_thr array<double>, s_vl array<double>, s_vr array<double>"
    )


def with_gbt_prediction(df: DataFrame, stumps: DataFrame) -> DataFrame:
    """Broadcast-join the stump arrays and score as ONE fused JVM
    expression: pred = Σ_t if(x[f_t] ≤ thr_t, vl_t, vr_t) via
    aggregate(sequence) — tree inference without Python in the path."""
    out = df.join(F.broadcast(stumps), "fold")
    t = F.sequence(F.lit(0), F.size("s_f") - 1)
    pred = F.aggregate(
        t,
        F.lit(0.0),
        lambda acc, i: acc
        + F.when(
            F.element_at("features", F.element_at("s_f", i + 1) + 1)
            <= F.element_at("s_thr", i + 1),
            F.element_at("s_vl", i + 1),
        ).otherwise(F.element_at("s_vr", i + 1)),
    )
    return out.withColumn("pred", pred).drop("s_f", "s_thr", "s_vl", "s_vr")


# ------------------------------------------------------------- predict

def cv_frame(spark: SparkSession, sf_dir: str, k: int = K_FOLDS) -> DataFrame:
    """The supervised frame with its era-aware ``fold`` column: the one
    CV frame of the tuning and importance queries. The era domain is
    static (era = vec_id % 20), so the fold map is driver metadata and
    building the frame runs no job."""
    # imported on call: importing operators.cv registers its queries,
    # which would move them ahead of the registry's load order
    from .operators.cv import kfold_era

    return kfold_era(supervised_frame(spark, sf_dir), "era", k, eras=list(ERA_DOMAIN))


def coef_frame(spark: SparkSession, models: dict[tuple, np.ndarray], keys: list[str]) -> DataFrame:
    """Small (*keys, intercept, weights array) frame for broadcast join.
    ``models`` maps a key tuple to its coefficients (intercept first);
    ``keys`` holds the DDL of the key columns, e.g. ``["fold int"]``."""
    rows = [(*key, float(c[0]), [float(w) for w in c[1:]]) for key, c in models.items()]
    return local_frame(spark, rows, ", ".join([*keys, "intercept double", "weights array<double>"]))


def with_prediction(df: DataFrame, coefs: DataFrame) -> DataFrame:
    """Join the coefficient rows (broadcast) on the key columns ``df``
    carries and add ``pred`` = intercept + features·weights; a key
    ``df`` lacks (a λ grid's param) scores every row once per value.
    Scoring stays entirely JVM-side."""
    on = [c for c in coefs.columns if c in df.columns]
    dot = F.aggregate(
        F.zip_with(F.col("features"), F.col("weights"), lambda x, w: x * w),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    out = df.join(F.broadcast(coefs), on)
    return out.withColumn("pred", F.col("intercept") + dot).drop("intercept", "weights")


def fit_predict(folded: DataFrame, lam: float = 1.0) -> DataFrame:
    """metrics.fit_predict per fold (metrics.py:34-42): the per-fold
    (spearman, quartic) table of leave-one-fold-out ridge models over a
    frame carrying (vec_id, era, fold, features, y). One stats pass +
    one scoring pass."""
    models = fit_fold_models(fold_suffstats(folded), lam)
    coefs = coef_frame(folded.sparkSession, {(g,): c for g, c in models.items()}, ["fold int"])
    return score_by_group(with_prediction(folded, coefs), ["fold"])  # fold = held-out fold


# ------------------------------------------------------------- scoring

def score_by_group(
    scored: DataFrame, group: list[str], era: str = "era", key: str = "vec_id"
) -> DataFrame:
    """Per-group (M1 era-Spearman, M2 quartic) from (y, pred) rows —
    the reference's fit_predict result pair (metrics.py:34-42)."""
    ranked = scored.withColumn("pred_rank", pct_rank_first([*group, era], "pred", key))
    return ranked.groupBy(*group).agg(
        F.round(corr_safe("y", "pred_rank"), 6).alias("spearman"),
        F.round(F.avg(F.pow(F.col("y") - F.col("pred"), 4)), 6).alias("quartic"),
    )


def logistic_irls(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    iters: int = 6,
    lam: float = 1e-6,
    ridge: float = 0.0,
    clip_logit: float | None = None,
) -> np.ndarray:
    """Distributed logistic regression by IRLS/Newton.

    Per iteration: ONE :func:`sum_partials` pass computes per-partition
    partial [Hessian | gradient | n] (numpy batch math — X'WX with
    W = p(1-p), X'(y-p)) against the current β, which travels in the
    partial's closure, and the driver solves the (d+1)×(d+1) Newton
    step. Driver state: β only. The classification twin of the
    suffstats ridge — same merge, iterated because the logistic MLE
    has no closed form.

    ``ridge`` adds an L2 penalty to BOTH gradient and Hessian (a real
    regularizer — keeps β bounded when classes are linearly separable,
    where the unpenalized MLE diverges); the intercept is exempt from
    the penalty, per standard L2-logistic convention. ``lam`` stays
    the tiny solve-jitter it always was. ``clip_logit`` clamps Xβ before the
    sigmoid so exp() cannot overflow once separation drives logits
    large — callers recomputing scores (cls2's numpy parity) must clamp
    identically."""
    d1 = len(feature_cols) + 1
    width = d1 * d1 + d1 + 1
    rows = df.select(*feature_cols, label_col)
    beta = np.zeros(d1)
    for _ in range(iters):

        def partial(batches, b=beta):
            H = np.zeros((d1, d1))
            g = np.zeros(d1)
            n = 0.0
            for rb in batches:
                if not rb.num_rows:
                    continue
                X = np.column_stack(
                    [np.ones(rb.num_rows)]
                    + [np.asarray(rb.column(c).to_numpy(zero_copy_only=False), dtype=float)
                       for c in feature_cols]
                )
                y = np.asarray(rb.column(label_col).to_numpy(zero_copy_only=False), dtype=float)
                z = X @ b
                if clip_logit is not None:
                    z = np.clip(z, -clip_logit, clip_logit)
                p = 1.0 / (1.0 + np.exp(-z))
                w = p * (1.0 - p)
                H += X.T @ (X * w[:, None])
                g += X.T @ (y - p)
                n += rb.num_rows
            return {(): np.concatenate([H.ravel(), g, [n]])} if n else {}

        flat = sum_partials(rows, partial).get((), np.zeros(width))
        H = flat[: d1 * d1].reshape(d1, d1)
        g = flat[d1 * d1 : -1]
        if ridge:
            # Standard L2-logistic: penalize the weights, NOT the
            # intercept (column 0 of the bias-augmented design) — a
            # penalized intercept biases the fitted base rate toward
            # p=0.5 on imbalanced data.
            R = ridge * np.eye(d1)
            R[0, 0] = 0.0
            H = H + R
            g = g - R @ beta
        beta = beta + np.linalg.solve(H + lam * np.eye(d1), g)
    return beta
