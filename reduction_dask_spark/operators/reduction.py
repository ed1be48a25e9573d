"""Dimensionality-reduction transform operators (SURVEY.md §2.13
T3/T4/T7, §2.14).

The reference's pattern (utils.py:132-167 fit_transform_dask;
tuners.py:255-373 chunked variant): fit the reducer on a driver-side
subsample, then transform the full matrix in parallel splits. That IS
Spark's native model: fit on `limit(n).toPandas()`, broadcast the
fitted components, transform via expressions or mapInPandas — the
chunking the reference hand-codes is free (partitions), and the
memory choreography of T6 (psutil gather, tuners.py:673-705) is
subsumed by lazy pipelining + spill.

Every subsample fit here takes one path: :func:`head_sample` collects
the pinned head, :func:`fit_embedder` maps (head, kernel, width) to a
numpy embed fn, and :func:`_oos_transform` runs that fn over the full
table. sklearn/umap kernels from §2.14 would plug into the dispatch
unchanged — the operator is the *pattern*, the kernel is swappable
(the reference ships them as arbitrary pickled estimators).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..ml import (
    DIM,
    ERA_DOMAIN,
    arrow_matrix,
    coef_frame,
    fit_fold_models,
    score_by_group,
    split_suffstats,
    suffstat_vector,
    sum_partials,
    supervised_frame,
    with_prediction,
)
from ..registry import query
from ..session import local_frame
from .cv import kfold_era
from .text import QUALITY_OF_TOKS_SQL

FIT_ROWS = 200
N_COMPONENTS = 2
SEED = 42
LMDS_LANDMARKS = 100


def head_sample(df: DataFrame) -> np.ndarray:
    """The pinned head every subsample fit reads (utils.py:151
    `train_x[:num_fit_rows]`): the first max(FIT_ROWS, LMDS_LANDMARKS)
    rows of a supervised frame by vec_id, as a float64 matrix. PCA
    fits on its first FIT_ROWS rows, the landmark kernels on its first
    LMDS_LANDMARKS. orderBy+limit plans a TakeOrderedAndProject
    (partial per-partition top-k), not a single-partition global
    row_number."""
    head = (
        df.orderBy("vec_id")
        .limit(max(FIT_ROWS, LMDS_LANDMARKS))
        .select("features")
        .toPandas()
    )
    return np.stack(head["features"].to_numpy()).astype(np.float64)


def _pin_signs(V: np.ndarray) -> np.ndarray:
    """Deterministic eigenvector sign, in place: flip each column of V
    so its largest-|loading| coordinate is positive. Returns V."""
    for i in range(V.shape[1]):
        j = int(np.argmax(np.abs(V[:, i])))
        if V[j, i] < 0:
            V[:, i] = -V[:, i]
    return V


def _fit_pca_math(X: np.ndarray, n_components: int):
    """Driver-side PCA fit math on an already-collected subsample."""
    mu = X.mean(axis=0)
    _, _, vt = np.linalg.svd(X - mu, full_matrices=False)
    comps = vt[:n_components]
    comps = _pin_signs(comps.T).T
    return mu, comps


def fit_pca(spark: SparkSession, sf_dir: str, n_components: int):
    """T7 phase 1: fit on the pinned head subsample, driver-side.
    Returns (mean, components)."""
    H = head_sample(supervised_frame(spark, sf_dir))
    return _fit_pca_math(H[:FIT_ROWS], n_components)


def pca_embed_fn(mu: np.ndarray, comps: np.ndarray):
    """Numpy PCA embed for the _oos_transform shell. Accumulates the
    projection LEFT-TO-RIGHT per feature — the identical IEEE-double
    op sequence as pca_transform's zip_with/aggregate fold — so the
    sweep's PCA configs equal t7's projection bit-for-bit."""
    biases = np.array([float(mu @ c) for c in comps])

    def embed(X: np.ndarray) -> np.ndarray:
        Y = np.empty((len(X), len(comps)))
        for i, c in enumerate(comps):
            acc = np.zeros(len(X))
            for d in range(X.shape[1]):
                acc = acc + X[:, d] * c[d]
            Y[:, i] = acc - biases[i]
        return Y

    return embed


def pca_transform(df: DataFrame, mu: np.ndarray, comps: np.ndarray) -> DataFrame:
    """T7 phase 2: distributed transform as pure zip_with expressions —
    one projection column per component, JVM-side, no Python. The
    broadcast is the literal coefficient arrays in the plan."""
    out = df
    for i, comp in enumerate(comps):
        carr = F.array(*[F.lit(float(c)) for c in comp])
        centered_dot = F.aggregate(
            F.zip_with(F.col("features"), carr, lambda x, c: x * c),
            F.lit(0.0),
            lambda a, x: a + x,
        ) - F.lit(float(mu @ comp))
        out = out.withColumn(f"pc{i + 1}", F.round(centered_dot, 6))
    return out


@query(
    "t7_fit_transform_pca",
    oracle=None,
    doc="T7 fit_transform_dask (utils.py:132-167): PCA fit on a pinned "
        "head subsample, distributed transform of the full table via "
        "broadcast component expressions. T4's chunked variant "
        "(tuners.py:255-373) is the same plan — partitions are the "
        "chunks.",
    tags=("reduction", "ml"),
)
def t7_fit_transform_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    mu, comps = fit_pca(spark, sf_dir, N_COMPONENTS)
    df = supervised_frame(spark, sf_dir)
    return pca_transform(df, mu, comps).select("vec_id", "pc1", "pc2")


# ------------------------------------ nonlinear kernel: landmark MDS
#
# The reference sweeps nonlinear reducers (Isomap/LLE/KernelPCA/UMAP,
# tuners.py:149-373) as pickled sklearn estimators. The Spark-first
# equivalent of that kernel family is landmark (Nyström) classical MDS:
# fit = an L×L distance eigenproblem on a bounded landmark subsample
# (driver-side, like the reference's subsample fit, utils.py:151), and
# the out-of-sample transform is y(x) = ½·VΛ^(-1/2)ᵀ(δ̄ − δ(x)) — per
# row, distances to L landmarks then a k×L matmul, computed in an
# Arrow-batched mapInPandas with the landmark matrix broadcast by
# closure. The distance is squared L1, so the embedding is NOT a
# linear projection of the features (a genuine nonlinear kernel, not
# PCA in disguise).


def _pairwise_sq(metric: str, A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Squared pairwise distances (|A| × |B|) for the given metric."""
    if metric == "l1":
        d = np.abs(A[:, None, :] - B[None, :, :]).sum(axis=2)
        return d * d
    if metric == "l2":
        aa = (A * A).sum(1)[:, None]
        bb = (B * B).sum(1)[None, :]
        return np.maximum(aa + bb - 2.0 * (A @ B.T), 0.0)
    raise ValueError(f"unknown metric: {metric}")


def _cmds_from_sq(D: np.ndarray, n_components: int):
    """Classical-MDS eigenblock shared by landmark MDS and Isomap:
    double-center the squared-distance matrix, top eigenpairs,
    deterministic sign, VΛ^(-1/2). Returns (δ̄ column means, pseudo)."""
    n = len(D)
    J = np.eye(n) - np.full((n, n), 1.0 / n)
    B = -0.5 * J @ D @ J
    vals, vecs = np.linalg.eigh(B)
    order = np.argsort(vals)[::-1][:n_components]
    vals, vecs = vals[order], vecs[:, order]
    vals = np.maximum(vals, 1e-12)
    _pin_signs(vecs)
    pseudo = vecs / np.sqrt(vals)  # L×k, the VΛ^(-1/2) out-of-sample map
    return D.mean(axis=0), pseudo


def lmds_embed_fn(
    landmarks: np.ndarray, delta_mean: np.ndarray, pseudo: np.ndarray, delta_fn=None,
):
    """Numpy Nyström out-of-sample embed: per Arrow batch, squared
    distances to the L landmarks + one (n×L)·(L×k) matmul. Only the
    KB-sized landmark matrix ships to executors. ``delta_fn``
    overrides the squared-distance computation (Isomap passes the
    graph-geodesic version); default is squared L1."""

    def embed(X: np.ndarray) -> np.ndarray:
        delta = delta_fn(X) if delta_fn is not None else _pairwise_sq("l1", X, landmarks)
        return 0.5 * (delta_mean[None, :] - delta) @ pseudo

    return embed


@query(
    "t9_landmark_mds",
    oracle=None,
    doc="t9 nonlinear DR: landmark (Nyström) classical MDS on squared-"
        "L1 distances — the reference's nonlinear-reducer slot "
        "(Isomap/LLE/KernelPCA, tuners.py:149-373) on the subsample-"
        "fit + distributed-out-of-sample pattern. Fit: L×L landmark "
        "eigenproblem driver-side; transform: mapInPandas batches "
        "against the broadcast landmark matrix.",
    tags=("reduction", "ml"),
)
def t9_landmark_mds(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = supervised_frame(spark, sf_dir)
    embed = fit_embedder(head_sample(df), "lmds_l1", N_COMPONENTS)
    return _oos_transform(df, embed, N_COMPONENTS)


# --------------------------------- geodesic kernel: landmark Isomap
#
# The reference's headline distributed transform is Isomap (nb cells
# 56-68, tuners.py:149-373): a kNN graph over the landmarks,
# shortest-path geodesics, then the SAME classical-MDS eigenproblem as
# landmark MDS on the squared geodesic matrix.

ISOMAP_KNN = 8


def _geodesic_matrix(L: np.ndarray, knn: int = ISOMAP_KNN) -> np.ndarray:
    """L×L graph-geodesic distances over the landmark set: symmetrized
    Euclidean kNN graph + Floyd-Warshall min-plus closure (L=100 ⇒
    driver milliseconds). Disconnected components — possible at small
    knn — are bridged at 2× the max finite geodesic so the MDS stays
    finite (sklearn errors instead; a bounded bridge keeps the sweep's
    status column clean)."""
    d = np.sqrt(_pairwise_sq("l2", L, L))
    n = len(L)
    W = np.full((n, n), np.inf)
    np.fill_diagonal(W, 0.0)
    nn = np.argsort(d, axis=1)[:, 1 : knn + 1]
    for i in range(n):
        W[i, nn[i]] = d[i, nn[i]]
        W[nn[i], i] = d[i, nn[i]]
    for m in range(n):
        W = np.minimum(W, W[:, m : m + 1] + W[m : m + 1, :])
    if np.isinf(W).any():
        fin = W[np.isfinite(W)].max()
        W[np.isinf(W)] = 2.0 * fin
    return W


def geodesic_delta_fn(landmarks: np.ndarray, G: np.ndarray):
    """Out-of-sample squared geodesics for lmds_embed_fn: the standard
    landmark-Isomap extension d_geo(x, l) = min_j (‖x − L_j‖ + G[j, l])
    — an (n×L) ⊗ (L×L) min-plus product, evaluated as L rank-1 minima
    so batch memory stays n×L."""

    def delta(X: np.ndarray) -> np.ndarray:
        e = np.sqrt(_pairwise_sq("l2", X, landmarks))
        geo = np.full_like(e, np.inf)
        for j in range(len(landmarks)):
            np.minimum(geo, e[:, j : j + 1] + G[j : j + 1, :], out=geo)
        return geo * geo

    return delta


@query(
    "t9b_landmark_isomap",
    oracle=None,
    doc="t9b geodesic DR — landmark Isomap on t9's subsample-fit / "
        "broadcast / distributed-transform path, matching the "
        "reference's actual Isomap workload (nb cells 56-68 → 201 s; "
        "tuners.py:149-373): kNN graph over the landmarks, Floyd-"
        "Warshall geodesics, classical-MDS eigenproblem (driver-side "
        "L×L), then a mapInPandas out-of-sample transform where each "
        "row's geodesic to every landmark is the min-plus extension "
        "min_j(‖x−L_j‖ + G[j,l]) — only the KB-sized (landmarks, G) "
        "pair ships to executors, nothing scales with rows but the "
        "scan.",
    tags=("reduction", "ml"),
)
def t9b_landmark_isomap(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = supervised_frame(spark, sf_dir)
    embed = fit_embedder(head_sample(df), "lisomap_l2", N_COMPONENTS)
    return _oos_transform(df, embed, N_COMPONENTS)


# --------------------------- local-linear kernel: landmark LLE

LLE_KNN = 8
LLE_REG = 1e-3  # Gram ridge, scaled by trace — the standard LLE conditioner


def _lle_local_weights(Z: np.ndarray) -> np.ndarray:
    """Solve one LLE neighborhood: Z = (neighbors − x) k×d, returns the
    sum-to-one reconstruction weights from the regularized local Gram
    system Gw = 1 (Roweis & Saul; ridge = REG·tr(G) keeps the solve
    well-posed when k > d or neighbors are collinear)."""
    G = Z @ Z.T
    tr = np.trace(G)
    G = G + np.eye(len(Z)) * (LLE_REG * tr if tr > 0 else LLE_REG)
    w = np.linalg.solve(G, np.ones(len(Z)))
    return w / w.sum()


def _fit_llle_math(L: np.ndarray, n_components: int) -> np.ndarray:
    """Landmark LLE fit — the last buildable reference DR family
    (LocallyLinearEmbedding sweeps, nb cells 69-79; tuners.py:149-373
    takes any reducer): solve each landmark's local reconstruction
    weights over its LLE_KNN neighbors, then take the bottom
    non-constant eigenvectors of M = (I−W)ᵀ(I−W) as the landmark
    embedding Y (L×k). All O(L²)–O(L³) work is driver-side on the
    bounded subsample."""
    n = len(L)
    d = np.sqrt(_pairwise_sq("l2", L, L))
    nn = np.argsort(d, axis=1)[:, 1 : LLE_KNN + 1]
    W = np.zeros((n, n))
    for i in range(n):
        W[i, nn[i]] = _lle_local_weights(L[nn[i]] - L[i])
    IW = np.eye(n) - W
    M = IW.T @ IW
    vals, vecs = np.linalg.eigh(M)
    # ascending eigh order: index 0 is the constant mode (val ≈ 0);
    # the embedding is the next n_components eigenvectors, scaled by
    # sqrt(n) (unit-covariance convention)
    return _pin_signs(vecs[:, 1 : n_components + 1] * np.sqrt(n))


def lle_embed_fn(landmarks: np.ndarray, Y: np.ndarray):
    """Numpy LLE out-of-sample extension (Saul & Roweis 2003): each row
    finds its LLE_KNN nearest LANDMARKS, solves the same regularized
    local Gram system for reconstruction weights, and embeds as the
    weight-combination of the landmark embedding y(x) = Σ_j w_j·Y[j].
    Per-row cost is one k×k solve."""
    k = Y.shape[1]

    def embed(X: np.ndarray) -> np.ndarray:
        d2 = _pairwise_sq("l2", X, landmarks)
        idx = np.argsort(d2, axis=1)[:, :LLE_KNN]
        out_y = np.empty((len(X), k))
        for r in range(len(X)):
            w = _lle_local_weights(landmarks[idx[r]] - X[r])
            out_y[r] = w @ Y[idx[r]]
        return out_y

    return embed


@query(
    "t9c_landmark_lle",
    oracle=None,
    doc="t9c locally-linear embedding — landmark LLE on t9's "
        "subsample-fit / broadcast / distributed-transform path, "
        "closing the reference's LocallyLinearEmbedding sweep slot "
        "(nb cells 69-79; tuners.py:149-373): local kNN Gram solves "
        "for reconstruction weights on the landmark set, bottom "
        "non-constant eigenvectors of (I−W)ᵀ(I−W) driver-side, then "
        "a mapInPandas out-of-sample transform where each row solves "
        "ITS OWN k×k local Gram against the broadcast landmarks and "
        "embeds as the weighted landmark-embedding combination — the "
        "standard LLE extension, per-row O(knn³) with knn=8, nothing "
        "scaling with corpus size but the scan.",
    tags=("reduction", "ml"),
)
def t9c_landmark_lle(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = supervised_frame(spark, sf_dir)
    embed = fit_embedder(head_sample(df), "llle_l2", N_COMPONENTS)
    return _oos_transform(df, embed, N_COMPONENTS)


# ------------------------------- shared out-of-sample mapper shell


def _oos_transform(df: DataFrame, embed_fn, k: int) -> DataFrame:
    """Shared distributed out-of-sample shell for landmark kernels:
    one mapInPandas pass where ``embed_fn`` maps an Arrow batch's
    feature matrix (n×d) to embedding coordinates (n×k). The closure
    captures only the KB-sized fitted landmark state; nothing scales
    with corpus size but the scan. Supervision columns pass through
    to avoid a join back onto the source frame in the sweep path."""
    import pandas as pd

    cols = [f"mc{i + 1}" for i in range(k)]
    passthrough = [c for c in ("era", "y") if c in df.columns]
    pass_types = {"era": "int", "y": "double"}

    def mapper(batches):
        for pdf in batches:
            if not len(pdf):  # np.stack raises on zero arrays
                continue
            X = np.stack(pdf["features"].to_numpy()).astype(np.float64)
            Y = embed_fn(X)
            out = pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy()})
            for p in passthrough:
                out[p] = pdf[p].to_numpy()
            for i, c in enumerate(cols):
                out[c] = np.round(Y[:, i], 6)
            yield out

    schema = ", ".join(
        ["vec_id long"]
        + [f"{p} {pass_types[p]}" for p in passthrough]
        + [f"{c} double" for c in cols]
    )
    return df.mapInPandas(mapper, schema=schema)


# ----------------------- RBF kernel-PCA kernel: Nyström landmark KPCA


def _rbf_gamma(L: np.ndarray) -> float:
    """The 'scale' bandwidth heuristic: γ = 1/(d · Var(L)) — the
    common default that keeps exp(−γ‖·‖²) responsive at the data's
    own length scale regardless of feature count or units."""
    v = float(L.var())
    return 1.0 / (L.shape[1] * v) if v > 0 else 1.0


def _fit_lkpca_math(L: np.ndarray, n_components: int):
    """Nyström landmark KernelPCA fit — the reference's KernelPCA sweep
    slot (nb cells 80-90; tuners.py:149-373 accepts any reducer): RBF
    kernel matrix over the landmark set, double-centering (Schölkopf's
    K̃ = JKJ), driver eigensolve, α = VΛ^(−1/2) as the out-of-sample
    projection of centered kernel vectors. Returns (γ, column means of
    K, grand mean of K, α)."""
    gamma = _rbf_gamma(L)
    K = np.exp(-gamma * _pairwise_sq("l2", L, L))
    n = len(L)
    J = np.eye(n) - np.full((n, n), 1.0 / n)
    Kc = J @ K @ J
    vals, vecs = np.linalg.eigh(Kc)
    order = np.argsort(vals)[::-1][:n_components]
    vals, vecs = vals[order], vecs[:, order]
    vals = np.maximum(vals, 1e-12)
    _pin_signs(vecs)
    alpha = vecs / np.sqrt(vals)
    return gamma, K.mean(axis=0), float(K.mean()), alpha


def kpca_embed_fn(
    landmarks: np.ndarray,
    gamma: float,
    k_colmean: np.ndarray,
    k_grandmean: float,
    alpha: np.ndarray,
):
    """Out-of-sample KPCA projection for _oos_transform: kernel vector
    k(x) to every landmark, the standard test-point centering
    k̃(x)_l = k(x)_l − mean_j k(x)_j − colmean_K[l] + grandmean_K,
    then one (n×L)·(L×k) matmul against α. A landmark projects to its
    own training embedding √λ·v (the invariant the parity test pins)."""

    def embed(X: np.ndarray) -> np.ndarray:
        kx = np.exp(-gamma * _pairwise_sq("l2", X, landmarks))
        kc = kx - kx.mean(axis=1, keepdims=True) - k_colmean[None, :] + k_grandmean
        return kc @ alpha

    return embed


@query(
    "t9d_landmark_kpca",
    oracle=None,
    doc="t9d RBF kernel-PCA — Nyström landmark KPCA on t9's "
        "subsample-fit / broadcast / distributed-transform path, "
        "closing the reference's KernelPCA sweep slot (nb cells "
        "80-90; tuners.py:149-373): RBF landmark kernel matrix with "
        "the 1/(d·var) scale bandwidth, double-centering, driver "
        "eigensolve on the bounded L×L problem, then a mapInPandas "
        "out-of-sample transform projecting each row's centered "
        "kernel vector through α = VΛ^(−1/2) — only the KB-sized "
        "(landmarks, γ, K means, α) state ships to executors, "
        "nothing scales with corpus size but the scan.",
    tags=("reduction", "ml"),
)
def t9d_landmark_kpca(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = supervised_frame(spark, sf_dir)
    embed = fit_embedder(head_sample(df), "lkpca_rbf", N_COMPONENTS)
    return _oos_transform(df, embed, N_COMPONENTS)


# ------- neighbor-graph kernel: landmark spectral embedding (UMAP slot)

SPEC_KNN = 8


def _fit_lspectral_math(L: np.ndarray, n_components: int):
    """Landmark spectral embedding (Laplacian eigenmaps) — the honest
    buildable stand-in for the reference's UMAP sweep (nb cells
    104-114; the umap package is container-absent, documented in
    ROADMAP.md): UMAP-SHAPED (a kNN-graph embedding judged by the
    same coranking trust column), not UMAP. Fit: symmetrized kNN
    graph over the landmark set with heat-kernel weights at the
    median-kNN-distance bandwidth, normalized Laplacian
    L_sym = I − D^(−1/2) W D^(−1/2), bottom non-constant eigenvectors
    mapped back through D^(−1/2) (the generalized eigenproblem
    Lu = λDu), unit-norm·√n scaling like LLE. Returns (σ, Y landmark
    embedding)."""
    n = len(L)
    d = np.sqrt(_pairwise_sq("l2", L, L))
    nn = np.argsort(d, axis=1)[:, 1 : SPEC_KNN + 1]
    sigma = float(np.median(d[np.arange(n)[:, None], nn]))
    sigma = sigma if sigma > 0 else 1.0
    W = np.zeros((n, n))
    for i in range(n):
        w = np.exp(-(d[i, nn[i]] ** 2) / (2.0 * sigma * sigma))
        W[i, nn[i]] = np.maximum(W[i, nn[i]], w)
        W[nn[i], i] = np.maximum(W[nn[i], i], w)
    deg = np.maximum(W.sum(axis=1), 1e-12)
    dinv = 1.0 / np.sqrt(deg)
    Lsym = np.eye(n) - (W * dinv[:, None]) * dinv[None, :]
    vals, vecs = np.linalg.eigh(Lsym)
    # ascending order: index 0 is the constant mode (λ ≈ 0); map the
    # next n_components back through D^(−1/2) to generalized
    # eigenvectors, then normalize each to ‖·‖=√n
    U = vecs[:, 1 : n_components + 1] * dinv[:, None]
    U = U / np.linalg.norm(U, axis=0) * np.sqrt(n)
    return sigma, _pin_signs(U)


def spectral_embed_fn(landmarks: np.ndarray, sigma: float, Y: np.ndarray):
    """Out-of-sample extension for _oos_transform: each row embeds as
    the heat-kernel-affinity-weighted average of its SPEC_KNN nearest
    landmarks' embeddings — the same neighbor-interpolation UMAP's
    transform() performs, and the natural extension for an
    affinity-graph embedding. Per-row cost O(L) distances + O(knn·k);
    a landmark's own kNN set contains itself at weight 1, so landmarks
    land near their fitted coordinates."""

    def embed(X: np.ndarray) -> np.ndarray:
        d2 = _pairwise_sq("l2", X, landmarks)
        idx = np.argsort(d2, axis=1)[:, :SPEC_KNN]
        rows = np.arange(len(X))[:, None]
        a = np.exp(-d2[rows, idx] / (2.0 * sigma * sigma))
        a = a / np.maximum(a.sum(axis=1, keepdims=True), 1e-300)
        return np.einsum("nk,nkc->nc", a, Y[idx])

    return embed


@query(
    "t9e_spectral_embedding",
    oracle=None,
    doc="t9e neighbor-graph embedding (UMAP slot) — landmark "
        "Laplacian eigenmaps on t9's subsample-fit / broadcast / "
        "distributed-transform path, standing in for the reference's "
        "UMAP sweep (nb cells 104-114; umap is container-absent): "
        "heat-kernel kNN graph over the landmarks, normalized-"
        "Laplacian eigensolve driver-side, out-of-sample rows embed "
        "as the affinity-weighted average of their kNN landmarks' "
        "coordinates (the same neighbor interpolation umap.transform "
        "performs). UMAP-shaped, not UMAP — judged by the same "
        "coranking trust_mean column as every other kernel.",
    tags=("reduction", "ml"),
)
def t9e_spectral_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = supervised_frame(spark, sf_dir)
    embed = fit_embedder(head_sample(df), "lspec_l2", N_COMPONENTS)
    return _oos_transform(df, embed, N_COMPONENTS)


# --------------------------------------------- the one kernel dispatch


def fit_embedder(H: np.ndarray, kernel: str, nc: int):
    """Driver-side fit of one reduction kernel on the head sample H
    (:func:`head_sample`): PCA on its first FIT_ROWS rows, every
    landmark kernel on its first LMDS_LANDMARKS. Returns a numpy embed
    fn (n×d → n×nc) closing over only KB-sized fitted state — the fn
    t9–t9e run through :func:`_oos_transform` and the t3 sweep runs
    per config."""
    L = H[:LMDS_LANDMARKS]
    if kernel == "pca":
        return pca_embed_fn(*_fit_pca_math(H[:FIT_ROWS], nc))
    if kernel == "lmds_l1":
        return lmds_embed_fn(L, *_cmds_from_sq(_pairwise_sq("l1", L, L), nc))
    if kernel == "lisomap_l2":
        G = _geodesic_matrix(L)
        return lmds_embed_fn(L, *_cmds_from_sq(G * G, nc), delta_fn=geodesic_delta_fn(L, G))
    if kernel == "llle_l2":
        return lle_embed_fn(L, _fit_llle_math(L, nc))
    if kernel == "lkpca_rbf":
        return kpca_embed_fn(L, *_fit_lkpca_math(L, nc))
    if kernel == "lspec_l2":
        return spectral_embed_fn(L, *_fit_lspectral_math(L, nc))
    raise ValueError(f"unknown reduction kernel: {kernel}")


SWEEP_CONFIGS = (
    ("pca", 2), ("pca", 4), ("pca", 8), ("pca", 16),
    ("lmds_l1", 2), ("lmds_l1", 4),
    ("lisomap_l2", 2), ("lisomap_l2", 4),
    ("llle_l2", 2), ("llle_l2", 4),
    ("lkpca_rbf", 2), ("lkpca_rbf", 4),
    ("lspec_l2", 2), ("lspec_l2", 4),
)
SWEEP_LAM = 1.0  # ridge penalty of each config's era-CV model
SWEEP_FOLDS = 5


def reduction_sweep_batched(
    spark: SparkSession, sf_dir: str, configs=SWEEP_CONFIGS
) -> DataFrame:
    """T3 tune_reduction_dask (tuners.py:149-252): sweep reducer KERNEL
    × n_components; per config: transform → era-CV ridge fit/score →
    coranking trust. Failed configs get a status column, not index
    bookkeeping (the reference drops Nones with positional arithmetic,
    tuners.py:219-248). Planned as ~6 Spark jobs, not a per-config
    driver loop of ~70; the per-config loop survives as the reference
    of tests/test_ml.py::test_sweep_batched_matches_loop, which pins
    the two equal. The batching:

    1. ONE head collect serves every fit — all 14 fits are driver
       math on slices of the same :func:`head_sample`.
    2. ONE mapInPandas pass computes ALL embeddings (wide: one
       array<double> column per config, np.round(·,6) exactly like
       _oos_transform), fold column attached by the broadcast
       era→fold map, then ONE barrier() materialization — 14
       transform scans → 1, and downstream consumers read the
       checkpointed blocks.
    3. ONE suffstats pass accumulates every (config, fold) ridge
       XtX/Xty partial per partition (cfg-varying widths), added in
       partition order by ml.sum_partials.
    4. ONE scoring job: union the per-config embedding slices off the
       barrier leaf into long format, broadcast-join the (cfg, fold)
       LOFO coefficients, rank/score per (cfg, fold, era) in one
       window — identical float path to score_by_group per config.
    5. ONE trust job: the ORIGINAL-space anchor ranking (the
       dominant cost — 64-d distances over anchors×corpus + a full
       rank window) is computed ONCE and shared by all configs
       (a per-config loop recomputes it 14×); embedded ranks use the
       rank<=k filter Spark rewrites into WindowGroupLimit (map-side
       top-k, no full sort), and only the ~configs×anchors×k
       surviving intrusion candidates broadcast-join back onto the
       original ranking. k is TW_K, tw1's neighborhood.

    100 TB shape: nothing new materializes per config — one corpus
    scan feeds everything; the barrier stores (ids, fold, y, Σnc≈60
    doubles); trust stays O(anchors·n) with a fixed anchor cap."""
    import pandas as pd

    from ..caching import barrier
    from .similarity import QUERY_CAP, QUERY_MOD
    from .similarity import dot as vdot

    base = supervised_frame(spark, sf_dir)
    H = head_sample(base)

    embedders: list[tuple[int, str, int]] = []  # (cfg_idx, kernel, nc)
    fns: dict[int, object] = {}
    status: dict[int, str] = {}
    for i, (kernel, nc) in enumerate(configs):
        try:
            fns[i] = fit_embedder(H, kernel, nc)
            embedders.append((i, kernel, nc))
        except Exception as e:  # status column instead of dropped index
            status[i] = f"error: {type(e).__name__}"

    schema_rs = (
        "kernel string, n_components int, spearman_mean double, "
        "quartic_mean double, trust_mean double, status string"
    )

    def status_only():  # every config demoted — one shape for both exits
        return local_frame(
            spark,
            [(kern, int(nc), None, None, None, status[i])
             for i, (kern, nc) in enumerate(configs)],
            schema_rs,
        )

    if not embedders:
        return status_only()

    # ---- 2. one transform pass → wide frame, one barrier
    live = list(embedders)
    live_fns = {i: fns[i] for i, _, _ in live}

    def transform_mapper(batches):
        # EXECUTOR-side failures are isolated PER CONFIG (r12 ADVICE,
        # medium): all embed fns share this one mapInPandas job, so
        # without the try/except a single bad config would abort the
        # whole batch — the loop this replaces caught per-config
        # runtime errors and emitted 'error:' status rows instead.
        # On failure the config's embedding column goes null and its
        # err{i} column carries the type name; a post-barrier agg
        # demotes the config to a status row.
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["features"].to_numpy()).astype(np.float64)
            out = pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "era": pdf["era"].to_numpy(),
                    "y": pdf["y"].to_numpy(),
                }
            )
            for i, _, _ in live:
                try:
                    out[f"e{i}"] = list(np.round(live_fns[i](X), 6))
                    out[f"err{i}"] = None
                except Exception as e:
                    out[f"e{i}"] = None
                    out[f"err{i}"] = f"error: {type(e).__name__}"
            yield out

    wide_schema = "vec_id long, era int, y double, " + ", ".join(
        f"e{i} array<double>, err{i} string" for i, _, _ in live
    )
    wide = base.mapInPandas(transform_mapper, schema=wide_schema)
    # era domain is static metadata (era = vec_id % 20, ml.py) — the
    # same map kfold_era would derive from a distinct scan
    wide = kfold_era(wide, "era", k=SWEEP_FOLDS, eras=list(ERA_DOMAIN))
    wide = barrier(wide)

    # demote configs whose embed failed on ANY partition (one tiny
    # agg over the checkpointed barrier blocks); remaining stages run
    # on the surviving configs only, like the loop path's per-config
    # except
    errs = wide.select(
        *[F.max(f"err{i}").alias(f"err{i}") for i, _, _ in live]
    ).first()
    failed = {i: errs[f"err{i}"] for i, _, _ in live if errs[f"err{i}"] is not None}
    if failed:
        status.update(failed)
        live = [(i, kern, nc) for i, kern, nc in live if i not in failed]
        if not live:
            return status_only()

    # ---- 3. one suffstats pass over every surviving config
    ncs = {i: nc for i, _, nc in live}

    def suff_partial(batches):
        acc: dict[tuple[int, int], np.ndarray] = {}
        for rb in batches:
            folds = rb.column("fold").to_numpy(zero_copy_only=False)
            y = np.asarray(rb.column("y").to_numpy(zero_copy_only=False), dtype=np.float64)
            ones = np.ones((len(y), 1))
            X1s = {i: np.hstack([ones, arrow_matrix(rb.column(f"e{i}"), nc)]) for i, nc in ncs.items()}
            for fold in np.unique(folds):
                m = folds == fold
                for i in ncs:
                    key = (i, int(fold))
                    acc[key] = acc.get(key, 0.0) + suffstat_vector(X1s[i][m], y[m])
        return acc

    sums = sum_partials(wide.select("fold", "y", *[f"e{i}" for i in ncs]), suff_partial)
    stats: dict[int, dict[int, tuple[np.ndarray, np.ndarray, float]]] = {i: {} for i in ncs}
    for (i, fold), flat in sums.items():
        stats[i][fold] = split_suffstats(flat, ncs[i] + 1)

    models = {
        (i, int(fold)): c
        for i, _, _ in live
        for fold, c in fit_fold_models(stats[i], SWEEP_LAM).items()
    }
    coefs = coef_frame(spark, models, ["cfg int", "fold int"])

    # ---- 4. one scoring job over the long view of the barrier leaf
    from functools import reduce as _reduce

    long = _reduce(
        DataFrame.unionByName,
        [
            wide.select(
                F.lit(i).alias("cfg"), "vec_id", "era", "fold", "y",
                F.col(f"e{i}").alias("features"),
            )
            for i, _, _ in live
        ],
    )
    scored = with_prediction(long, coefs)
    cv = {
        int(r["cfg"]): (r["s"], r["q"])
        for r in score_by_group(scored, ["cfg", "fold"])
        .groupBy("cfg")
        .agg(
            F.round(F.avg("spearman"), 6).alias("s"),
            F.round(F.avg("quartic"), 6).alias("q"),
        )
        .collect()
    }

    # ---- 5. one trust job; original-space ranking shared by configs
    n = wide.count()
    anchor = (F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP)
    feat0 = base.select(
        "vec_id",
        F.col("features").alias("vv"),
        vdot(F.col("features"), F.col("features")).alias("n2"),
    )
    q0 = feat0.filter(anchor).select(
        F.col("vec_id").alias("qid"),
        F.col("vv").alias("qv"),
        F.col("n2").alias("qn2"),
    )
    oranked = (
        F.broadcast(q0)
        .join(feat0, F.col("qid") != F.col("vec_id"))
        .select(
            "qid",
            "vec_id",
            F.round(F.col("qn2") + F.col("n2") - 2 * vdot("qv", "vv"), 5).alias("do2"),
        )
        .withColumn(
            "ro",
            F.row_number().over(Window.partitionBy("qid").orderBy("do2", "vec_id")),
        )
    )
    elong = _reduce(
        DataFrame.unionByName,
        [
            wide.select(F.lit(i).alias("cfg"), "vec_id", F.col(f"e{i}").alias("pv"))
            for i, _, _ in live
        ],
    ).withColumn("pn2", vdot(F.col("pv"), F.col("pv")))
    qe = elong.filter(anchor).select(
        "cfg",
        F.col("vec_id").alias("qid"),
        F.col("pv").alias("qp"),
        F.col("pn2").alias("qpn2"),
    )
    epairs = (
        elong.join(F.broadcast(qe), "cfg")
        .where(F.col("qid") != F.col("vec_id"))
        .select(
            "cfg", "qid", "vec_id",
            F.round(
                F.col("qpn2") + F.col("pn2") - 2 * vdot("qp", "pv"), 5
            ).alias("de2"),
        )
    )
    # rank<=k on row_number → InferWindowGroupLimit: per-partition
    # top-k before the shuffle, never a full sort of the pair relation
    topk = (
        epairs.withColumn(
            "re",
            F.row_number().over(
                Window.partitionBy("cfg", "qid").orderBy("de2", "vec_id")
            ),
        )
        .filter(F.col("re") <= TW_K)
        .select("cfg", "qid", "vec_id")
    )
    denom = float(TW_K) * (2.0 * n - 3.0 * TW_K - 1.0)
    # every (cfg, qid) keeps exactly TW_K rows in topk, so the
    # per-anchor groupBy below loses no anchors (zero-intrusion
    # anchors aggregate a zero penalty rather than vanishing)
    trust = {
        int(r["cfg"]): round(float(r["t"]), 6)
        for r in F.broadcast(topk)
        .join(oranked, ["qid", "vec_id"])
        .groupBy("cfg", "qid")
        .agg(
            F.sum(
                F.when(F.col("ro") > TW_K, F.col("ro") - TW_K).otherwise(0)
            ).alias("tpen")
        )
        .groupBy("cfg")
        .agg(F.avg(1.0 - 2.0 * F.col("tpen") / denom).alias("t"))
        .collect()
    }

    results = []
    for i, (kernel, nc) in enumerate(configs):
        if i in status:
            results.append((kernel, int(nc), None, None, None, status[i]))
        else:
            s, qv = cv.get(i, (None, None))
            results.append((kernel, int(nc), s, qv, trust.get(i), "ok"))
    return local_frame(spark, results, schema_rs)


@query(
    "t3_reduction_sweep",
    oracle=None,
    doc="T3 tune_reduction_dask sweep (tuners.py:149-252): "
        "(kernel × n_components → CV score) result table with status "
        "column for failed configs; kernels = subsample-fit PCA, "
        "landmark MDS / Isomap / LLE / RBF-KernelPCA / spectral "
        "(Laplacian eigenmaps, the UMAP slot), each row ALSO "
        "carrying trust_mean — the mean coranking trustworthiness of "
        "the produced embedding vs the original feature space (the "
        "quality judgment the reference imports for its sweeps, nb "
        "cell 2; tw1's n-D sibling on a fixed anchor batch). Runs "
        "the BATCHED plan (one transform pass / one suffstats pass / "
        "one scoring job / one shared-ranking trust job — see "
        "reduction_sweep_batched), value-identical to the per-config "
        "loop that tests/test_ml.py::test_sweep_batched_matches_loop "
        "keeps as its reference.",
    tags=("reduction", "ml"),
)
def t3_reduction_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return reduction_sweep_batched(spark, sf_dir)


def _cov_suffstats(df: DataFrame, dim: int):
    """One :func:`sum_partials` pass → (n, sum_x, sum_xxT) — the
    covariance sufficient statistics. The IncrementalPCA pattern
    (§2.14) without incrementality: partial batch moments merge by
    addition, one dim+dim²+1 vector per partition."""
    width = dim + dim * dim + 1

    def partial(batches):
        acc = {}
        for rb in batches:
            X = arrow_matrix(rb.column("features"), dim).astype(np.float64, copy=False)
            flat = acc.setdefault((), np.zeros(width))
            flat[0] += len(X)
            flat[1 : dim + 1] += X.sum(axis=0)
            flat[dim + 1 :] += (X.T @ X).ravel()
        return acc

    flat = sum_partials(df.select("features"), partial).get((), np.zeros(width))
    n = flat[0]
    mu = flat[1 : dim + 1] / n
    cov = flat[dim + 1 :].reshape(dim, dim) / n - np.outer(mu, mu)
    return n, mu, cov


def fit_pca_distributed(df: DataFrame, n_components: int):
    """T7/IncrementalPCA upgrade: exact full-data PCA from ONE
    distributed pass (covariance suffstats + driver eigendecomposition
    of the d×d matrix) — no subsample approximation, no data collect."""
    _, mu, cov = _cov_suffstats(df, DIM)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:n_components]
    return mu, _pin_signs(vecs[:, order]).T


@query(
    "t8_distributed_pca",
    oracle=None,
    doc="t8 exact full-data PCA in one distributed pass: covariance "
        "sufficient statistics via ml.sum_partials partial moments, d×d "
        "eigendecomposition on the driver, transform as broadcast "
        "expressions — the scalable upgrade over T7's subsample fit "
        "(and the reference's IncrementalPCA sweep, nb cells 93-103).",
    tags=("reduction", "ml", "bench"),
)
def t8_distributed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = supervised_frame(spark, sf_dir)
    mu, comps = fit_pca_distributed(df, N_COMPONENTS)
    return pca_transform(df, mu, comps).select("vec_id", "pc1", "pc2")


# ---------------------------------------------------------------- iso1

@query(
    "iso1_isotonic_calibration",
    # EXACT oracle despite the iterative MLlib fit (r15): labels are
    # 0/1 and weights 1, so every PAV pool mean is a small-integer
    # rational K/N — representable-and-ordered exactly in doubles
    # (distinct rationals with N <= corpus size differ by >= 1/N^2,
    # far above ulp), so the minimax characterization
    #   fitted(i) = max_{a<=i} min_{b>=i} mean(labels[a..b])
    # computed from integer prefix sums reproduces MLlib's pooled
    # averages bit-for-bit, and MLlib's (boundary, prediction) output
    # is the first+last point of each equal-fitted run (verified
    # bit-exact incl. unrounded boundaries at sf0.001/0.01/0.1).
    # O(m^2) pairs over m = distinct scores (2228 at sf0.1) — an
    # oracle-side cost only; the engine path stays one-pass PAV.
    # ORACLE SCALE CEILING (r15 ADVICE): m grows roughly with corpus
    # size, so the pair CTE is ~2.5M rows at sf0.1 but would be
    # ~2.5e8+ at sf1 — this oracle is certified for the committed
    # gate scales (<= sf0.1, tools/certify.py). If a larger-sf gate
    # is ever added, swap the minimax pair CTE for a sequential PAV
    # via recursive CTE (pool-merge per step, same integer rationals)
    # before running it there.
    oracle=f"""
        WITH d AS (
            SELECT string_split(text, ' ') AS toks,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents
        ), s AS (
            SELECT {QUALITY_OF_TOKS_SQL} AS x,
                   y
            FROM d
        ), g AS (
            SELECT x, sum(y) AS k, count(*) AS n FROM s GROUP BY x
        ), r AS (
            SELECT x,
                   row_number() OVER (ORDER BY x) AS i,
                   sum(k) OVER (ORDER BY x) AS pk,
                   sum(n) OVER (ORDER BY x) AS pn,
                   k, n
            FROM g
        ), pair AS (
            -- mean(a..b) from integer prefix sums, for every a <= b
            SELECT a.i AS a, b.i AS i,
                   (b.pk - a.pk + a.k)::DOUBLE / (b.pn - a.pn + a.n) AS mean_ab
            FROM r a JOIN r b ON b.i >= a.i
        ), rmin AS (
            -- running min per a over descending b = min over b>=i of mean(a..b)
            SELECT a, i,
                   min(mean_ab) OVER (PARTITION BY a ORDER BY i DESC) AS mn
            FROM pair
        ), fit AS (
            SELECT i, max(mn) AS fitted FROM rmin GROUP BY i
        ), runs AS (
            SELECT r.i, r.x, f.fitted,
                   CASE WHEN lag(f.fitted) OVER (ORDER BY r.i)
                        IS DISTINCT FROM f.fitted THEN 1 ELSE 0 END AS brk
            FROM r JOIN fit f USING (i)
        ), blocks AS (
            SELECT x, fitted, sum(brk) OVER (ORDER BY i) AS blk FROM runs
        ), edges AS (
            SELECT blk, any_value(fitted) AS fitted,
                   min(x) AS x_first, max(x) AS x_last, count(*) AS cnt
            FROM blocks GROUP BY blk
        ), emit AS (
            SELECT x_first AS boundary, fitted FROM edges
            UNION ALL
            SELECT x_last, fitted FROM edges WHERE cnt > 1
        )
        SELECT CAST(row_number() OVER (ORDER BY boundary) - 1 AS INTEGER) AS step,
               boundary,
               round(fitted, 6) AS calibrated
        FROM emit
    """,
    doc="iso1 monotone (isotonic) calibration: fit the least-squares "
        "non-decreasing map from the t2 quality score to the "
        "P(lang='en') label over the whole corpus with MLlib's "
        "IsotonicRegression — the classifier-calibration / "
        "quality-threshold-calibration step of a curation pipeline. "
        "MLlib's fit is the distributed parallel-PAV: per-partition "
        "pooling then a merge pass, exact least-squares isotonic "
        "solution (parity-tested against a pure-numpy PAV in "
        "tests/test_round4_ops.py). Returns the fitted step curve "
        "(boundary, prediction) — O(pools) rows, corpus-independent "
        "after pooling. Scale: one pass over (score, label) pairs; "
        "the model is a driver-resident curve broadcast back for "
        "scoring, exactly the suffstats-ridge pattern (ml.py).",
    tags=("ml", "pipeline"),
)
def iso1_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import IsotonicRegression

    from ..sources import load_table
    from .text import STOPWORDS, tokens

    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("double") / n
    )
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    quality = (
        F.least(F.lit(1.0), n / F.lit(50.0)) * (F.lit(1.0) - stop_ratio) * uniq_ratio
    )
    pairs = d.select(
        quality.alias("score"),
        (F.col("lang") == "en").cast("double").alias("label"),
    )
    va = VectorAssembler(inputCols=["score"], outputCol="features")
    model = IsotonicRegression(
        featuresCol="features", labelCol="label", isotonic=True
    ).fit(va.transform(pairs))
    bounds = [float(b) for b in model.boundaries]
    preds = [float(p) for p in model.predictions]
    spark_ = spark
    # round via F.round (HALF_UP), not python round() (half-to-even):
    # pool means are rationals that CAN be dyadic (1/128 = 0.0078125
    # ends on an exact decimal half at 6 places), and the DuckDB
    # oracle's round() is half-away — F.round matches it there
    return local_frame(
        spark_,
        [(i, b, p) for i, (b, p) in enumerate(zip(bounds, preds))],
        "step int, boundary double, calibrated double",
    ).select("step", "boundary", F.round("calibrated", 6).alias("calibrated"))


# ---------------------------------------------------------------- log1

@query(
    "log1_logistic_irls",
    oracle=None,  # iterative Newton fit; numpy-IRLS parity test
    doc="log1 distributed logistic regression (IRLS/Newton, 6 "
        "iterations): P(lang='en') from the t2 quality components "
        "(capped length, stopword ratio, type/token ratio). Each "
        "iteration is one ml.sum_partials pass producing per-partition "
        "[X'WX | X'(y-p) | n] partials added in partition order — "
        "the suffstats-ridge merge (ml.fold_suffstats), "
        "iterated because the logistic MLE has no closed form; "
        "driver state is the coefficient vector alone. The "
        "classification counterpart to ml.py's ridge harness, and "
        "the supervised version of iso1's monotone calibration. "
        "Parity: tests/test_round4_ops.py fits the same model with "
        "pure-numpy IRLS on the collected frame (agreement 1e-6).",
    tags=("ml",),
)
def log1_logistic_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml import logistic_irls
    from ..sources import load_table
    from .text import STOPWORDS, tokens

    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    feats = d.select(
        F.least(F.lit(1.0), n / F.lit(50.0)).alias("len_capped"),
        (F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("double") / n).alias(
            "stop_ratio"
        ),
        (F.size(F.array_distinct(toks)).cast("double") / n).alias("uniq_ratio"),
        (F.col("lang") == "en").cast("double").alias("label"),
    )
    beta = logistic_irls(
        feats, ["len_capped", "stop_ratio", "uniq_ratio"], "label"
    )
    names = ["intercept", "len_capped", "stop_ratio", "uniq_ratio"]
    return local_frame(
        spark,
        [(nm, round(float(b), 6)) for nm, b in zip(names, beta)],
        "term string, coef double",
    )


# --------------------------------------- tw1 coranking DR quality

TW_K = 5  # neighborhood size for trustworthiness/continuity


def _tw_proj_coefs(dim: int = DIM) -> list[list[float]]:
    """Two fixed pseudo-random projection rows from a portable LCG —
    the Johnson-Lindenstrauss baseline embedding tw1 judges. Values
    are exact dyadic rationals (x/2^31 - 0.5), so their decimal repr
    round-trips bit-identically into DuckDB literals."""
    return [
        [
            ((1103515245 * (i * 2 + j) + 12345) % 2147483648) / 2147483648.0 - 0.5
            for i in range(dim)
        ]
        for j in range(2)
    ]


def coranking_metrics(feat: DataFrame, k: int = TW_K) -> DataFrame:
    """Per-anchor trustworthiness/continuity (Venna & Kaski) + LCMC
    (local continuity meta-criterion, Chen & Buja: k-neighborhood
    overlap rate minus its k/(n−1) chance level — the third coranking
    metric the reference imports) of a 2-D
    embedding vs the original feature space, from a (vec_id, vv, p1,
    p2, is_anchor) relation: vv = original vector, (p1, p2) = embedded
    coordinates.

    trustworthiness penalizes INTRUSIONS — points inside the embedded
    k-neighborhood that are far in the original space, weighted by how
    far (original rank − k); continuity penalizes EXTRUSIONS
    symmetrically. Scale shape = ss1's: a fixed anchor batch joined
    against the corpus (O(anchors·n), linear in corpus), two
    row_number windows over the same pair relation, one groupBy.
    Distances are squared-Euclidean via the norm² + dot expansion,
    rounded to 5 dp with vec_id tie-break — the float op sequence
    matches the DuckDB oracle exactly (list_dot_product ≡ the
    zip_with/aggregate fold)."""
    from .similarity import dot as vdot

    q = feat.filter(F.col("is_anchor")).select(
        F.col("vec_id").alias("qid"),
        F.col("vv").alias("qv"),
        F.col("n2").alias("qn2"),
        F.col("p1").alias("qp1"),
        F.col("p2").alias("qp2"),
    )
    pairs = q.join(feat, F.col("qid") != F.col("vec_id")).select(
        "qid",
        "vec_id",
        F.round(
            F.col("qn2") + F.col("n2") - 2 * vdot(F.col("qv"), F.col("vv")), 5
        ).alias("do2"),
        F.round(
            (F.col("qp1") - F.col("p1")) * (F.col("qp1") - F.col("p1"))
            + (F.col("qp2") - F.col("p2")) * (F.col("qp2") - F.col("p2")),
            5,
        ).alias("de2"),
    )
    wo = Window.partitionBy("qid").orderBy("do2", "vec_id")
    we = Window.partitionBy("qid").orderBy("de2", "vec_id")
    ranked = pairs.select(
        "qid",
        F.row_number().over(wo).alias("ro"),
        F.row_number().over(we).alias("re"),
    )
    pen = ranked.groupBy("qid").agg(
        F.sum(
            F.when((F.col("re") <= k) & (F.col("ro") > k), F.col("ro") - k).otherwise(
                0
            )
        ).alias("tpen"),
        F.sum(
            F.when((F.col("ro") <= k) & (F.col("re") > k), F.col("re") - k).otherwise(
                0
            )
        ).alias("cpen"),
        F.sum(
            F.when((F.col("ro") <= k) & (F.col("re") <= k), 1).otherwise(0)
        ).alias("novl"),
    )
    n = feat.agg(F.count("*").alias("n"))
    denom = F.lit(float(k)) * (2.0 * F.col("n") - 3.0 * k - 1.0)
    return (
        pen.crossJoin(F.broadcast(n))
        .select(
            "qid",
            F.round(1.0 - 2.0 * F.col("tpen") / denom, 6).alias("trust"),
            F.round(1.0 - 2.0 * F.col("cpen") / denom, 6).alias("continuity"),
            F.round(
                F.col("novl") / F.lit(float(k)) - F.lit(float(k)) / (F.col("n") - 1.0),
                6,
            ).alias("lcmc"),
        )
    )


def _tw_oracle_sql() -> str:
    from .similarity import QUERY_CAP, QUERY_MOD

    c1, c2 = _tw_proj_coefs()
    l1 = "[" + ", ".join(repr(x) for x in c1) + "]::DOUBLE[]"
    l2 = "[" + ", ".join(repr(x) for x in c2) + "]::DOUBLE[]"
    k = TW_K
    return f"""
        WITH feat AS (
            SELECT vec_id, embedding::DOUBLE[] AS vv,
                   list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n2,
                   list_dot_product(embedding::DOUBLE[], {l1}) AS p1,
                   list_dot_product(embedding::DOUBLE[], {l2}) AS p2
            FROM embeddings
        ),
        q AS (SELECT * FROM feat
              WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {QUERY_CAP}),
        nn AS (SELECT count(*) AS n FROM feat),
        pairs AS (
            SELECT q.vec_id AS qid, c.vec_id AS vid,
                   round(q.n2 + c.n2 - 2 * list_dot_product(q.vv, c.vv), 5) AS do2,
                   round((q.p1 - c.p1) * (q.p1 - c.p1)
                         + (q.p2 - c.p2) * (q.p2 - c.p2), 5) AS de2
            FROM q JOIN feat c ON q.vec_id <> c.vec_id
        ),
        ranked AS (
            SELECT qid,
                   row_number() OVER (PARTITION BY qid ORDER BY do2, vid) AS ro,
                   row_number() OVER (PARTITION BY qid ORDER BY de2, vid) AS re
            FROM pairs
        ),
        pen AS (
            SELECT qid,
                   sum(CASE WHEN re <= {k} AND ro > {k} THEN ro - {k} ELSE 0 END) AS tpen,
                   sum(CASE WHEN ro <= {k} AND re > {k} THEN re - {k} ELSE 0 END) AS cpen,
                   sum(CASE WHEN ro <= {k} AND re <= {k} THEN 1 ELSE 0 END) AS novl
            FROM ranked GROUP BY qid
        )
        SELECT p.qid,
               round(1.0 - 2.0 * p.tpen / ({float(k)!r} * (2.0 * nn.n - 3.0 * {k} - 1.0)), 6) AS trust,
               round(1.0 - 2.0 * p.cpen / ({float(k)!r} * (2.0 * nn.n - 3.0 * {k} - 1.0)), 6) AS continuity,
               round(p.novl / {float(k)!r} - {float(k)!r} / (nn.n - 1.0), 6) AS lcmc
        FROM pen p, nn
    """


@query(
    "tw1_dr_trustworthiness",
    oracle=_tw_oracle_sql(),
    doc=f"tw1 trustworthiness/continuity coranking evaluation — the "
        "standard DR-quality check (Venna & Kaski; the reference "
        "imports trustworthiness/continuity/LCMC to judge its "
        "embedding sweeps, nb cell 2) as ndcg1's sibling for the "
        "§2.14 reduction family: does the low-dimensional embedding "
        "preserve k-neighborhoods of the original space? Judged "
        f"embedding here: a FIXED portable 2-D random projection (the "
        "Johnson-Lindenstrauss baseline — SQL-expressible, so the "
        "whole metric is oracle-exact end-to-end; the PCA/MDS/Isomap "
        "kernels are judged by the same coranking_metrics relation "
        "under numpy parity in tests, since their fits are "
        f"eigendecompositions). k = {TW_K}, anchors = the fixed "
        "40-query batch (ss1's sampling rule), ranks exact over the "
        "full corpus: O(anchors·n) linear scan, two windows, one "
        "groupBy — no quadratic stage at any corpus size.",
    tags=("reduction", "metric", "similarity"),
)
def tw1_dr_trustworthiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import load_table
    from .similarity import QUERY_CAP, QUERY_MOD, as_double
    from .similarity import dot as vdot

    c1, c2 = _tw_proj_coefs()
    emb = load_table(spark, sf_dir, "embeddings")
    vv = as_double(F.col("embedding"))
    a1 = F.array(*[F.lit(x) for x in c1])
    a2 = F.array(*[F.lit(x) for x in c2])
    feat = emb.select(
        "vec_id",
        vv.alias("vv"),
        vdot(vv, vv).alias("n2"),
        vdot(vv, a1).alias("p1"),
        vdot(vv, a2).alias("p2"),
        ((F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP)).alias(
            "is_anchor"
        ),
    )
    return coranking_metrics(feat, k=TW_K)
