"""Distance / information-theory operators (SURVEY.md §2.3 F5-F8,
§2.11 D1/D4, §2.5 A5).

The reference computes 5-bin histograms, entropy, mutual information
and variation-of-information as numpy/scipy kernels per feature pair
(/root/reference/distance_func.py:9-22). All of it is aggregation
algebra — expressed here as pure DataFrame/SQL (no UDF), so it scales
as ordinary shuffled aggregates and is oracle-checkable.

Bucketing convention (portable across engines): 5 equal-width bins on
a fixed literal domain, ``bucket = least(4, greatest(0, floor(x / width)))``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..functions import PRED_EVENTS_SQL, corr_safe, pred_events
from ..registry import query
from ..session import local_frame
from ..sources import load_table

N_BINS = 5
WIDTH = 100.0  # events.value domain is [0, 500)


def bucket(col: Column, width: float = WIDTH, n: int = N_BINS) -> Column:
    """F6 fixed-domain equal-width bucketing (distance_func.py:13-14
    np.histogram(x, 5))."""
    return F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor(col / width))).cast("int")


def bucket_sql(expr: str, width: float = WIDTH, n: int = N_BINS) -> str:
    return f"CAST(least({n - 1}, greatest(0, floor(({expr}) / {width}))) AS INTEGER)"


BX = bucket_sql("value")
BY = bucket_sql(PRED_EVENTS_SQL)


# ------------------------------------------------------------ F5

@query(
    "f5_quantile",
    oracle="""
        SELECT round(quantile_cont(value, 0.25), 6) AS q25,
               round(quantile_cont(value, 0.75), 6) AS q75
        FROM events
    """,
    doc="F5 exact quantiles (tuners.py:144-145 np.quantile([.25,.75])). "
        "Exact percentile, not percentile_approx — approx differs per "
        "engine (SURVEY.md §7 hard-point #3). At 100 TB prefer "
        "approx_percentile for speed; exact kept for oracle parity.",
    tags=("agg",),
)
def f5_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.round(F.percentile("value", F.lit(0.25)), 6).alias("q25"),
        F.round(F.percentile("value", F.lit(0.75)), 6).alias("q75"),
    )


# ------------------------------------------------------------ F6

@query(
    "f6_histogram",
    oracle=f"""
        SELECT {BX} AS bucket, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    """,
    doc="F6 1-D 5-bin histogram (distance_func.py:13 np.histogram).",
    tags=("agg",),
)
def f6_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(bucket(F.col("value")).alias("bucket")).agg(F.count("*").alias("n"))


# ------------------------------------------------------------ F7

ENTROPY_X_SQL = f"""
    WITH h AS (
        SELECT {BX} AS b, count(*) AS n FROM events GROUP BY 1
    ), t AS (SELECT sum(n) AS tot FROM h)
    SELECT -sum((n / tot) * ln(n / tot)) AS hx FROM h, t
"""


def entropy_of(df: DataFrame, col: Column) -> DataFrame:
    """F7 Shannon entropy of the bucketed column (distance_func.py:16-17
    scipy.stats.entropy of the histogram). Two chained aggregates —
    at scale: one shuffle for the histogram (≤ n_bins groups), then a
    scalar reduce."""
    h = df.groupBy(col.alias("b")).agg(F.count("*").alias("n"))
    tot = h.agg(F.sum("n").alias("tot"))
    p = h.crossJoin(F.broadcast(tot)).select((F.col("n") / F.col("tot")).alias("p"))
    return p.agg((-F.sum(F.col("p") * F.log(F.col("p")))).alias("hx"))


@query(
    "f7_entropy",
    oracle=f"SELECT round(hx, 6) AS entropy FROM ({ENTROPY_X_SQL})",
    doc="F7 entropy −Σ p·ln p over the 5-bin histogram "
        "(distance_func.py:16-17).",
    tags=("agg",),
)
def f7_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    h = entropy_of(ev, bucket(F.col("value")))
    return h.select(F.round(F.col("hx"), 6).alias("entropy"))


# ------------------------------------------------------- F8 / D1

# Joint + marginal bucket counts of (value, pred) and the information
# quantities derived from them. One scan, one small shuffle (≤25 joint
# cells), everything after is constant-size.
_INFO_SQL = f"""
    WITH joint AS (
        SELECT {BX} AS bx, {BY} AS by_, count(*) AS nxy
        FROM events GROUP BY 1, 2
    ), t AS (SELECT sum(nxy) AS tot FROM joint),
    mx AS (SELECT bx, sum(nxy) AS nx FROM joint GROUP BY bx),
    my AS (SELECT by_, sum(nxy) AS ny FROM joint GROUP BY by_),
    q AS (
        SELECT j.nxy / t.tot AS pxy, mx.nx / t.tot AS px, my.ny / t.tot AS py
        FROM joint j, t
        JOIN mx ON j.bx = mx.bx
        JOIN my ON j.by_ = my.by_
    ),
    info AS (
        SELECT sum(pxy * ln(pxy / (px * py))) AS mi,
               -sum(pxy * ln(px)) AS hx,
               -sum(pxy * ln(py)) AS hy
        FROM q
    )
"""


def _joint_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(mi, hx, hy) one-row frame from the joint histogram of
    (value-bucket, pred-bucket)."""
    ev = load_table(spark, sf_dir, "events")
    joint = ev.groupBy(
        bucket(F.col("value")).alias("bx"), bucket(pred_events()).alias("by_")
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
    return q.agg(
        F.sum(F.col("pxy") * F.log(F.col("pxy") / (F.col("px") * F.col("py")))).alias("mi"),
        (-F.sum(F.col("pxy") * F.log(F.col("px")))).alias("hx"),
        (-F.sum(F.col("pxy") * F.log(F.col("py")))).alias("hy"),
    )


@query(
    "f8_mutual_info",
    oracle=_INFO_SQL + "SELECT round(mi, 6) AS mutual_info FROM info",
    doc="F8 mutual information from the 5×5 contingency "
        "(distance_func.py:15 mutual_info_score(contingency=cXY)).",
    tags=("agg", "distance"),
)
def f8_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _joint_info(spark, sf_dir).select(F.round(F.col("mi"), 6).alias("mutual_info"))


@query(
    "d1_variation_of_information",
    oracle=_INFO_SQL + "SELECT round(hx + hy - 2 * mi, 6) AS vi FROM info",
    doc="D1 variation of information VI = H(x)+H(y)−2·I(x,y) on 5-bin "
        "histograms (distance_func.py:9-22). Pure aggregate SQL — the "
        "reference's scipy kernel needs no UDF at all.",
    tags=("distance",),
)
def d1_variation_of_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _joint_info(spark, sf_dir).select(
        F.round(F.col("hx") + F.col("hy") - 2 * F.col("mi"), 6).alias("vi")
    )


# ------------------------------------------------------- D4 / A5 / J2

@query(
    "d4_pairwise_corr_matrix",
    oracle="""
        WITH melted AS (
            SELECT vec_id, generate_subscripts(embedding, 1) AS fid,
                   CAST(unnest(embedding) AS DOUBLE) AS val
            FROM embeddings
        )
        SELECT a.fid AS fi, b.fid AS fj,
               round(corr(a.val, b.val), 6) AS corr
        FROM melted a JOIN melted b ON a.vec_id = b.vec_id AND a.fid < b.fid
        GROUP BY a.fid, b.fid
    """,
    doc="D4/A5/J2 pairwise feature matrix: melt features to rows, "
        "upper-triangle self-join, per-pair Pearson corr "
        "(feature_clustering.py:12-36 fan-out; nb cell 13 .corr()). "
        "Scale: the self-join shuffles on the row key once; pair count "
        "is p²/2 on FEATURES (not rows) so the output stays small. For "
        "p in the thousands switch to block-matrix multiplication on "
        "standardized columns (same plan shape).",
    tags=("distance", "join"),
)
def d4_pairwise_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    melted = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).select("vec_id", (F.col("pos") + 1).alias("fid"), F.col("val").cast("double").alias("val"))
    a = melted.alias("a")
    b = melted.alias("b")
    return (
        a.join(b, (F.col("a.vec_id") == F.col("b.vec_id")) & (F.col("a.fid") < F.col("b.fid")))
        .groupBy(F.col("a.fid").alias("fi"), F.col("b.fid").alias("fj"))
        .agg(F.round(corr_safe(F.col("a.val"), F.col("b.val")), 6).alias("corr"))
    )


# ------------------------------------------------------------ D2

@query(
    "d2_pairwise_spearman",
    oracle="""
        WITH melted AS (
            SELECT vec_id, generate_subscripts(embedding, 1) AS fid,
                   CAST(unnest(embedding) AS DOUBLE) AS val
            FROM embeddings
        ),
        ranked AS (
            SELECT vec_id, fid,
                   CAST(row_number() OVER (PARTITION BY fid ORDER BY val, vec_id) AS DOUBLE) AS r
            FROM melted
        )
        SELECT a.fid AS fi, b.fid AS fj,
               round(corr(a.r, b.r), 6) AS spearman
        FROM ranked a JOIN ranked b ON a.vec_id = b.vec_id AND a.fid < b.fid
        GROUP BY a.fid, b.fid
    """,
    doc="D2 max_corr distance kernel slot (distance_func.py:26-35 wraps "
        "the `ace` package — unavailable and notebook-global-dependent, "
        "SURVEY.md §2.16). The shipped kernel is rank (Spearman) "
        "correlation per feature pair — monotone-maximal correlation, "
        "fully relational and oracle-checked; an ACE kernel plugs into "
        "the same pair fan-out as an applyInPandas kernel (see D3).",
    tags=("distance",),
)
def d2_pairwise_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    melted = emb.select("vec_id", F.posexplode("embedding").alias("pos", "valf")).select(
        "vec_id", (F.col("pos") + 1).alias("fid"), F.col("valf").cast("double").alias("val")
    )
    w = Window.partitionBy("fid").orderBy(F.asc("val"), F.asc("vec_id"))
    ranked = melted.select("vec_id", "fid", F.row_number().over(w).cast("double").alias("r"))
    a, b = ranked.alias("a"), ranked.alias("b")
    return (
        a.join(b, (F.col("a.vec_id") == F.col("b.vec_id")) & (F.col("a.fid") < F.col("b.fid")))
        .groupBy(F.col("a.fid").alias("fi"), F.col("b.fid").alias("fj"))
        .agg(F.round(corr_safe(F.col("a.r"), F.col("b.r")), 6).alias("spearman"))
    )


# ------------------------------------------------------------ D3

def _dcor(x, y) -> float:
    """Distance correlation (Székely) via double-centered pairwise
    distance matrices — the reference's O(n²) kernel
    (distance_func.py:38-74, reimplemented; the original has undefined
    names and works only with notebook globals, SURVEY.md §2.16)."""
    import numpy as np

    x = np.asarray(x, dtype=float)
    y = np.asarray(y, dtype=float)
    a = np.abs(x[:, None] - x[None, :])
    b = np.abs(y[:, None] - y[None, :])
    A = a - a.mean(0) - a.mean(1)[:, None] + a.mean()
    B = b - b.mean(0) - b.mean(1)[:, None] + b.mean()
    dcov2 = (A * B).mean()
    dvarx = (A * A).mean()
    dvary = (B * B).mean()
    denom = np.sqrt(dvarx * dvary)
    return float(np.sqrt(max(dcov2, 0.0) / denom)) if denom > 0 else 0.0


@query(
    "d3_distance_corr",
    oracle=None,  # O(n²) pair kernel; pinned by tests vs direct numpy
    doc="D3 distance correlation on the era-subsample "
        "(distance_func.py:38-74; run only on a subsample in the "
        "reference too, nb cell 7): pair fan-out (J2) + applyInPandas "
        "kernel over gathered column pairs — the arbitrary-Python "
        "distance-kernel slot (D2's ACE would ride the same path).",
    tags=("distance", "ml"),
)
def d3_distance_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    n_sample, n_feats = 100, 8
    emb = load_table(spark, sf_dir, "embeddings")
    melted = (
        emb.filter(F.col("vec_id") < n_sample)
        .select("vec_id", F.posexplode("embedding").alias("fid", "valf"))
        .filter(F.col("fid") < n_feats)
        .select("vec_id", "fid", F.col("valf").cast("double").alias("val"))
    )
    cols = melted.groupBy("fid").agg(
        F.array_sort(F.collect_list(F.struct("vec_id", "val"))).alias("pairs")
    ).select("fid", F.transform("pairs", lambda p: p["val"]).alias("vals"))
    a, b = cols.alias("a"), cols.alias("b")
    paired = a.join(b, F.col("a.fid") < F.col("b.fid")).select(
        F.col("a.fid").alias("fi"), F.col("b.fid").alias("fj"),
        F.col("a.vals").alias("xs"), F.col("b.vals").alias("ys"),
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf["dcor"] = [round(_dcor(x, y), 6) for x, y in zip(pdf["xs"], pdf["ys"])]
        return pdf[["fi", "fj", "dcor"]]

    return paired.groupBy("fi").applyInPandas(kernel, schema="fi int, fj int, dcor double")


def _ace_maxcorr(x, y, n_bins: int = 8, n_iter: int = 50) -> float:
    """ACE maximal correlation (reference distance_func.py:26-35, which
    wraps the `ace` package): alternate φ(x) ← E[θ(y)|x] and
    θ(y) ← E[φ(x)|y] with standardization — Breiman–Friedman ACE on
    equal-width-binned data, where the alternation is exactly power
    iteration on the normalized contingency matrix, so it converges to
    the (binned) maximal correlation deterministically: no smoother, no
    randomness. Returns the DISTANCE 1 − maxcorr like the reference."""
    import numpy as np

    x = np.asarray(x, dtype=float)
    y = np.asarray(y, dtype=float)

    def bins(v):
        lo, hi = v.min(), v.max()
        if hi <= lo:
            return np.zeros(len(v), dtype=int)
        b = ((v - lo) / (hi - lo) * n_bins).astype(int)
        return np.clip(b, 0, n_bins - 1)

    xb, yb = bins(x), bins(y)
    theta = (y - y.mean())
    sd = theta.std()
    if sd == 0:
        return 1.0
    theta /= sd
    phi = np.zeros(len(x))
    for _ in range(n_iter):
        # φ(x) = E[θ|x-bin], standardized
        m = np.bincount(xb, weights=theta, minlength=n_bins) / np.maximum(
            np.bincount(xb, minlength=n_bins), 1
        )
        phi = m[xb]
        sd = phi.std()
        if sd == 0:
            return 1.0
        phi = (phi - phi.mean()) / sd
        # θ(y) = E[φ|y-bin], standardized
        m = np.bincount(yb, weights=phi, minlength=n_bins) / np.maximum(
            np.bincount(yb, minlength=n_bins), 1
        )
        theta = m[yb]
        sd = theta.std()
        if sd == 0:
            return 1.0
        theta = (theta - theta.mean()) / sd
    return float(1.0 - np.corrcoef(phi, theta)[0, 1])


@query(
    "d2b_pairwise_ace",
    oracle=None,  # iterative kernel; pinned by property tests
    doc="D2 max_corr with the TRUE ACE kernel (distance_func.py:26-35): "
        "1 − maximal correlation per feature pair, computed by "
        "alternating conditional expectations on binned columns inside "
        "D3's applyInPandas pair fan-out — the arbitrary-Python "
        "distance-kernel slot, now exercised with the reference's own "
        "kernel family (d2's Spearman remains the oracle-checkable "
        "monotone variant).",
    tags=("distance", "ml"),
)
def d2b_pairwise_ace(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    n_sample, n_feats = 100, 8
    emb = load_table(spark, sf_dir, "embeddings")
    melted = (
        emb.filter(F.col("vec_id") < n_sample)
        .select("vec_id", F.posexplode("embedding").alias("fid", "valf"))
        .filter(F.col("fid") < n_feats)
        .select("vec_id", "fid", F.col("valf").cast("double").alias("val"))
    )
    cols = melted.groupBy("fid").agg(
        F.array_sort(F.collect_list(F.struct("vec_id", "val"))).alias("pairs")
    ).select("fid", F.transform("pairs", lambda p: p["val"]).alias("vals"))
    a, b = cols.alias("a"), cols.alias("b")
    paired = a.join(b, F.col("a.fid") < F.col("b.fid")).select(
        F.col("a.fid").alias("fi"), F.col("b.fid").alias("fj"),
        F.col("a.vals").alias("xs"), F.col("b.vals").alias("ys"),
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf["ace_dist"] = [round(_ace_maxcorr(x, y), 6) for x, y in zip(pdf["xs"], pdf["ys"])]
        return pdf[["fi", "fj", "ace_dist"]]

    return paired.groupBy("fi").applyInPandas(kernel, schema="fi int, fj int, ace_dist double")


# ------------------------------------------------------------ D5

def _single_linkage(D, thresh: float):
    """Connected components of the thresholded distance graph."""
    import numpy as np

    p = len(D)
    adj = D < thresh
    labels = -np.ones(p, dtype=int)
    cur = 0
    for i in range(p):
        if labels[i] >= 0:
            continue
        stack = [i]
        labels[i] = cur
        while stack:
            u = stack.pop()
            for v in np.nonzero(adj[u])[0]:
                if labels[v] < 0:
                    labels[v] = cur
                    stack.append(v)
        cur += 1
    return labels


def _pam(D, k: int, max_iter: int = 100):
    """K-Medoids by PAM (reference feature_clustering.py:83-108 sweeps
    sklearn_extra KMedoids): deterministic BUILD seeding + SWAP local
    search on the precomputed distance matrix. Driver-local numpy on
    the p×p matrix — milliseconds at feature counts."""
    import numpy as np

    p = len(D)
    k = min(k, p)
    # BUILD: first medoid minimizes total distance; each next medoid
    # maximizes the cost reduction against current assignment
    medoids = [int(np.argmin(D.sum(axis=1)))]
    while len(medoids) < k:
        dmin = D[:, medoids].min(axis=1)
        gains = np.maximum(dmin[None, :] - D, 0.0).sum(axis=1)
        gains[medoids] = -np.inf
        medoids.append(int(np.argmax(gains)))
    medoids = sorted(medoids)
    # SWAP: steepest-descent swaps until no improvement
    def cost(ms):
        return float(D[:, ms].min(axis=1).sum())

    cur = cost(medoids)
    for _ in range(max_iter):
        best = None
        for mi, m in enumerate(medoids):
            for h in range(p):
                if h in medoids:
                    continue
                trial = sorted(medoids[:mi] + [h] + medoids[mi + 1:])
                c = cost(trial)
                if c < cur - 1e-12 and (best is None or c < best[0]):
                    best = (c, trial)
        if best is None:
            break
        cur, medoids = best[0], best[1]
    labels = np.argmin(D[:, medoids], axis=1)
    return labels, medoids


def _dbscan(D, eps: float, min_pts: int = 3):
    """Density clustering on the precomputed p×p distance matrix — the
    reference's sweep includes HDBSCAN (feature_clustering.py:109-132);
    this is the deterministic DBSCAN specialization of the density
    family: core points have ≥ min_pts neighbors within eps (self
    included, sklearn's convention), clusters are the components of
    core points chained through eps-reachability, non-core points
    inside a core's eps-ball join that cluster (first reaching cluster
    in index order — deterministic), everything else is noise (-1).
    Driver-local numpy on the feature-distance matrix, like _pam."""
    import numpy as np

    p = len(D)
    within = D <= eps
    core = within.sum(axis=1) >= min_pts
    labels = -np.ones(p, dtype=int)
    cur = 0
    for i in range(p):
        if not core[i] or labels[i] >= 0:
            continue
        labels[i] = cur
        stack = [i]
        while stack:
            u = stack.pop()
            for v in np.nonzero(within[u])[0]:
                if labels[v] < 0:
                    labels[v] = cur
                    if core[v]:
                        stack.append(v)
        cur += 1
    return labels


def _hdbscan(D, min_cluster_size: int = 2, min_samples: int = 2):
    """HDBSCAN proper (Campello/Moulavi/Sander) on the precomputed
    distance matrix — the reference's exact density kernel
    (feature_clustering.py:109-132); _dbscan remains the fixed-eps
    specialization. Pipeline: core distances (min_samples-th NN, self
    included) → mutual-reachability graph → Prim MST → single-linkage
    dendrogram → condensed tree at min_cluster_size → stability-
    maximizing flat cut (excess of mass), noise = -1. Fully
    deterministic: ties in the MST resolve by (weight, u, v) and the
    dendrogram walk is index-ordered. Driver-local numpy on the p×p
    feature matrix, like _pam."""
    import numpy as np

    p = len(D)
    if p <= min_cluster_size:
        return -np.ones(p, dtype=int)
    core = np.sort(D, axis=1)[:, min_samples - 1]
    mr = np.maximum(np.maximum(core[:, None], core[None, :]), D)
    np.fill_diagonal(mr, 0.0)

    # Prim MST over mutual reachability
    in_tree = np.zeros(p, dtype=bool)
    in_tree[0] = True
    best = mr[0].copy()
    best_from = np.zeros(p, dtype=int)
    edges = []
    for _ in range(p - 1):
        cand = np.nonzero(~in_tree)[0]
        j = int(cand[np.argmin(best[cand])])
        edges.append((float(best[j]), int(best_from[j]), j))
        in_tree[j] = True
        upd = (mr[j] < best) & ~in_tree
        best[upd] = mr[j][upd]
        best_from[upd] = j
    edges.sort()

    # single-linkage dendrogram via union-find (leaves 0..p-1)
    uf = list(range(p))

    def find(x):
        while uf[x] != x:
            uf[x] = uf[uf[x]]
            x = uf[x]
        return x

    comp_of = list(range(p))
    children: list = [None] * (2 * p - 1)
    mdist = [0.0] * (2 * p - 1)
    leafcnt = [1] * p + [0] * (p - 1)
    nxt = p
    for w, u, v in edges:
        ru, rv = find(u), find(v)
        cu, cv = comp_of[ru], comp_of[rv]
        children[nxt] = (cu, cv)
        mdist[nxt] = w
        leafcnt[nxt] = leafcnt[cu] + leafcnt[cv]
        uf[rv] = ru
        comp_of[ru] = nxt
        nxt += 1
    root = 2 * p - 2

    def lam(d):
        return 1.0 / max(d, 1e-12)

    # condensed tree: cluster id → (birth λ, [(point, λ_fall)...],
    # [(child cluster, λ_split)...])
    clusters: dict = {}
    cid = [0]

    def leaves_of(node):
        out, stack = [], [node]
        while stack:
            n = stack.pop()
            if n < p:
                out.append(n)
            else:
                stack.extend(children[n])
        return out

    def condense(node, cluster, lam_birth):
        """Walk the dendrogram inside one condensed cluster."""
        clusters.setdefault(cluster, {"birth": lam_birth, "pts": [], "kids": []})
        while node >= p:
            a, b = children[node]
            lsplit = lam(mdist[node])
            big_a = leafcnt[a] >= min_cluster_size
            big_b = leafcnt[b] >= min_cluster_size
            if big_a and big_b:
                for ch in (a, b):
                    cid[0] += 1
                    clusters[cluster]["kids"].append((cid[0], lsplit))
                    condense(ch, cid[0], lsplit)
                return
            if not big_a and not big_b:
                for x in leaves_of(node):
                    clusters[cluster]["pts"].append((x, lsplit))
                return
            small, node = (a, b) if big_b else (b, a)
            for x in leaves_of(small):
                clusters[cluster]["pts"].append((x, lsplit))
        clusters[cluster]["pts"].append((node, np.inf))

    condense(root, 0, lam(mdist[root]))

    # stability (finite λ caps at the largest finite fall-out level).
    # EVERY λ entering the sum is clamped by the same cap — births and
    # child-split levels included: exact-duplicate points give zero
    # mutual-reachability merges whose raw λ is ~1e12, and an
    # unclamped split (or birth) at that level would dominate the
    # excess-of-mass comparison and distort cluster selection. A
    # zero-distance merge clamps to (cap − cap) = 0 extra mass, i.e.
    # it persists "to infinity" uniformly with the point fall-outs.
    finite = [lf for c in clusters.values() for _, lf in c["pts"] if np.isfinite(lf)]
    lam_cap = max(finite) if finite else 1.0
    stability = {}
    for c, info in clusters.items():
        birth = min(info["birth"], lam_cap)
        s = sum(min(lf, lam_cap) - birth for _, lf in info["pts"])
        # children leave mass at their split: each child subtree's
        # points contribute (λ_split − λ_birth)
        for kid, ls in info["kids"]:
            s += (min(ls, lam_cap) - birth) * _condensed_size(clusters, kid)
        stability[c] = s

    # excess-of-mass selection, root excluded
    selected: set = set()

    def select(c):
        """Returns total selected stability of c's subtree; marks
        selection."""
        info = clusters[c]
        kid_sum = sum(select(k) for k, _ in info["kids"])
        if c == 0:
            # the root is never a cluster (allow_single_cluster=False,
            # sklearn/hdbscan default): a rootless tree is all noise
            return kid_sum
        if not info["kids"] or stability[c] >= kid_sum:
            # deselect descendants
            stack = [k for k, _ in info["kids"]]
            while stack:
                k = stack.pop()
                selected.discard(k)
                stack.extend(kk for kk, _ in clusters[k]["kids"])
            selected.add(c)
            return stability[c]
        return kid_sum

    select(0)

    labels = -np.ones(p, dtype=int)
    order = {c: i for i, c in enumerate(sorted(selected))}
    for c in selected:
        for x in _condensed_members(clusters, c):
            labels[x] = order[c]
    return labels


def _condensed_size(clusters, c) -> int:
    return len(_condensed_members(clusters, c))


def _condensed_members(clusters, c):
    out, stack = [], [c]
    while stack:
        k = stack.pop()
        out.extend(x for x, _ in clusters[k]["pts"])
        stack.extend(kk for kk, _ in clusters[k]["kids"])
    return out


def _silhouette(D, labels) -> float:
    """Mean silhouette over CLUSTERED points (noise label -1 excluded
    from both the averaged set and the neighbor-cluster candidates;
    all-noise or single-cluster labelings score -1)."""
    import numpy as np

    keep = labels >= 0
    uniq = np.unique(labels[keep]) if keep.any() else np.array([])
    if len(uniq) < 2:
        return -1.0
    s = []
    for i in np.nonzero(keep)[0]:
        own = labels == labels[i]
        own[i] = False
        a = D[i, own].mean() if own.any() else 0.0
        bs = [D[i, labels == c].mean() for c in uniq if c != labels[i]]
        b = min(bs)
        s.append(0.0 if max(a, b) == 0 else (b - a) / max(a, b))
    return float(np.mean(s))


def _cluster_sweep(D):
    """(kernel, param, score, labels) for every swept config — single-
    linkage thresholds, K-Medoids k values, DBSCAN density radii AND
    HDBSCAN min-cluster-sizes (the reference's agglomerative /
    KMedoids / HDBSCAN triple, with HDBSCAN now literal rather than
    represented by its fixed-eps specialization)."""
    import numpy as np

    p = len(D)
    tri = D[np.triu_indices(p, 1)]
    out = []
    for q in (0.02, 0.05, 0.1, 0.2, 0.3, 0.4, 0.5):
        t = float(np.quantile(tri, q))
        labels = _single_linkage(D, t)
        out.append(("single_linkage", t, _silhouette(D, labels), labels))
    for k in (2, 3, 4, 5, 6):
        labels, _ = _pam(D, k)
        out.append(("kmedoids_pam", float(k), _silhouette(D, labels), labels))
    for q in (0.05, 0.1, 0.2, 0.3):
        eps = float(np.quantile(tri, q))
        labels = _dbscan(D, eps, min_pts=3)
        out.append(("dbscan_density", eps, _silhouette(D, labels), labels))
    for mcs in (2, 3):
        labels = _hdbscan(D, min_cluster_size=mcs, min_samples=2)
        out.append(("hdbscan", float(mcs), _silhouette(D, labels), labels))
    return out


def feature_distance_matrix(spark: SparkSession, sf_dir: str):
    """Collected p×p feature-distance matrix (1 − |corr|) from D4."""
    import numpy as np

    pairs = d4_pairwise_corr_matrix(spark, sf_dir).toPandas()
    p = int(max(pairs["fi"].max(), pairs["fj"].max()))
    D = np.zeros((p, p))
    for fi, fj, c in pairs.itertuples(index=False):
        d = 1.0 - abs(c)
        D[fi - 1, fj - 1] = D[fj - 1, fi - 1] = d
    return D


@query(
    "d5_optimal_clusters",
    oracle=None,  # driver-local sweep on the collected p×p matrix
    doc="D5 get_optimal_clusters (feature_clustering.py:39-132): sweep "
        "clustering KERNEL × hyperparameter on the collected feature-"
        "distance matrix (p×p, driver-resident — milliseconds), score "
        "each by mean silhouette, keep the argmax (O3). FOUR kernel "
        "families covering the reference's agglomerative / KMedoids / "
        "HDBSCAN triple literally: single-linkage threshold "
        "components, K-Medoids PAM, DBSCAN density clustering, and "
        "HDBSCAN proper (_hdbscan: mutual-reachability MST → "
        "condensed tree → stability-maximizing cut — noise-aware "
        "silhouette). Membership returned as (fid, label) rows (A6) "
        "tagged with the winning kernel/param.",
    tags=("distance", "ml"),
)
def d5_optimal_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    D = feature_distance_matrix(spark, sf_dir)
    sweep = _cluster_sweep(D)
    kernel, param, score, labels = max(sweep, key=lambda r: (r[2], r[0]))
    rows = [
        (i + 1, int(l), kernel, float(param), round(float(score), 6))
        for i, l in enumerate(labels)
    ]
    return local_frame(spark, rows, "fid int, label int, kernel string, param double, silhouette double")


@query(
    "d5b_cluster_sweep_table",
    oracle=None,  # driver-local sweep on the collected p×p matrix
    doc="D5b the sweep table behind d5: one row per (kernel, param) "
        "config with its silhouette and cluster count — the "
        "get_optimal_clusters diagnostic the reference prints while "
        "sweeping (feature_clustering.py:109-132). Four kernel "
        "families (single-linkage / PAM / DBSCAN / HDBSCAN); n_noise "
        "counts the density kernels' unassigned features (0 for "
        "partitional kernels).",
    tags=("distance", "ml"),
)
def d5b_cluster_sweep_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    D = feature_distance_matrix(spark, sf_dir)
    rows = [
        (
            kernel,
            round(float(param), 6),
            round(float(score), 6),
            int(len(np.unique(labels[labels >= 0]))),
            int((labels < 0).sum()),
        )
        for kernel, param, score, labels in _cluster_sweep(D)
    ]
    return local_frame(
        spark,
        rows, "kernel string, param double, silhouette double, n_clusters int, n_noise int"
    )
