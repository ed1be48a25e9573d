"""Metric operators (SURVEY.md §2.10) on the W1 era rank
(functions.pct_rank_first).

Flagship: ``m1_spearman_by_era`` — the reference's scoring function
``spearman_rank`` (/root/reference/metrics.py:5-22): per-era percentile
rank of predictions (pandas ``rank(pct=True, method="first")``), then
**pooled** Pearson correlation of (y_true, ranked_pred) across all rows
(pooled, not mean-of-per-era — metrics.py:21 computes one corrcoef).

Scale: one shuffle on era for the window (AQE handles era skew), then a
single all-reduce style aggregate for corr. No driver materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions import (
    ERA_EVENTS_SQL,
    PRED_EVENTS_SQL,
    clip,
    corr_safe,
    era_events,
    pct_rank_first,
    pred_events,
)
from ..registry import query
from ..sources import load_table

# Shared CTE: (era, y_true, pred, event_id) scored frame from events.
BASE_SQL = f"""
    SELECT {ERA_EVENTS_SQL} AS era, value AS y_true,
           {PRED_EVENTS_SQL} AS pred, event_id
    FROM events
"""


def scored_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        era_events().alias("era"),
        F.col("value").alias("y_true"),
        pred_events().alias("pred"),
        "event_id",
    )


W1_SQL = f"""
    SELECT era, y_true, event_id,
           CAST(row_number() OVER (PARTITION BY era ORDER BY pred, event_id) AS DOUBLE)
           / CAST(count(*) OVER (PARTITION BY era) AS DOUBLE) AS pred_rank
    FROM ({BASE_SQL})
"""


@query(
    "w1_pct_rank_by_era",
    oracle=f"SELECT event_id, era, pred_rank FROM ({W1_SQL})",
    doc="W1 per-era percentile rank with method='first' tie-breaking "
        "(metrics.py:19; tuners.py:432, 574).",
    tags=("window", "metrics"),
)
def w1_pct_rank_by_era(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = scored_events(spark, sf_dir)
    return df.select(
        "event_id", "era", pct_rank_first(["era"], "pred", "event_id").alias("pred_rank")
    )


def spearman_by_era(scored: DataFrame, y_true: str = "y_true", pred: str = "pred",
                    era: str = "era", key: str = "event_id") -> DataFrame:
    """M1 as a reusable library transform over any scored frame."""
    ranked = scored.select(
        F.col(y_true).alias("y_true"),
        pct_rank_first([era], pred, key).alias("pred_rank"),
    )
    return ranked.agg(F.round(corr_safe("y_true", "pred_rank"), 6).alias("spearman_era_corr"))


@query(
    "m1_spearman_by_era",
    oracle=f"""
        SELECT round(corr(y_true, pred_rank), 6) AS spearman_era_corr
        FROM ({W1_SQL})
    """,
    doc="M1 flagship: era-bucketed Spearman rank correlation "
        "(metrics.py:5-22; duplicated at tuners.py:424-435, 566-577). "
        "Pooled corr across rows after per-era pct-rank.",
    tags=("metrics", "flagship"),
)
def m1_spearman_by_era(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spearman_by_era(scored_events(spark, sf_dir))


@query(
    "m2_quartic_error",
    oracle=f"""
        SELECT round(avg(power(y_true - pred, 4)), 6) AS quartic_err
        FROM ({BASE_SQL})
    """,
    doc="M2/F3 quartic error mean((y-ŷ)^4) (metrics.py:25-33) — "
        "tail-sensitive loss.",
    tags=("metrics",),
)
def m2_quartic_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = scored_events(spark, sf_dir)
    return df.agg(
        F.round(F.avg(F.pow(F.col("y_true") - F.col("pred"), 4)), 6).alias("quartic_err")
    )


@query(
    "f4_pearson_corr",
    oracle=f"""
        SELECT round(corr(y_true, pred), 6) AS pearson
        FROM ({BASE_SQL})
    """,
    doc="F4 scalar Pearson correlation (metrics.py:21 np.corrcoef).",
    tags=("metrics",),
)
def f4_pearson_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = scored_events(spark, sf_dir)
    return df.agg(F.round(corr_safe("y_true", "pred"), 6).alias("pearson"))


@query(
    "m4_payout_clip",
    oracle="""
        SELECT event_id,
               round(least(1.0, greatest(-1.0, (value - 50) / 20.0)), 6) AS payout
        FROM events
    """,
    doc="M4/P10 Numerai payout clip (utils.py:51-55: "
        "((scores-0)/.2).clip(lower=-1, upper=1), rescaled to the "
        "events value domain).",
    tags=("metrics", "scalar"),
)
def m4_payout_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    payout = clip((F.col("value") - 50) / 20.0, -1.0, 1.0)
    return ev.select("event_id", F.round(payout, 6).alias("payout"))


# ---------------------------------------------------------------- auc1

@query(
    "auc1_roc_auc",
    oracle="""
        WITH r AS (
            SELECT value, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
            FROM events
        ),
        v AS (SELECT value, count(*) AS c, sum(y) AS cp FROM r GROUP BY 1),
        p AS (
            SELECT value, c, cp,
                   coalesce(sum(c) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED
                                         PRECEDING AND 1 PRECEDING), 0) AS pfx
            FROM v
        ),
        t AS (SELECT sum(y) AS npos, count(*) - sum(y) AS nneg FROM r),
        s AS (SELECT sum(cp * (pfx + (c + 1) / 2.0)) AS sumr FROM p)
        SELECT CAST(t.npos AS BIGINT) AS npos,
               CAST(t.nneg AS BIGINT) AS nneg,
               round((s.sumr - t.npos * (t.npos + 1) / 2.0)
                     / (t.npos * CAST(t.nneg AS DOUBLE)), 6) AS auc
        FROM t, s
    """,
    doc="auc1 distributed ROC-AUC via the Mann-Whitney rank-sum "
        "identity (AUC = P(score_pos > score_neg) with ties at 1/2): "
        "midranks per DISTINCT score come from a prefix sum of "
        "value-level counts — computed with w2/sky1's two-pass "
        "pattern (range-repartition the distinct-score relation, "
        "window the prefix INSIDE each range partition, fold in "
        "previous partitions via the triangular one-row-per-"
        "partition join) — never a global sort of the scored rows "
        "and never a single-partition window, which is what makes "
        "AUC viable on a 100 TB score table (the pairwise "
        "P(pos>neg) definition is O(npos x nneg) and the naive "
        "ranking plan single-partitions). Exact tie handling "
        "(midranks), exact oracle.",
    tags=("metric", "agg"),
)
def auc1_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    r = ev.select(
        "value", F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y")
    )
    from .relational import global_prefix_agg

    v = r.groupBy("value").agg(F.count("*").alias("c"), F.sum("y").alias("cp"))
    p = global_prefix_agg(v, ["value"], [("c", "sum", "pfx")]).select(
        "value", "c", "cp", "pfx"
    )
    s = p.agg(
        F.sum(F.col("cp") * (F.col("pfx") + (F.col("c") + 1) / 2.0)).alias("sumr")
    )
    t = r.agg(
        F.sum("y").alias("npos"), (F.count("*") - F.sum("y")).alias("nneg")
    )
    auc = (F.col("sumr") - F.col("npos") * (F.col("npos") + 1) / 2.0) / (
        F.col("npos") * F.col("nneg").cast("double")
    )
    return t.crossJoin(F.broadcast(s)).select(
        F.col("npos").cast("bigint").alias("npos"),
        F.col("nneg").cast("bigint").alias("nneg"),
        F.round(auc, 6).alias("auc"),
    )


# ---------------------------------------------------------------- ips1

@query(
    "ips1_offpolicy_eval",
    oracle="""
        WITH log AS (
            SELECT user_id, event_type AS a, value AS reward FROM events
        ),
        marg AS (
            SELECT a, count(*) / CAST((SELECT count(*) FROM log) AS DOUBLE) AS p
            FROM log GROUP BY a
        ),
        pref AS (
            SELECT user_id, a AS a_star,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY count(*) DESC, a) AS rn
            FROM log GROUP BY user_id, a QUALIFY rn = 1
        )
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN l.a = pref.a_star THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_matched,
               round(avg(l.reward), 6) AS naive_mean,
               round(sum(CASE WHEN l.a = pref.a_star THEN l.reward / m.p ELSE 0 END)
                     / count(*), 6) AS ips_estimate
        FROM log l
        JOIN marg m ON l.a = m.a
        JOIN pref ON l.user_id = pref.user_id
    """,
    doc="ips1 off-policy (counterfactual) evaluation via inverse "
        "propensity scoring — the Horvitz-Thompson / replay estimator "
        "(Li et al. WSDM'11): estimate what a TARGET policy (here: "
        "recommend each user's modal action, deterministic tie-break) "
        "would have earned from logs collected under the LOGGING "
        "policy (propensity = global action marginal), without ever "
        "deploying it: sum reward x match-indicator / propensity over "
        "the log. The estimator every recommender/ads team runs "
        "before an A/B test; naive_mean is the (biased) baseline it "
        "corrects. Plan: one map-side-combined marginal (broadcast), "
        "one per-user modal-action aggregate joined back, one final "
        "1-row reduce — no window over fact rows except the per-user "
        "modal argmax (user-partitioned).",
    tags=("metric", "agg", "pipeline"),
)
def ips1_offpolicy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    log = ev.select("user_id", F.col("event_type").alias("a"), F.col("value").alias("reward"))
    n_total = log.count()
    marg = log.groupBy("a").agg((F.count("*") / F.lit(float(n_total))).alias("p"))
    cnt = log.groupBy("user_id", "a").agg(F.count("*").alias("c"))
    wpref = Window.partitionBy("user_id").orderBy(F.desc("c"), F.asc("a"))
    pref = (
        cnt.withColumn("rn", F.row_number().over(wpref))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("a").alias("a_star"))
    )
    joined = log.join(F.broadcast(marg), "a").join(pref, "user_id")
    match = F.when(F.col("a") == F.col("a_star"), 1).otherwise(0)
    return joined.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(match).cast("bigint").alias("n_matched"),
        F.round(F.avg("reward"), 6).alias("naive_mean"),
        F.round(
            F.sum(F.when(F.col("a") == F.col("a_star"), F.col("reward") / F.col("p")).otherwise(0.0))
            / F.count("*"),
            6,
        ).alias("ips_estimate"),
    )


# ---------------------------------------------------------------- ab1

@query(
    "ab1_cuped_abtest",
    oracle="""
        WITH span AS (SELECT min(ts) AS lo, max(ts) AS hi FROM events),
        marked AS (
            SELECT e.user_id, e.value,
                   (epoch_us(e.ts) - epoch_us(s.lo)) * 2
                       >= (epoch_us(s.hi) - epoch_us(s.lo)) AS is_post
            FROM events e CROSS JOIN span s
        ),
        per_user AS (
            SELECT user_id, user_id % 2 AS arm,
                   avg(CASE WHEN is_post THEN value END) AS y,
                   avg(CASE WHEN NOT is_post THEN value END) AS x
            FROM marked GROUP BY user_id
            HAVING y IS NOT NULL AND x IS NOT NULL
        ),
        theta AS (
            SELECT covar_samp(x, y) / var_samp(x) AS th FROM per_user
        ),
        adj AS (
            SELECT arm, y, y - th * x AS y_adj FROM per_user CROSS JOIN theta
        ),
        stats AS (
            SELECT arm, count(*) AS n,
                   avg(y) AS m_raw, var_samp(y) AS v_raw,
                   avg(y_adj) AS m_adj, var_samp(y_adj) AS v_adj
            FROM adj GROUP BY arm
        )
        SELECT CAST(a.n AS BIGINT) AS n_treat, CAST(b.n AS BIGINT) AS n_ctrl,
               round(a.m_raw - b.m_raw, 6) AS lift_raw,
               round((a.m_raw - b.m_raw)
                     / sqrt(a.v_raw / a.n + b.v_raw / b.n), 6) AS t_raw,
               round(a.m_adj - b.m_adj, 6) AS lift_cuped,
               round((a.m_adj - b.m_adj)
                     / sqrt(a.v_adj / a.n + b.v_adj / b.n), 6) AS t_cuped
        FROM stats a JOIN stats b ON a.arm = 1 AND b.arm = 0
    """,
    doc="ab1 A/B-test readout with CUPED variance reduction (Deng et "
        "al. WSDM'13): per-user post-period metric vs a pre-period "
        "covariate (first half of the event span), arms by user "
        "hash. Reports the raw Welch t alongside the CUPED-adjusted "
        "one (y - theta x, theta = cov(x,y)/var(x)) — the standard "
        "sensitivity win every experimentation platform ships, "
        "reducing metric variance by the covariate's R^2. Everything "
        "is closed-form aggregates: one per-user conditional "
        "aggregate, a 1-row theta broadcast, a 2-row arm rollup — "
        "so unlike the model-fit family this is fully ORACLE-exact. "
        "At 100 TB the per-user aggregate is the only wide shuffle.",
    tags=("metric", "agg", "pipeline"),
)
def ab1_cuped_abtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    marked = ev.crossJoin(F.broadcast(span)).select(
        "user_id",
        "value",
        (
            (F.unix_micros("ts") - F.unix_micros("lo")) * 2
            >= (F.unix_micros("hi") - F.unix_micros("lo"))
        ).alias("is_post"),
    )
    per_user = (
        marked.groupBy("user_id")
        .agg(
            F.avg(F.when(F.col("is_post"), F.col("value"))).alias("y"),
            F.avg(F.when(~F.col("is_post"), F.col("value"))).alias("x"),
        )
        .filter(F.col("y").isNotNull() & F.col("x").isNotNull())
        .select((F.col("user_id") % 2).alias("arm"), "x", "y")
    )
    theta = per_user.agg(
        (F.covar_samp("x", "y") / F.var_samp("x")).alias("th")
    )
    adj = per_user.crossJoin(F.broadcast(theta)).select(
        "arm", "y", (F.col("y") - F.col("th") * F.col("x")).alias("y_adj")
    )
    # fold the 2-row arm stats into ONE conditional reduce — a 2-row
    # theta-join on arm compiles to a CartesianProduct node, and the
    # audit (rightly) has no reason to allowlist a join we don't need
    def arm_stat(agg, col, arm):
        return agg(F.when(F.col("arm") == arm, F.col(col)))

    stats = adj.agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_c"),
        arm_stat(F.avg, "y", 1).alias("mt_raw"),
        arm_stat(F.avg, "y", 0).alias("mc_raw"),
        arm_stat(F.var_samp, "y", 1).alias("vt_raw"),
        arm_stat(F.var_samp, "y", 0).alias("vc_raw"),
        arm_stat(F.avg, "y_adj", 1).alias("mt_adj"),
        arm_stat(F.avg, "y_adj", 0).alias("mc_adj"),
        arm_stat(F.var_samp, "y_adj", 1).alias("vt_adj"),
        arm_stat(F.var_samp, "y_adj", 0).alias("vc_adj"),
    )
    return stats.select(
        F.col("n_t").cast("bigint").alias("n_treat"),
        F.col("n_c").cast("bigint").alias("n_ctrl"),
        F.round(F.col("mt_raw") - F.col("mc_raw"), 6).alias("lift_raw"),
        F.round(
            (F.col("mt_raw") - F.col("mc_raw"))
            / F.sqrt(F.col("vt_raw") / F.col("n_t") + F.col("vc_raw") / F.col("n_c")),
            6,
        ).alias("t_raw"),
        F.round(F.col("mt_adj") - F.col("mc_adj"), 6).alias("lift_cuped"),
        F.round(
            (F.col("mt_adj") - F.col("mc_adj"))
            / F.sqrt(F.col("vt_adj") / F.col("n_t") + F.col("vc_adj") / F.col("n_c")),
            6,
        ).alias("t_cuped"),
    )


# ---------------------------------------------------------------- srv1

@query(
    "srv1_kaplan_meier",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   min(CAST(ts AS DATE)) AS t0,
                   min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END) AS tp,
                   max(CAST(ts AS DATE)) AS tl
            FROM events GROUP BY user_id
        ),
        obs AS (
            SELECT CASE WHEN tp IS NOT NULL THEN tp - t0 ELSE tl - t0 END AS dur,
                   CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
            FROM per_user
        ),
        lvl AS (
            SELECT dur, sum(ev) AS d, count(*) - sum(ev) AS c
            FROM obs GROUP BY dur
        ),
        risk AS (
            SELECT dur, d, c,
                   (SELECT count(*) FROM obs) -
                   coalesce(sum(d + c) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED
                                             PRECEDING AND 1 PRECEDING), 0) AS n_risk
            FROM lvl
        )
        SELECT CAST(dur AS INTEGER) AS dur,
               CAST(n_risk AS BIGINT) AS n_risk,
               CAST(d AS BIGINT) AS d_events,
               round(CASE WHEN max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
                              OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED
                                    PRECEDING AND CURRENT ROW) = 1
                          THEN 0.0
                          ELSE exp(sum(CASE WHEN d < n_risk
                                            THEN ln(1 - CAST(d AS DOUBLE) / n_risk)
                                            ELSE 0.0 END)
                                   OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED
                                         PRECEDING AND CURRENT ROW))
                     END, 6) AS survival
        FROM risk
    """,
    doc="srv1 Kaplan-Meier survival curve for time-to-conversion with "
        "right censoring: per user, duration = days from first event "
        "to first purchase, censored at last activity if none — the "
        "estimator behind churn/retention/time-to-value curves, and "
        "the CORRECT way to use users who haven't converted YET "
        "(dropping them biases the curve optimistic; an1's retention "
        "matrix has no censoring notion). S(t) = prod(1 - d_i/n_i) "
        "over event times, computed distributed as exp(prefix-sum of "
        "ln terms): one per-user aggregate (the only wide shuffle), "
        "then ALL curve math lives on the duration-level relation — "
        "bounded by the calendar span, so its prefix windows are "
        "bounded metadata work (ru1's calendar-bounded pattern), "
        "never a window over users.",
    tags=("metric", "temporal", "agg"),
)
def srv1_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    per_user = ev.groupBy("user_id").agg(
        F.min(day).alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", day)).alias("tp"),
        F.max(day).alias("tl"),
    )
    obs = per_user.select(
        F.when(
            F.col("tp").isNotNull(), F.datediff("tp", "t0")
        ).otherwise(F.datediff("tl", "t0")).alias("dur"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    lvl = obs.groupBy("dur").agg(
        F.sum("ev").alias("d"), (F.count("*") - F.sum("ev")).alias("c")
    )
    total = obs.agg(F.count("*").alias("n_total"))
    # duration-level relation is bounded by the calendar span: the
    # triangular prefix join is metadata-sized (ru1's pattern), not a
    # fact-table window
    prev = lvl.select(F.col("dur").alias("dur2"), (F.col("d") + F.col("c")).alias("out2"))
    risk = (
        lvl.join(F.broadcast(prev), F.col("dur2") < F.col("dur"), "left")
        .groupBy("dur", "d", "c")
        .agg(F.coalesce(F.sum("out2"), F.lit(0)).alias("gone"))
        .crossJoin(F.broadcast(total))
        .select("dur", "d", "c", (F.col("n_total") - F.col("gone")).alias("n_risk"))
    )
    lnterm = risk.select(
        "dur", "d", "n_risk",
        # d == n_risk means survival hits exactly 0 at this time point;
        # ln(0) is guarded by the zero flag instead
        F.when(
            F.col("d") < F.col("n_risk"),
            F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")),
        ).otherwise(F.lit(0.0)).alias("lt"),
        F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0).alias("z"),
    )
    prev_lt = lnterm.select(
        F.col("dur").alias("dur3"), F.col("lt").alias("lt3"), F.col("z").alias("z3")
    )
    return (
        lnterm.join(F.broadcast(prev_lt), F.col("dur3") <= F.col("dur"), "left")
        .groupBy("dur", "d", "n_risk")
        .agg(
            F.when(F.max("z3") == 1, F.lit(0.0))
            .otherwise(F.exp(F.sum("lt3")))
            .alias("s")
        )
        .select(
            F.col("dur").cast("int").alias("dur"),
            F.col("n_risk").cast("bigint").alias("n_risk"),
            F.col("d").cast("bigint").alias("d_events"),
            F.round("s", 6).alias("survival"),
        )
    )


# ---------------------------------------------------------------- ols1

@query(
    "ols1_regression_report",
    oracle="""
        WITH s AS (
            SELECT count(*) AS n,
                   avg(l_quantity) AS mx, avg(l_extendedprice) AS my,
                   covar_samp(l_quantity, l_extendedprice) AS sxy,
                   var_samp(l_quantity) AS sxx,
                   var_samp(l_extendedprice) AS syy
            FROM lineitem
        )
        SELECT CAST(n AS BIGINT) AS n,
               round(sxy / sxx, 6) AS slope,
               round(my - (sxy / sxx) * mx, 6) AS intercept,
               round((sxy * sxy) / (sxx * syy), 6) AS r2,
               round(sqrt((syy - sxy * sxy / sxx) * (n - 1) / n), 6) AS rmse
        FROM s
    """,
    doc="ols1 simple-regression diagnostics report (price ~ quantity "
        "on lineitem): slope, intercept, R^2 and population RMSE from "
        "the CLOSED-FORM normal equations — one pass of five "
        "covariance-family aggregates (all map-side combined, "
        "Welford-merged by the engine), a 1-row output at any scale. "
        "The oracle-exact little sibling of the suffstats ridge "
        "(x1b): same statistics, one feature, no matrix inversion — "
        "and the template for any 'fit a line to 100 TB in one "
        "aggregate pass' diagnostic.",
    tags=("metric", "agg"),
)
def ols1_regression_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = li.agg(
        F.count("*").alias("n"),
        F.avg("l_quantity").alias("mx"),
        F.avg("l_extendedprice").alias("my"),
        F.covar_samp("l_quantity", "l_extendedprice").alias("sxy"),
        F.var_samp("l_quantity").alias("sxx"),
        F.var_samp("l_extendedprice").alias("syy"),
    )
    slope = F.col("sxy") / F.col("sxx")
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round(F.col("my") - slope * F.col("mx"), 6).alias("intercept"),
        F.round((F.col("sxy") * F.col("sxy")) / (F.col("sxx") * F.col("syy")), 6).alias("r2"),
        F.round(
            F.sqrt(
                (F.col("syy") - F.col("sxy") * F.col("sxy") / F.col("sxx"))
                * (F.col("n") - 1)
                / F.col("n")
            ),
            6,
        ).alias("rmse"),
    )


# ---------------------------------------------------------------- chi1

@query(
    "chi1_independence",
    oracle="""
        WITH o AS (
            SELECT lang, source, count(*) AS obs FROM documents GROUP BY 1, 2
        ),
        r AS (SELECT lang, sum(obs) AS rn FROM o GROUP BY 1),
        c AS (SELECT source, sum(obs) AS cn FROM o GROUP BY 1),
        t AS (SELECT sum(obs) AS n FROM o),
        cells AS (
            SELECT o.obs, r.rn * c.cn / CAST(t.n AS DOUBLE) AS e,
                   r.rn, c.cn, t.n
            FROM o JOIN r USING (lang) JOIN c USING (source) CROSS JOIN t
        )
        SELECT CAST(max(n) AS BIGINT) AS n,
               CAST((SELECT count(*) - 1 FROM r) * (SELECT count(*) - 1 FROM c)
                    AS BIGINT) AS dof,
               round(sum((obs - e) * (obs - e) / e), 4) AS chi2,
               round(sqrt(sum((obs - e) * (obs - e) / e) / max(n)
                          / least((SELECT count(*) - 1 FROM r),
                                  (SELECT count(*) - 1 FROM c))), 4) AS cramers_v
        FROM cells
    """,
    doc="chi1 chi-square test of independence (lang x source on the "
        "corpus) + Cramer's V effect size — the categorical-"
        "association audit a curation team runs before stratifying "
        "or mixing by either column (high V means lang and source "
        "are confounded and per-source quotas silently skew the "
        "language mix). Contingency, marginals and the statistic are "
        "all map-side-combined integer-count aggregates; the cell "
        "relation is |lang| x |source| rows at any corpus size.",
    tags=("metric", "agg", "text"),
)
def chi1_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    o = d.groupBy("lang", "source").agg(F.count("*").alias("obs"))
    r = o.groupBy("lang").agg(F.sum("obs").alias("rn"))
    c = o.groupBy("source").agg(F.sum("obs").alias("cn"))
    t = o.agg(F.sum("obs").alias("n"))
    nr = r.count()
    nc = c.count()
    cells = (
        o.join(F.broadcast(r), "lang")
        .join(F.broadcast(c), "source")
        .crossJoin(F.broadcast(t))
        .select(
            "obs",
            (F.col("rn") * F.col("cn") / F.col("n").cast("double")).alias("e"),
            "n",
        )
    )
    chi2 = F.sum((F.col("obs") - F.col("e")) * (F.col("obs") - F.col("e")) / F.col("e"))
    return cells.agg(
        F.max("n").cast("bigint").alias("n"),
        F.lit((nr - 1) * (nc - 1)).cast("bigint").alias("dof"),
        F.round(chi2, 4).alias("chi2"),
        F.round(
            F.sqrt(chi2 / F.max("n") / F.lit(min(nr - 1, nc - 1))), 4
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------- ks1

@query(
    "ks1_two_sample",
    oracle="""
        WITH s AS (
            SELECT value,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g1,
                   CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g2
            FROM events WHERE event_type IN ('purchase', 'click')
        ),
        v AS (SELECT value, sum(g1) AS c1, sum(g2) AS c2 FROM s GROUP BY 1),
        t AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM v),
        p AS (
            SELECT sum(c1) OVER (ORDER BY value) AS f1,
                   sum(c2) OVER (ORDER BY value) AS f2
            FROM v
        )
        SELECT CAST(t.n1 AS BIGINT) AS n1, CAST(t.n2 AS BIGINT) AS n2,
               round(max(abs(f1 / CAST(t.n1 AS DOUBLE)
                             - f2 / CAST(t.n2 AS DOUBLE))), 6) AS ks_stat
        FROM p, t
        GROUP BY t.n1, t.n2
    """,
    doc="ks1 two-sample Kolmogorov-Smirnov statistic (purchase vs "
        "click value distributions) — the standard nonparametric "
        "DRIFT test a pipeline runs between data batches or "
        "before/after a filter change: sup |F1 - F2| over the merged "
        "support. Distributed shape = auc1's: one value-level count "
        "aggregate, then BOTH empirical CDFs as prefix sums over the "
        "distinct-value relation via the two-pass range-partition "
        "pattern (local window + triangular partition-offset join), "
        "one final max-reduce — never a global sort of raw rows, "
        "never a single-partition window. Integer prefix counts, so "
        "only the final ratio is float: oracle-exact.",
    tags=("metric", "agg", "pipeline"),
)
def ks1_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("g1"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("g2"),
    )
    from .relational import global_prefix_agg

    v = s.groupBy("value").agg(F.sum("g1").alias("c1"), F.sum("g2").alias("c2"))
    t = s.agg(F.sum("g1").alias("n1"), F.sum("g2").alias("n2"))
    p = global_prefix_agg(
        v, ["value"], [("c1", "sum", "f1"), ("c2", "sum", "f2")], inclusive=True
    ).select("f1", "f2")
    return (
        p.crossJoin(F.broadcast(t))
        .agg(
            F.max("n1").cast("bigint").alias("n1"),
            F.max("n2").cast("bigint").alias("n2"),
            F.round(
                F.max(
                    F.abs(
                        F.col("f1") / F.col("n1").cast("double")
                        - F.col("f2") / F.col("n2").cast("double")
                    )
                ),
                6,
            ).alias("ks_stat"),
        )
    )


# ---------------------------------------------------------------- psi1

PSI_BINS = 10
PSI_EPS = "0.0001"  # Laplace-style floor for empty bins, both engines


@query(
    "psi1_population_stability",
    oracle=f"""
        WITH span AS (
            SELECT min(ts) AS lo, max(ts) AS hi,
                   min(value) AS vlo, max(value) AS vhi
            FROM events
        ),
        b AS (
            SELECT e.event_type,
                   (epoch_us(e.ts) - epoch_us(s.lo)) * 2
                       >= (epoch_us(s.hi) - epoch_us(s.lo)) AS is_new,
                   CASE WHEN s.vhi > s.vlo THEN
                       least({PSI_BINS} - 1,
                             greatest(0, CAST(floor((e.value - s.vlo)
                                        / ((s.vhi - s.vlo) / {PSI_BINS})) AS INTEGER)))
                   ELSE 0 END AS bin
            FROM events e CROSS JOIN span s
        ),
        ct AS (
            SELECT event_type, bin,
                   sum(CASE WHEN is_new THEN 0 ELSE 1 END) AS c_ref,
                   sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS c_new
            FROM b GROUP BY 1, 2
        ),
        tot AS (
            SELECT event_type, sum(c_ref) AS n_ref, sum(c_new) AS n_new
            FROM ct GROUP BY 1
        ),
        frac AS (
            SELECT ct.event_type,
                   greatest(c_ref / CAST(n_ref AS DOUBLE), {PSI_EPS}) AS p,
                   greatest(c_new / CAST(n_new AS DOUBLE), {PSI_EPS}) AS q
            FROM ct JOIN tot USING (event_type)
        )
        SELECT event_type,
               round(sum((p - q) * ln(p / q)), 6) AS psi
        FROM frac GROUP BY event_type
    """,
    doc="psi1 Population Stability Index per event type — THE "
        "production drift metric (credit-scoring lineage; the number "
        "on every model-monitoring dashboard, rule of thumb: <0.1 "
        "stable, >0.25 retrain): value distribution of the first "
        "half of the span (reference) vs the second (current) over "
        f"{PSI_BINS} fixed-width bins, PSI = sum (p-q) ln(p/q) with "
        "an epsilon floor for empty bins (identical in both engines, "
        "so the oracle is exact — ks1 is the nonparametric sibling; "
        "PSI is what ops teams actually alert on). Integer bin "
        "counts from one scan with two 1-row broadcasts (time span, "
        "value extent); all float math happens on the bounded "
        "|types| x |bins| relation.",
    tags=("metric", "agg", "pipeline"),
)
def psi1_population_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(
        F.min("ts").alias("lo"),
        F.max("ts").alias("hi"),
        F.min("value").alias("vlo"),
        F.max("value").alias("vhi"),
    )
    b = ev.crossJoin(F.broadcast(span)).select(
        "event_type",
        (
            (F.unix_micros("ts") - F.unix_micros("lo")) * 2
            >= (F.unix_micros("hi") - F.unix_micros("lo"))
        ).alias("is_new"),
        # degenerate-span guard: a batch where every value is equal
        # would divide by zero (Spark NULL vs DuckDB inf/NaN divergence)
        # — all mass lands in bin 0 on both engines instead
        F.when(
            F.col("vhi") > F.col("vlo"),
            F.least(
                F.lit(PSI_BINS - 1),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (F.col("value") - F.col("vlo"))
                        / ((F.col("vhi") - F.col("vlo")) / PSI_BINS)
                    ).cast("int"),
                ),
            ),
        ).otherwise(0).alias("bin"),
    )
    ct = b.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("is_new"), 0).otherwise(1)).alias("c_ref"),
        F.sum(F.when(F.col("is_new"), 1).otherwise(0)).alias("c_new"),
    )
    tot = ct.groupBy("event_type").agg(
        F.sum("c_ref").alias("n_ref"), F.sum("c_new").alias("n_new")
    )
    eps = float(PSI_EPS)
    frac = ct.join(tot, "event_type").select(
        "event_type",
        F.greatest(F.col("c_ref") / F.col("n_ref").cast("double"), F.lit(eps)).alias("p"),
        F.greatest(F.col("c_new") / F.col("n_new").cast("double"), F.lit(eps)).alias("q"),
    )
    return frac.groupBy("event_type").agg(
        F.round(
            F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))), 6
        ).alias("psi")
    )


# ---------------------------------------------------------------- gini1

@query(
    "gini1_revenue_concentration",
    oracle="""
        WITH rev AS (
            SELECT o_custkey, sum(o_totalprice) AS r
            FROM orders GROUP BY 1
        ),
        ranked AS (
            SELECT r, row_number() OVER (ORDER BY r, o_custkey) AS i,
                   count(*) OVER () AS n, sum(r) OVER () AS tot
            FROM rev
        )
        SELECT CAST(max(n) AS BIGINT) AS n_customers,
               round(2.0 * sum(i * r) / (max(n) * max(tot))
                     - (max(n) + 1.0) / max(n), 6) AS gini
        FROM ranked
    """,
    doc="gini1 revenue-concentration Gini coefficient over customers "
        "(G = 2 sum(i x_i)/(n sum x) - (n+1)/n on rank-sorted "
        "revenue) — the whale-dependence number a marketplace watches "
        "(0 = uniform, ->1 = one customer is the business), and the "
        "same computation as a training-corpus's source-concentration "
        "audit. The rank weights come from the two-pass distributed "
        "global_rank over the customer-revenue relation (w2's "
        "machinery — never a single-partition window), followed by "
        "one reduce. Revenue ties are broken by key so both engines "
        "rank identically; sum(i*x) is then order-free up to float "
        "rounding on the final reduce.",
    tags=("metric", "agg", "order"),
)
def gini1_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import global_rank

    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("r"))
    ranked = global_rank(rev, "r", "o_custkey", out="i")
    tot = rev.agg(F.count("*").alias("n"), F.sum("r").alias("tot"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .agg(
            F.max("n").cast("bigint").alias("n_customers"),
            F.round(
                F.lit(2.0) * F.sum(F.col("i") * F.col("r")) / (F.max("n") * F.max("tot"))
                - (F.max("n") + F.lit(1.0)) / F.max("n"),
                6,
            ).alias("gini"),
        )
    )


# ---------------------------------------------------------------- match1

MATCH_CALIPER = 3


@query(
    "match1_caliper_matching",
    oracle=f"""
        WITH first_ev AS (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
            FROM events
        ),
        u AS (
            SELECT e.user_id,
                   max(CASE WHEN f.event_type = 'signup' THEN 1 ELSE 0 END) AS treated,
                   sum(CASE WHEN e.event_type IN ('click', 'view') THEN 1 ELSE 0 END) AS score,
                   round(CAST(sum(CASE WHEN e.event_type = 'purchase' THEN e.value ELSE 0 END)
                              AS DOUBLE), 2) AS y
            FROM events e
            JOIN (SELECT user_id, event_type FROM first_ev WHERE rn = 1) f
              ON f.user_id = e.user_id
            GROUP BY e.user_id
        ),
        t AS (SELECT user_id AS tid, score AS ts, y AS ty FROM u WHERE treated = 1),
        c AS (SELECT user_id AS cid, score AS cs, y AS cy FROM u WHERE treated = 0),
        cand AS (
            SELECT t.tid, t.ty, c.cid, c.cy, abs(t.ts - c.cs) AS d
            FROM t JOIN c ON c.cs BETWEEN t.ts - {MATCH_CALIPER} AND t.ts + {MATCH_CALIPER}
        ),
        best AS (
            SELECT tid, ty, cy,
                   row_number() OVER (PARTITION BY tid ORDER BY d, cid) AS rn
            FROM cand
        ),
        m AS (SELECT tid, ty, cy FROM best WHERE rn = 1),
        naive AS (
            SELECT avg(CASE WHEN treated = 1 THEN y END)
                   - avg(CASE WHEN treated = 0 THEN y END) AS nd,
                   sum(treated) AS n_treated
            FROM u
        )
        SELECT CAST(naive.n_treated AS BIGINT) AS n_treated,
               CAST((SELECT count(*) FROM m) AS BIGINT) AS n_matched,
               round((SELECT avg(ty - cy) FROM m), 6) AS att,
               round(naive.nd, 6) AS naive_diff
        FROM naive
    """,
    doc="match1 caliper nearest-neighbor matching — the observational "
        "causal-inference estimator beside ab1 (randomized + CUPED), "
        "ips1 (off-policy) and srv1 (censoring): treated units (users "
        "whose FIRST event is a signup — the organically-acquired "
        "cohort; a per-user argmin with (ts, event_id) tie-break) are "
        "matched WITH REPLACEMENT to the nearest "
        "control by an integer activity score (clicks+views) within a "
        f"caliper of {MATCH_CALIPER}, and ATT = mean matched outcome "
        "difference on purchase revenue, reported against the "
        "confounded naive difference. Scale shape: one per-user "
        "aggregate (the only wide shuffle), then a caliper RANGE join "
        "whose pair mass is bounded by band width × score density — "
        "never the T×C cross join — and a per-treated argmin window "
        "(groups are caliper-bounded). Deterministic: integer score, "
        "integer distance, (distance, control-id) tie-break.",
    tags=("metric", "agg", "pipeline"),
)
def match1_caliper_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wf = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first = (
        ev.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            (F.col("event_type") == "signup").cast("int").alias("treated"),
        )
    )
    u = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type").isin("click", "view"), 1).otherwise(0)).alias("score"),
            F.round(
                F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)), 2
            ).alias("y"),
        )
        .join(first, "user_id")
    )
    t = u.filter(F.col("treated") == 1).select(
        F.col("user_id").alias("tid"), F.col("score").alias("ts"), F.col("y").alias("ty")
    )
    # controls collapse to ONE representative per distinct score (the
    # min-id control there, carrying its outcome): the (distance, id)
    # tie-break only ever selects a per-score min-id control, so the
    # quotient is exact — and the caliper join's pair mass drops from
    # |treated| × |controls-in-band| (quadratic under duplication; the
    # ×10 probe measured 6.5× before this) to |treated| × (2·caliper+1)
    wc = Window.partitionBy("cs").orderBy("cid")
    c = (
        u.filter(F.col("treated") == 0)
        .select(F.col("user_id").alias("cid"), F.col("score").alias("cs"), F.col("y").alias("cy"))
        .withColumn("crn", F.row_number().over(wc))
        .filter(F.col("crn") == 1)
        .drop("crn")
    )
    cand = t.join(
        c,
        (F.col("cs") >= F.col("ts") - MATCH_CALIPER)
        & (F.col("cs") <= F.col("ts") + MATCH_CALIPER),
    ).select("tid", "ty", "cid", "cy", F.abs(F.col("ts") - F.col("cs")).alias("d"))
    w = Window.partitionBy("tid").orderBy("d", "cid")
    m = cand.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    naive = u.agg(
        (
            F.avg(F.when(F.col("treated") == 1, F.col("y")))
            - F.avg(F.when(F.col("treated") == 0, F.col("y")))
        ).alias("nd"),
        F.sum("treated").alias("n_treated"),
    )
    att = m.agg(
        F.count("*").alias("n_matched"), F.avg(F.col("ty") - F.col("cy")).alias("att")
    )
    return naive.crossJoin(F.broadcast(att)).select(
        F.col("n_treated").cast("bigint").alias("n_treated"),
        F.col("n_matched").cast("bigint").alias("n_matched"),
        F.round("att", 6).alias("att"),
        F.round("nd", 6).alias("naive_diff"),
    )


# ---------------------------------------------------------------- calib1

CALIB_BINS = 10


@query(
    "calib1_reliability_table",
    oracle=f"""
        WITH s AS (
            SELECT least(1.0, value / 200.0) AS score,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
            FROM events
        ),
        b AS (
            SELECT least({CALIB_BINS} - 1,
                         CAST(floor(score * {CALIB_BINS}) AS INTEGER)) AS bin,
                   score, y
            FROM s
        ),
        per AS (
            SELECT bin, count(*) AS n, avg(score) AS mean_score,
                   sum(y) AS n_pos, avg(CAST(y AS DOUBLE)) AS frac_pos
            FROM b GROUP BY bin
        ),
        tot AS (SELECT sum(n) AS nn FROM per)
        SELECT bin, CAST(n AS BIGINT) AS n,
               round(mean_score, 6) AS mean_score,
               CAST(n_pos AS BIGINT) AS n_pos,
               round(frac_pos, 6) AS frac_pos,
               round(abs(mean_score - frac_pos) * n / tot.nn, 6) AS ece_contrib
        FROM per, tot
    """,
    doc="calib1 reliability (calibration) table — the diagnostic "
        "behind iso1's fix: scores bucketed into fixed-width bins, "
        "per-bin mean score vs realized positive rate, plus each "
        "bin's weighted |gap| contribution (their sum is the "
        "Expected Calibration Error). Score = clipped value/200 "
        "against the purchase outcome — the shape, not the model, "
        "is the point: this composes with ANY scored relation "
        "(log1's logistic outputs, cls1's quality classifier). One "
        "map-side-combined aggregate over |bins| groups; a 1-row "
        "total broadcast. iso1 then MAKES the curve monotone; "
        "calib1 is how you decide you need it.",
    tags=("metric", "agg", "ml"),
)
def calib1_reliability_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        F.least(F.lit(1.0), F.col("value") / 200.0).alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    b = s.select(
        F.least(
            F.lit(CALIB_BINS - 1), F.floor(F.col("score") * CALIB_BINS).cast("int")
        ).alias("bin"),
        "score",
        "y",
    )
    per = b.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.avg("score").alias("mean_score"),
        F.sum("y").alias("n_pos"),
        F.avg(F.col("y").cast("double")).alias("frac_pos"),
    )
    tot = per.agg(F.sum("n").alias("nn"))
    return per.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.col("n").cast("bigint").alias("n"),
        F.round("mean_score", 6).alias("mean_score"),
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.round("frac_pos", 6).alias("frac_pos"),
        F.round(
            F.abs(F.col("mean_score") - F.col("frac_pos")) * F.col("n") / F.col("nn"), 6
        ).alias("ece_contrib"),
    )


# ---------------------------------------------------------------- dr1

@query(
    "dr1_doubly_robust_eval",
    oracle="""
        WITH log AS (
            SELECT user_id, event_type AS a, value AS reward FROM events
        ),
        marg AS (
            SELECT a, count(*) / CAST((SELECT count(*) FROM log) AS DOUBLE) AS p
            FROM log GROUP BY a
        ),
        q AS (SELECT a, avg(reward) AS qa FROM log GROUP BY a),
        pref AS (
            SELECT user_id, a AS a_star,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY count(*) DESC, a) AS rn
            FROM log GROUP BY user_id, a QUALIFY rn = 1
        )
        SELECT CAST(count(*) AS BIGINT) AS n,
               round(avg(qs.qa), 6) AS dm_estimate,
               round(sum(CASE WHEN l.a = pref.a_star THEN l.reward / m.p ELSE 0 END)
                     / count(*), 6) AS ips_estimate,
               round(avg(qs.qa
                         + CASE WHEN l.a = pref.a_star
                                THEN (l.reward - qa_l.qa) / m.p ELSE 0 END), 6)
                   AS dr_estimate
        FROM log l
        JOIN marg m ON l.a = m.a
        JOIN q qa_l ON qa_l.a = l.a
        JOIN pref ON l.user_id = pref.user_id
        JOIN q qs ON qs.a = pref.a_star
    """,
    doc="dr1 doubly-robust off-policy evaluation (Dudík/Langford/Li, "
        "ICML'11) — the estimator that supersedes ips1 in practice: "
        "DR = E[q̂(a*) + 1{a=a*}·(r − q̂(a))/p(a)] combines the direct "
        "model (per-action mean reward, reported as dm_estimate) with "
        "the IPS correction, staying unbiased if EITHER the reward "
        "model or the propensities are right and cutting IPS's "
        "variance when both are decent. Same scale shape as ips1: "
        "two bounded broadcast tables (action marginals, per-action "
        "reward model), one per-user modal-argmax window, one final "
        "1-row reduce.",
    tags=("metric", "agg", "pipeline"),
)
def dr1_doubly_robust_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    log = ev.select("user_id", F.col("event_type").alias("a"), F.col("value").alias("reward"))
    n_total = log.count()
    marg = log.groupBy("a").agg((F.count("*") / F.lit(float(n_total))).alias("p"))
    q = log.groupBy("a").agg(F.avg("reward").alias("qa"))
    cnt = log.groupBy("user_id", "a").agg(F.count("*").alias("c"))
    wpref = Window.partitionBy("user_id").orderBy(F.desc("c"), F.asc("a"))
    pref = (
        cnt.withColumn("rn", F.row_number().over(wpref))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("a").alias("a_star"))
    )
    joined = (
        log.join(F.broadcast(marg), "a")
        .join(F.broadcast(q.select("a", F.col("qa").alias("qa_logged"))), "a")
        .join(pref, "user_id")
        .join(
            F.broadcast(q.select(F.col("a").alias("a_star"), F.col("qa").alias("qa_star"))),
            "a_star",
        )
    )
    match = F.col("a") == F.col("a_star")
    corr = F.when(match, (F.col("reward") - F.col("qa_logged")) / F.col("p")).otherwise(0.0)
    return joined.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.avg("qa_star"), 6).alias("dm_estimate"),
        F.round(
            F.sum(F.when(match, F.col("reward") / F.col("p")).otherwise(0.0)) / F.count("*"),
            6,
        ).alias("ips_estimate"),
        F.round(F.avg(F.col("qa_star") + corr), 6).alias("dr_estimate"),
    )
