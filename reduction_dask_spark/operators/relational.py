"""Phase-1 relational operator library (SURVEY.md §2.1-2.2, §2.3-2.8).

Every operator here is a pure Catalyst built-in composition — no UDFs,
so predicate pushdown / column pruning / whole-stage codegen all apply.
Each @query carries a DuckDB oracle; column names and float rounding
are pinned identically on both sides (see functions/ module docstring).

Scale notes are inline per operator; the common ones:
- scans project/filter early → parquet pushdown (checked in plans/).
- joins: dims are broadcast; fact-fact joins shuffle on the join key
  and rely on AQE for skew.
- top-k uses TakeOrderedAndProject (no global sort materialization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions import (
    ERA_EVENTS_SQL,
    PRED_EVENTS_SQL,
    era_events,
    md5i,
    md5i_sql,
    phash,
    phash_sql,
    pred_events,
    probit_sql,
)
from ..caching import pin
from ..registry import query
from ..session import local_frame
from ..sources import load_table

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


# ---------------------------------------------------------------- S1

@query(
    "s1_scan_projection",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
    """,
    doc="S1 CSV/parquet scan + positional projection (nb cell 4; "
        "reference reads the wide CSV then slices columns). Projection "
        "reaches the parquet reader as ReadSchema (column pruning).",
    tags=("scan",),
)
def s1_scan_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


# ------------------------------------------------------------- P3-P8

@query(
    "p3_filter_isin",
    oracle="""
        SELECT event_id, event_type, value
        FROM events
        WHERE event_type IN ('purchase', 'signup') AND value > 50
    """,
    doc="P3 membership + comparison predicate (utils.py:34 "
        "`era.isin(i)`; nb cell 7 `num_era==2`). Pushed to parquet.",
    tags=("filter",),
)
def p3_filter_isin(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_type").isin("purchase", "signup") & (F.col("value") > 50)).select(
        "event_id", "event_type", "value"
    )


@query(
    "p4_dropna",
    oracle="""
        SELECT event_id, value AS v_big FROM events WHERE value > 100
    """,
    doc="P4 dropna after a null-introducing transform (metrics.py:17 "
        "`.join(era).dropna()`; tuners.py:431).",
    tags=("filter",),
)
def p4_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("v_big", F.when(F.col("value") > 100, F.col("value")))
        .na.drop(subset=["v_big"])
        .select("event_id", "v_big")
    )


@query(
    "p5_limit_pinned",
    oracle="SELECT event_id, value FROM events ORDER BY event_id LIMIT 100",
    doc="P5 head/slice (utils.py:151 `train_x[:num_fit_rows]`). The "
        "reference slice is positional; Spark pins determinism with an "
        "explicit ordering key (SURVEY.md §2.2 P5 note).",
    tags=("limit",),
)
def p5_limit_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.orderBy("event_id").limit(100).select("event_id", "value")


@query(
    "p6_sample_hash",
    oracle=f"""
        SELECT event_id, value FROM events
        WHERE {phash_sql('event_id', 100)} < 10
    """,
    doc="P6 deterministic 10% row sample (nb cell 7 `num_x.sample`). "
        "Engine-native sample() differs across engines and retries; "
        "portable hash-gate instead (FIXTURES.md §4).",
    tags=("sample",),
)
def p6_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(phash("event_id", 100) < 10).select("event_id", "value")


@query(
    "p8_union",
    oracle="""
        SELECT event_id, value FROM events WHERE value > 150
        UNION ALL
        SELECT event_id, value FROM events WHERE value < 10
    """,
    doc="P8 vertical concat (utils.py:167 `np.concatenate`; "
        "tuners.py:306-309 `np.append`). unionByName, never positional.",
    tags=("union",),
)
def p8_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    return ev.filter(F.col("value") > 150).unionByName(ev.filter(F.col("value") < 10))


# ------------------------------------------------------------- F1-F2, F9

@query(
    "f1_strip_prefix_cast",
    oracle=f"""
        SELECT event_id,
               CAST(regexp_replace('era' || CAST({ERA_EVENTS_SQL} AS VARCHAR), '^era', '') AS INTEGER) AS era
        FROM events
    """,
    doc="F1 string strip-prefix + int cast (nb cell 6: "
        "`era.map(lambda x: x.lstrip('era'))` → int). Round-trips the "
        "era label to prove the string path.",
    tags=("scalar",),
)
def f1_strip_prefix_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    label = F.concat(F.lit("era"), era_events().cast("string"))
    return ev.select(
        "event_id",
        F.regexp_replace(label, "^era", "").cast("int").alias("era"),
    )


@query(
    "f2_onehot_pivot",
    oracle="""
        SELECT user_id,
               count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
               count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
               count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
               count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
               count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        FROM events GROUP BY user_id
    """,
    doc="F2 one-hot encoding (nb cell 6 `pd.get_dummies`). Pivot with a "
        "pinned value list — at scale an unpinned pivot needs an extra "
        "distinct pass; pinning keeps it one shuffle.",
    tags=("pivot",),
)
def f2_onehot_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, EVENT_TYPES)
    )


@query(
    "f9_math_scalars",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               round(ln(l_extendedprice), 6) AS log_price,
               CAST(ceil(l_quantity / 7.0) AS BIGINT) AS qty_ceil,
               CAST(floor(l_discount * 100) AS BIGINT) AS disc_floor
        FROM lineitem WHERE l_extendedprice > 0
    """,
    doc="F9 log/ceil/floor scalars (tuners.py:449 np.log, :455 np.ceil; "
        "utils.py:111 np.floor). Whole-stage-codegen'd JVM expressions.",
    tags=("scalar",),
)
def f9_math_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_extendedprice") > 0).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.log(F.col("l_extendedprice")), 6).alias("log_price"),
        F.ceil(F.col("l_quantity") / 7.0).alias("qty_ceil"),
        F.floor(F.col("l_discount") * 100).alias("disc_floor"),
    )


# ---------------------------------------------------------------- joins

@query(
    "j1_index_align_join",
    oracle=f"""
        WITH pred AS (
            SELECT event_id, {PRED_EVENTS_SQL} AS pred FROM events
        ), era AS (
            SELECT event_id, {ERA_EVENTS_SQL} AS era FROM events WHERE value >= 1
        )
        SELECT p.event_id, p.pred, e.era
        FROM pred p JOIN era e ON p.event_id = e.event_id
    """,
    doc="J1+P7 index equi-join then dropna ⇒ inner (metrics.py:15-17: "
        "`pd.DataFrame(y_pred, index=y_true.index).join(era).dropna()`). "
        "Spark has no row index — the key is materialized (event_id). "
        "Both sides derive from the SAME events scan (per-event keys, "
        "so neither side is bounded): the join is left to the planner — "
        "a co-partitioned shuffle join at scale, broadcast only when "
        "AQE measures one side small enough.",
    tags=("join",),
)
def j1_index_align_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pred = ev.select("event_id", pred_events().alias("pred"))
    era = ev.filter(F.col("value") >= 1).select("event_id", era_events().alias("era"))
    return pred.join(era, "event_id", "inner").select("event_id", "pred", "era")


@query(
    "j2_semi_join",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Left-semi join (engine-completeness suite, SURVEY.md §2.4 "
        "closing note). Catalyst built-in; EXISTS pushdown.",
    tags=("join",),
)
def j2_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "j3_anti_join",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Left-anti join (completeness suite). NOT EXISTS.",
    tags=("join",),
)
def j3_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "j4_star_broadcast",
    oracle="""
        SELECT r.r_name AS region, n.n_name AS nation,
               round(CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE), 2) AS revenue,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name
    """,
    doc="Star-schema join chain with broadcast dims (TPC-H Q5 shape). "
        "At 100 TB: lineitem⋈orders is the only mandatory shuffle "
        "(both huge, co-partition on orderkey); nation/region are "
        "force-broadcast (25/5 rows); customer — the LARGE dim — is "
        "projected to its two join ints and AQE-planned: broadcast "
        "while it fits, shuffled hash join beyond. Revenue rounded(2) "
        "— float sum order is engine-dependent.",
    tags=("join", "agg"),
)
def j4_star_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "j5_range_join",
    oracle="""
        SELECT b.band_id, CAST(count(*) AS BIGINT) AS n, round(CAST(sum(l.l_extendedprice) AS DOUBLE), 2) AS price_sum
        FROM lineitem l
        JOIN (VALUES (0, 0.0, 10.0), (1, 10.0, 20.0), (2, 20.0, 30.0),
                     (3, 30.0, 40.0), (4, 40.0, 51.0)) AS b(band_id, lo, hi)
          ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
        GROUP BY b.band_id
    """,
    doc="Range (inequality) join against a small band dim — the "
        "completeness-suite range join (SURVEY.md §2.4). Broadcast "
        "nested-loop on the tiny side; at scale prefer bucketing the "
        "range key to an equi-join (see dedup/similarity operators).",
    tags=("join",),
)
def j5_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    bands = local_frame(
        spark,
        [(0, 0.0, 10.0), (1, 10.0, 20.0), (2, 20.0, 30.0), (3, 30.0, 40.0), (4, 40.0, 51.0)],
        "band_id int, lo double, hi double",
    )
    cond = (li.l_quantity >= bands.lo) & (li.l_quantity < bands.hi)
    return (
        li.join(F.broadcast(bands), cond)
        .groupBy("band_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("price_sum"))
    )


# ---------------------------------------------------------- aggregates

@query(
    "a2_distinct",
    oracle=f"SELECT DISTINCT {ERA_EVENTS_SQL} AS era FROM events",
    doc="A2 distinct era list (utils.py:23 `np.unique(era)`).",
    tags=("agg",),
)
def a2_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(era_events().alias("era")).distinct()


@query(
    "a3_grouped_mean",
    oracle="""
        SELECT event_type, round(avg(value), 6) AS mean_value,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type
    """,
    doc="A3 grouped mean (tuners.py:93-94 `np.mean(s, axis=1)` per "
        "param). Partial aggregation map-side, single shuffle.",
    tags=("agg",),
)
def a3_grouped_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("mean_value"), F.count("*").alias("n")
    )


@query(
    "a6_collect_group_members",
    oracle="""
        SELECT label, string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY vec_id) AS members
        FROM embeddings GROUP BY label
    """,
    doc="A6 dict-accumulate cluster members (feature_clustering.py:73-80 "
        "zip(labels, names) → {cluster: [feature,...]}). Sorted "
        "comma-joined string so the value hash is order-stable.",
    tags=("agg",),
)
def a6_collect_group_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    members = F.array_join(
        F.transform(F.array_sort(F.collect_list("vec_id")), lambda x: x.cast("string")), ","
    )
    return emb.groupBy("label").agg(members.alias("members"))


@query(
    "a8_cube",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="Grouping-sets completeness (SURVEY.md §2.5 closing note): CUBE.",
    tags=("agg",),
)
def a8_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("n")
    )


@query(
    "a9_rollup",
    oracle="""
        SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, o_orderpriority,
               round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total,
               CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY ROLLUP (yr, o_orderpriority)
    """,
    doc="Grouping-sets completeness: ROLLUP over (year, priority).",
    tags=("agg",),
)
def a9_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn("yr", F.year("o_orderdate").cast("int"))
        .rollup("yr", "o_orderpriority")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total"), F.count("*").alias("n"))
    )


# ----------------------------------------------------- windows / top-k

def global_rank(df: DataFrame, *order_cols, out: str = "rnk") -> DataFrame:
    """Distributed total-order rank without a single-partition window.

    Two-pass pattern: range-repartition on the sort keys (Spark's
    distributed sort machinery, the same thing orderBy uses), then
    row_number WITHIN each range partition plus the per-partition row
    counts as offsets (a bounded driver-side table: one integer per
    partition).  Output values are independent of where the sampled
    range boundaries land.  Requires the ordering to be total (callers
    append a unique tie-break key), so rank == row_number.

    A plain ``Window.orderBy`` computes the same thing by moving the
    ENTIRE relation to one partition — fine for bounded metadata,
    fatal for a 100 TB-derived score table.
    """
    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # PID-CONSISTENCY CONTRACT: the local window and the offset branch
    # must observe IDENTICAL partition ids. Relying on plan-level
    # exchange reuse is NOT safe — under AQE each branch compiles to
    # its own ShuffleQueryStage, and range boundaries are SAMPLED per
    # exchange instance (seeded by rdd.id), so two physical exchanges
    # can legally split a key run across different partition ids and
    # silently misalign the offsets at scale (small SFs mask it: the
    # sample covers the whole relation). persist() pins one
    # materialized exchange that every branch reads; a cache-miss
    # recompute replays the SAME exchange instance (boundaries are
    # fixed driver-side at partitioner creation), so pids stay
    # consistent even under executor loss. tests/test_plans.py pins
    # the single-range-exchange shape. Cache lifecycle is CALLER-owned
    # (the pinned relation feeds the lazy result): caching.pin
    # registers it so release_pinned() bounds storage across many
    # in-session queries.
    pid = pin(
        df.repartitionByRange(n_part, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    wp = Window.partitionBy("_pid").orderBy(*order_cols)
    local = pid.withColumn("_rn", F.row_number().over(wp))
    # The counts relation is one row per partition (bounded by the
    # partition count, not the data); its prefix sum is a triangular
    # broadcast self-join on that metadata-sized relation, NOT a
    # global window (a constant-key window gets constant-folded to an
    # empty partition spec and WindowExec single-partitions the node).
    counts = pid.groupBy("_pid").agg(F.count("*").alias("_n"))
    prev = counts.select(F.col("_pid").alias("_p2"), F.col("_n").alias("_n2"))
    offs = (
        counts.join(F.broadcast(prev), F.col("_p2") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(F.coalesce(F.sum("_n2"), F.lit(0)).cast("bigint").alias("_off"))
    )
    return (
        local.join(F.broadcast(offs), "_pid")
        .withColumn(out, (F.col("_rn") + F.col("_off")).cast("bigint"))
        .drop("_pid", "_rn", "_off")
    )


def global_prefix_agg(
    df: DataFrame,
    order_cols,
    aggs,
    inclusive: bool = False,
) -> DataFrame:
    """Distributed running aggregate over a total order — the
    generalization of :func:`global_rank`'s two-pass pattern shared by
    auc1 (midrank prefix counts), ks1 (two ECDF prefix sums) and sky1
    (strict-prefix min). ``aggs`` is a list of (src_col, fn, out_col)
    with fn in {'sum', 'min', 'max'}; ``inclusive`` includes the
    current row (ks1) vs the strict prefix (auc1/sky1). Sum outputs
    coalesce an empty prefix to 0; min/max leave it NULL (callers
    supply their identity).

    THE PID-CONSISTENCY CONTRACT (documented once, here): the local
    window and the per-partition totals must observe IDENTICAL
    partition ids. Plan-level exchange reuse does NOT deliver that —
    under AQE each branch compiles to its own ShuffleQueryStage, and
    range boundaries are SAMPLED per exchange instance (seeded by
    rdd.id), so two physical exchanges can split a key run across
    different partition ids and silently misalign offsets at scale
    (small SFs mask it because the sample covers the whole relation).
    The pid-stamped relation is therefore persist()-materialized: every
    branch reads the one exchange; cache-miss recompute replays the
    SAME exchange instance (boundaries fixed driver-side at partitioner
    creation), so pids stay consistent under executor loss too. Every
    prefix-over-range-partitions consumer must go through this helper
    (or global_rank) rather than inlining the pattern — the invariant
    lives in one place and tests/test_plans.py pins the single-range-
    exchange plan shape.
    """
    fns = {"sum": F.sum, "min": F.min, "max": F.max}
    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = pin(
        df.repartitionByRange(n_part, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    wloc = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    local = ranged
    for src, fn, out in aggs:
        local = local.withColumn(f"_l_{out}", fns[fn](src).over(wloc))
    ptots = ranged.groupBy("_pid").agg(
        *[fns[fn](src).alias(f"_t_{out}") for src, fn, out in aggs]
    )
    prev = ptots.select(
        F.col("_pid").alias("_p2"),
        *[F.col(f"_t_{out}").alias(f"_v_{out}") for _, _, out in aggs],
    )
    offs = (
        ptots.join(F.broadcast(prev), F.col("_p2") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(*[fns[fn](f"_v_{out}").alias(f"_o_{out}") for _, fn, out in aggs])
    )
    res = local.join(F.broadcast(offs), "_pid")
    drop = ["_pid"]
    for src, fn, out in aggs:
        if fn == "sum":
            expr = F.coalesce(F.col(f"_l_{out}"), F.lit(0)) + F.coalesce(
                F.col(f"_o_{out}"), F.lit(0)
            )
        elif fn == "min":
            expr = F.least(F.col(f"_l_{out}"), F.col(f"_o_{out}"))
        else:
            expr = F.greatest(F.col(f"_l_{out}"), F.col(f"_o_{out}"))
        res = res.withColumn(out, expr)
        drop += [f"_l_{out}", f"_o_{out}"]
    return res.drop(*drop)


@query(
    "w2_rank_importance",
    oracle="""
        WITH score AS (
            SELECT l_partkey, round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS score
            FROM lineitem GROUP BY l_partkey
        )
        SELECT l_partkey, score,
               CAST(rank() OVER (ORDER BY score DESC, l_partkey) AS BIGINT) AS rnk
        FROM score
    """,
    doc="W2 rank of an importance table (feature_selection_numerai.py:"
        "151-153 sort by Score desc). Tie-break by key pins determinism; "
        "computed via the distributed two-pass global_rank (range "
        "repartition + local row_number + bounded offset join), never a "
        "single-partition global window.",
    tags=("window",),
)
def w2_rank_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    score = li.groupBy("l_partkey").agg(F.round(F.sum("l_extendedprice"), 2).alias("score"))
    # (score, l_partkey) is a total order, so rank == row_number and the
    # distributed two-pass global_rank reproduces rank() exactly
    return global_rank(score, F.desc("score"), F.asc("l_partkey"))


@query(
    "o2_topk_per_group",
    oracle="""
        SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
        ) WHERE rn <= 3
    """,
    doc="O2 top-n per group (forward selection takes top-n ranked "
        "features, feature_selection_numerai.py:197-204). Window "
        "row_number ≤ k — per-partition partial top-k at scale.",
    tags=("window", "limit"),
)
def o2_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
    )


@query(
    "o3_argmax",
    oracle="""
        SELECT event_id, value FROM events
        ORDER BY value DESC, event_id LIMIT 1
    """,
    doc="O3 argmax row (feature_clustering.py:67 idxmax; tuners.py:492 "
        "np.argmax). orderBy desc + limit 1 → TakeOrderedAndProject "
        "(partial top-k per partition, no global sort).",
    tags=("limit",),
)
def o3_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.orderBy(F.desc("value"), F.asc("event_id")).limit(1).select("event_id", "value")


# ------------------------------------------------------------- set ops

@query(
    "set_intersect",
    oracle="""
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey AS nationkey FROM supplier
    """,
    doc="Set-op completeness (SURVEY.md §2.8): INTERSECT (distinct).",
    tags=("setop",),
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "set_except",
    oracle="""
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT
        SELECT s_nationkey AS nationkey FROM supplier
    """,
    doc="Set-op completeness: EXCEPT (distinct).",
    tags=("setop",),
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


@query(
    "set_except_all",
    oracle="""
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT ALL
        SELECT s_nationkey AS nationkey FROM supplier
    """,
    doc="Set-op completeness: EXCEPT ALL (bag difference).",
    tags=("setop",),
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.exceptAll(s)


@query(
    "w3_lead_lag_frames",
    oracle="""
        SELECT event_id,
               round(lag(value) OVER w, 6) AS prev_value,
               round(lead(value) OVER w, 6) AS next_value,
               round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_sum
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="Window-function completeness (SURVEY.md §2.6 closing note): "
        "lead/lag and an explicit rowsBetween running frame per user "
        "timeline. One shuffle on user_id; frame order pinned by "
        "(ts, event_id) so the running float sum is deterministic.",
    tags=("window",),
)
def w3_lead_lag_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        F.round(F.lag("value").over(w), 6).alias("prev_value"),
        F.round(F.lead("value").over(w), 6).alias("next_value"),
        F.round(F.sum("value").over(frame), 6).alias("running_sum"),
    )


@query(
    "sk1_salted_aggregation",
    oracle="""
        SELECT event_type, round(avg(value), 6) AS mean_value
        FROM events GROUP BY event_type
    """,
    doc="Skew-mitigation pattern: two-stage salted aggregation — stage "
        "1 aggregates on (key, salt) spreading a hot key over "
        "partitions, stage 2 merges the partials. Oracle = the plain "
        "single-stage aggregate (mathematically identical). At 100 TB "
        "this is the manual fallback where AQE skew handling doesn't "
        "reach (aggregations, not joins).",
    tags=("agg", "skew"),
)
def sk1_salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    salted = ev.withColumn("salt", phash("event_id", 8))
    partial = salted.groupBy("event_type", "salt").agg(
        F.sum("value").alias("s"), F.count("*").alias("c")
    )
    return partial.groupBy("event_type").agg(
        F.round(F.sum("s") / F.sum("c"), 6).alias("mean_value")
    )


@query(
    "a10_approx_stats",
    oracle=None,  # sketches are engine-specific; rows-only + tolerance test
    doc="Approximate aggregates for the 100 TB fast path: HyperLogLog++ "
        "distinct counts and approx_percentile sketches per event type "
        "(exact variants: a2/f5). Checked by a tolerance test against "
        "exact values, not the value-hash oracle.",
    tags=("agg", "approx"),
)
def a10_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.percentile_approx("value", 0.5).alias("approx_median"),
    )


@query(
    "hll1_sketch_rollup",
    oracle=None,  # sketch bytes are engine-specific; merge-parity + tolerance tests
    doc="hll1 mergeable-sketch rollup (Apache DataSketches HLL via "
        "hll_sketch_agg/hll_union_agg): build one distinct-users "
        "sketch per (day, event_type) — the materialized daily rollup "
        "a 100 TB pipeline stores instead of raw IDs — then answer "
        "the per-type total by UNIONING the daily sketches, never "
        "rescanning raw data. Sketch union is lossless for HLL, so "
        "the rolled-up estimate EQUALS the direct whole-column "
        "estimate (asserted exactly in tests/test_round3_ops.py) and "
        "lands within HLL's ~1.6% rse of the true distinct (tolerance "
        "test). The daily sketch relation is O(days×types×sketch "
        "bytes) — constant per cell regardless of row count — which "
        "is why this is THE pattern for distinct-count dashboards "
        "over append-only data at any scale.",
    tags=("agg", "approx", "sketch"),
)
def hll1_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
        )
        .orderBy("event_type")
    )


@query(
    "m1b_spearman_orders_era",
    oracle="""
        WITH base AS (
            SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INTEGER) AS era,
                   o_totalprice AS y_true,
                   (o_totalprice + ((o_orderkey % 1000) * 2654435761) % 1000 / 1000.0 - 0.5) AS pred,
                   o_orderkey
            FROM orders
        ),
        ranked AS (
            SELECT era, y_true,
                   CAST(row_number() OVER (PARTITION BY era ORDER BY pred, o_orderkey) AS DOUBLE)
                   / CAST(count(*) OVER (PARTITION BY era) AS DOUBLE) AS pred_rank
            FROM base
        )
        SELECT round(corr(y_true, pred_rank), 6) AS spearman_era_corr FROM ranked
    """,
    doc="M1 flagship on a second era mapping: orders with era = "
        "year*12+month (~80 monthly buckets over 1995-2001) — the "
        "era abstraction is a parameter, not a hard-coded column "
        "(FIXTURES.md §2 hvac_weather bridge pattern).",
    tags=("metrics",),
)
def m1b_spearman_orders_era(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import era_orders
    from ..operators.metrics import spearman_by_era

    o = load_table(spark, sf_dir, "orders")
    scored = o.select(
        era_orders().alias("era"),
        F.col("o_totalprice").alias("y_true"),
        (F.col("o_totalprice") + phash("o_orderkey", 1000) / 1000.0 - 0.5).alias("pred"),
        F.col("o_orderkey").alias("okey"),
    )
    return spearman_by_era(scored, key="okey")


@query(
    "a11_sql_grouping_sets",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
               CAST(grouping(l_returnflag) AS INTEGER) AS g_flag,
               CAST(grouping(l_linestatus) AS INTEGER) AS g_status
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
    doc="Explicit GROUPING SETS with grouping() markers, written "
        "through the SQL front-end (spark.sql over registered views) — "
        "the SQL API produces the same Catalyst plan as the DataFrame "
        "API (SURVEY.md §3 'SQL API').",
    tags=("agg", "sql"),
)
def a11_sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
               CAST(grouping(l_returnflag) AS INT) AS g_flag,
               CAST(grouping(l_linestatus) AS INT) AS g_status
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """)


@query(
    "sk2_salted_join",
    oracle="""
        WITH dim AS (
            SELECT CAST(range AS INTEGER) AS hot_key,
                   CAST(range * 100 AS DOUBLE) AS boost
            FROM range(3)
        )
        SELECT e.event_id, round(e.value + d.boost, 6) AS boosted
        FROM (SELECT event_id, value, CAST(event_id % 3 AS INTEGER) AS hot_key
              FROM events) e
        JOIN dim d ON e.hot_key = d.hot_key
    """,
    doc="Skew-mitigation: salted join of a fact with 3 pathologically "
        "hot keys against a small dim — the dim is exploded ×SALTS and "
        "the fact's salt spreads each hot key over SALTS partitions; "
        "oracle = the plain (unsalted) join, proving the rewrite is "
        "result-identical. At 100 TB this is the manual fallback when "
        "the hot side is too big to broadcast and AQE's skew split "
        "does not apply (e.g. aggregate-after-join pipelines).",
    tags=("join", "skew"),
)
def sk2_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    SALTS = 8
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "value", (F.col("event_id") % 3).cast("int").alias("hot_key")
    )
    dim = spark.range(3).select(
        F.col("id").cast("int").alias("hot_key"), (F.col("id") * 100.0).alias("boost")
    )
    salted_fact = ev.withColumn("salt", phash("event_id", SALTS).cast("int"))
    salted_dim = dim.crossJoin(
        spark.range(SALTS).select(F.col("id").cast("int").alias("salt"))
    )
    return (
        salted_fact.join(salted_dim, ["hot_key", "salt"])
        .select("event_id", F.round(F.col("value") + F.col("boost"), 6).alias("boosted"))
    )


@query(
    "p11_stratified_sample",
    oracle=f"""
        WITH r AS (
            SELECT doc_id, lang,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY {md5i_sql("'strat:' || CAST(doc_id AS VARCHAR)")}, doc_id
                   ) AS rn
            FROM documents
        )
        SELECT doc_id, lang FROM r WHERE rn <= 50
    """,
    doc="P11 stratified sampling: exactly n docs per language via "
        "seeded-hash ordering + per-group row_number — the corpus "
        "balancing op (equalize language/domain mix before training). "
        "Deterministic under retries, one shuffle on the stratum key.",
    tags=("sample", "text"),
)
def p11_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import md5i

    d = load_table(spark, sf_dir, "documents")
    salt = md5i(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(salt, F.col("doc_id"))
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .select("doc_id", "lang")
    )


@query(
    "p12_winsorize",
    oracle="""
        WITH b AS (
            SELECT event_type,
                   quantile_cont(value, 0.05) AS lo,
                   quantile_cont(value, 0.95) AS hi
            FROM events GROUP BY event_type
        )
        SELECT e.event_id,
               round(least(b.hi, greatest(b.lo, e.value)), 6) AS value_w
        FROM events e JOIN b USING (event_type)
    """,
    doc="P12 winsorization: clamp values to per-group [p05, p95] — "
        "exact group quantiles (F5) + clip (P10) + broadcast bounds "
        "join; the outlier-taming prep step. At 100 TB use "
        "approx_percentile bounds (a10) — same plan shape.",
    tags=("scalar", "agg"),
)
def p12_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .select(
            "event_id",
            F.round(F.least(F.col("hi"), F.greatest(F.col("lo"), F.col("value"))), 6).alias("value_w"),
        )
    )


@query(
    "p13_standardize_features",
    oracle="""
        WITH melted AS (
            SELECT vec_id, generate_subscripts(embedding, 1) AS fid,
                   CAST(unnest(embedding) AS DOUBLE) AS val
            FROM embeddings
        ),
        stats AS (
            SELECT fid, avg(val) AS mu, stddev_samp(val) AS sd
            FROM melted GROUP BY fid
        )
        SELECT m.vec_id, m.fid, round((m.val - s.mu) / s.sd, 6) AS z
        FROM melted m JOIN stats s USING (fid)
    """,
    doc="P13 feature standardization (z-score per dimension): melt → "
        "per-dim moments → broadcast-join transform — the scaling prep "
        "every distance/DR operator assumes; single shuffle on fid for "
        "the moments, transform is expression-only.",
    tags=("scalar", "ml"),
)
def p13_standardize_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    melted = emb.select("vec_id", F.posexplode("embedding").alias("pos", "valf")).select(
        "vec_id", (F.col("pos") + 1).alias("fid"), F.col("valf").cast("double").alias("val")
    )
    stats = melted.groupBy("fid").agg(
        F.avg("val").alias("mu"), F.stddev_samp("val").alias("sd")
    )
    return (
        melted.join(F.broadcast(stats), "fid")
        .select(
            "vec_id",
            "fid",
            F.round((F.col("val") - F.col("mu")) / F.col("sd"), 6).alias("z"),
        )
    )


# ---------------------------------------------------------------- w6

@query(
    "w6_rank_family",
    oracle="""
        SELECT o_orderkey,
               o_orderpriority,
               CAST(rank() OVER w AS BIGINT) AS rnk,
               CAST(dense_rank() OVER w AS BIGINT) AS drnk,
               round(percent_rank() OVER w, 6) AS prnk,
               round(cume_dist() OVER w, 6) AS cdist,
               CAST(ntile(4) OVER w AS INTEGER) AS quartile
        FROM orders
        WHERE o_orderkey % 20 = 0
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice DESC, o_orderkey)
    """,
    doc="w6 ranking-family breadth (SURVEY.md §2.6 'ranking family "
        "beyond W1/W2'): rank, dense_rank, percent_rank, cume_dist, "
        "ntile in one per-priority window — one exchange on the "
        "partition key serves all five functions (a single Window "
        "physical node), with a unique-key tie-break so every engine "
        "agrees.",
    tags=("window",),
)
def w6_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 20 == 0)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


# ------------------------------------------------------------ unpivot1

_MELT_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@query(
    "unpivot1_melt_measures",
    oracle=f"""
        SELECT l_orderkey, l_linenumber, measure, round(val, 6) AS val
        FROM (
            UNPIVOT (SELECT l_orderkey, l_linenumber,
                            {', '.join(_MELT_COLS)}
                     FROM lineitem WHERE l_orderkey % 50 = 0)
            ON {', '.join(_MELT_COLS)}
            INTO NAME measure VALUE val
        )
        -- INCLUDE NULLS is not supported by DuckDB's UNPIVOT; it drops
        -- NULL measure values while Spark's df.unpivot keeps them, so
        -- the Spark side filters them too (no-op today: TPC-H measures
        -- are NOT NULL; keeps semantics aligned if nullability changes)
    """,
    doc="unpivot1 wide→long reshaping (melt, F2's pivot inverse): the "
        "lineitem measure columns unpivoted to (key, measure, value) "
        "rows via the native UNPIVOT/df.unpivot operator — the "
        "long-format feed for per-measure aggregation and profiling "
        "(prof1's display shape). Map-side only: unpivot is a per-row "
        "generator, no shuffle, and the measure-name column is a "
        "constant dictionary at any scale. NULL measure values are "
        "filtered to match DuckDB's UNPIVOT (which excludes NULLs and "
        "has no INCLUDE NULLS clause) — latent today since TPC-H "
        "measures are NOT NULL, but pinned so nullable inputs agree.",
    tags=("relational",),
)
def unpivot1_melt_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    return li.select("l_orderkey", "l_linenumber", *_MELT_COLS).unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=list(_MELT_COLS),
        variableColumnName="measure",
        valueColumnName="val0",
    ).filter(F.col("val0").isNotNull()).select(
        "l_orderkey",
        "l_linenumber",
        "measure",
        F.round("val0", 6).alias("val"),
    )


# ------------------------------------------------------------ f15

_QS = (0.25, 0.5, 0.75, 0.9)


@query(
    "f15_grouped_quantiles",
    oracle=f"""
        SELECT event_type,
               unnest([{', '.join(str(q) for q in _QS)}]) AS q,
               unnest(list_transform(
                   quantile_cont(value, [{', '.join(str(q) for q in _QS)}]),
                   x -> round(x, 6))) AS val
        FROM events GROUP BY event_type
    """,
    doc="f15 exact per-group quantiles (F5's grouped form): the "
        "interpolated quartiles + p90 of value per event_type in ONE "
        "aggregate pass — percentile(value, array(...)) computes all "
        "cut points in a single sort-based aggregation per group, then "
        "posexplode emits the long (group, q, val) shape. One shuffle "
        "on the group key. At 100 TB the same query swaps percentile "
        "for approx_percentile (a10's sketch path) without replanning; "
        "exact is kept here because the oracle checks values.",
    tags=("agg", "scalar"),
)
def f15_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    qarr = F.array(*[F.lit(q) for q in _QS])
    agg = ev.groupBy("event_type").agg(
        F.percentile("value", qarr).alias("vals")
    )
    return agg.select(
        "event_type",
        F.posexplode(F.transform(F.col("vals"), lambda x: F.round(x, 6))).alias("i", "val"),
    ).select(
        "event_type",
        F.element_at(qarr, F.col("i") + 1).alias("q"),
        "val",
    )


# ------------------------------------------------------------ or1

Z_TAU = 3.0


@query(
    "or1_grouped_outliers",
    oracle=f"""
        WITH stats AS (
            SELECT event_type,
                   avg(value) AS mu, stddev_samp(value) AS sigma,
                   quantile_cont(value, 0.25) AS q1,
                   quantile_cont(value, 0.75) AS q3
            FROM events GROUP BY event_type
        )
        SELECT e.event_id, e.event_type,
               round((e.value - s.mu) / s.sigma, 6) AS z,
               abs((e.value - s.mu) / s.sigma) > {Z_TAU} AS z_outlier,
               e.value < s.q1 - 1.5 * (s.q3 - s.q1)
                 OR e.value > s.q3 + 1.5 * (s.q3 - s.q1) AS iqr_outlier
        FROM events e JOIN stats s USING (event_type)
        WHERE abs((e.value - s.mu) / s.sigma) > {Z_TAU}
           OR e.value < s.q1 - 1.5 * (s.q3 - s.q1)
           OR e.value > s.q3 + 1.5 * (s.q3 - s.q1)
    """,
    doc="or1 per-group outlier detection: z-score (|z| > 3) and Tukey "
        "IQR-fence flags for value within each event_type — the "
        "numeric data-quality screen next to prof1's profile. One "
        "aggregate builds the per-group (mu, sigma, q1, q3) stats "
        "table (|groups| rows — broadcast back over the scan, no "
        "second shuffle of the facts); at 100 TB the exact quantiles "
        "swap for approx_percentile without replanning.",
    tags=("agg", "pipeline"),
)
def or1_grouped_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
        F.percentile("value", F.lit(0.25)).alias("q1"),
        F.percentile("value", F.lit(0.75)).alias("q3"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    iqr = F.col("q3") - F.col("q1")
    iqr_out = (F.col("value") < F.col("q1") - 1.5 * iqr) | (
        F.col("value") > F.col("q3") + 1.5 * iqr
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter((F.abs(z) > Z_TAU) | iqr_out)
        .select(
            "event_id",
            "event_type",
            F.round(z, 6).alias("z"),
            (F.abs(z) > Z_TAU).alias("z_outlier"),
            iqr_out.alias("iqr_outlier"),
        )
    )


# ------------------------------------------------------------ ivm1

@query(
    "ivm1_incremental_agg_merge",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(value) AS DOUBLE), 2) AS sum_value,
               round(min(value), 6) AS min_value,
               round(max(value), 6) AS max_value
        FROM events GROUP BY event_type
    """,
    doc="ivm1 incremental view maintenance: the per-type aggregate is "
        "maintained as MERGE(base-state, delta-aggregate) — the base "
        "(event_id % 5 != 0, standing in for yesterday's materialized "
        "state) is combined with the incoming delta's partial "
        "aggregate via a full-outer key join and mergeable combiners "
        "(count/sum add, min/max fold). The oracle computes the same "
        "view DIRECTLY over all events, proving merge ≡ recompute — "
        "the continuous-aggregate/materialized-view refresh pattern: "
        "at 100 TB the refresh touches only the delta plus |groups| "
        "state rows, never the history.",
    tags=("agg", "pipeline"),
)
def ivm1_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def agg_of(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.sum("value").alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    base = agg_of(ev.filter(F.col("event_id") % 5 != 0))
    delta = agg_of(ev.filter(F.col("event_id") % 5 == 0))
    b, d = base.alias("b"), delta.alias("d")
    merged = b.join(d, F.col("b.event_type") == F.col("d.event_type"), "full_outer")
    z = F.lit(0)
    return merged.select(
        F.coalesce(F.col("b.event_type"), F.col("d.event_type")).alias("event_type"),
        (F.coalesce(F.col("b.n"), z) + F.coalesce(F.col("d.n"), z)).cast("bigint").alias("n"),
        F.round(
            F.coalesce(F.col("b.s"), F.lit(0.0)) + F.coalesce(F.col("d.s"), F.lit(0.0)), 2
        ).alias("sum_value"),
        F.round(F.least(F.coalesce(F.col("b.mn"), F.col("d.mn")),
                        F.coalesce(F.col("d.mn"), F.col("b.mn"))), 6).alias("min_value"),
        F.round(F.greatest(F.coalesce(F.col("b.mx"), F.col("d.mx")),
                           F.coalesce(F.col("d.mx"), F.col("b.mx"))), 6).alias("max_value"),
    )


# ------------------------------------------------------------ dq2

@query(
    "dq2_referential_integrity",
    oracle="""
        SELECT 'lineitem_orphan_orders' AS check_name,
               CAST((SELECT count(*) FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM orders o
                                       WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS n_bad
        UNION ALL
        SELECT 'orders_orphan_customers',
               CAST((SELECT count(*) FROM orders o
                     WHERE NOT EXISTS (SELECT 1 FROM customer c
                                       WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
        UNION ALL
        SELECT 'lineitem_null_keys',
               CAST((SELECT count(*) FROM lineitem
                     WHERE l_orderkey IS NULL OR l_partkey IS NULL) AS BIGINT)
        UNION ALL
        SELECT 'orders_dup_pk',
               CAST((SELECT count(*) FROM (
                         SELECT o_orderkey FROM orders
                         GROUP BY o_orderkey HAVING count(*) > 1)) AS BIGINT)
    """,
    doc="dq2 referential-integrity audit: orphaned foreign keys (anti "
        "joins), null key columns, and duplicate primary keys across "
        "the star schema, long-format one row per check — the "
        "constraint validation a lakehouse runs after every load "
        "(there are no enforced FKs at this scale; you ASSERT them). "
        "Each check is one anti-join or aggregate; the orphan checks "
        "shuffle on the key being validated and AQE broadcasts the "
        "smaller side.",
    tags=("pipeline", "agg"),
)
def dq2_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    checks = [
        ("lineitem_orphan_orders",
         li.join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti")),
        ("orders_orphan_customers",
         o.join(c.select("c_custkey"), o.o_custkey == c.c_custkey, "left_anti")),
        ("lineitem_null_keys",
         li.filter(F.col("l_orderkey").isNull() | F.col("l_partkey").isNull())),
    ]
    parts = [
        df.agg(F.count("*").cast("bigint").alias("n_bad")).select(
            F.lit(name).alias("check_name"), "n_bad"
        )
        for name, df in checks
    ]
    dup_pk = (
        o.groupBy("o_orderkey")
        .agg(F.count("*").alias("k"))
        .filter(F.col("k") > 1)
        .agg(F.count("*").cast("bigint").alias("n_bad"))
        .select(F.lit("orders_dup_pk").alias("check_name"), "n_bad")
    )
    out = parts[0]
    for p in parts[1:] + [dup_pk]:
        out = out.unionByName(p)
    return out


# ------------------------------------------------------------ o2b

@query(
    "o2b_topk_per_group_agg",
    oracle="""
        SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
        ) WHERE rn <= 3
    """,
    doc="o2b aggregation-based per-group top-k (same semantics as o2, "
        "different physical strategy): collect each group's rows into "
        "a sorted array and slice the head — ONE shuffle, no Window "
        "sort. Honest trade-off: collect_list has NO bounded top-k "
        "combiner — the partial aggregate buffers every partition-"
        "local row of the group and the merged buffer is O(group "
        "size), so a heavy-hitter group can blow executor memory at "
        "scale. Use o2 (window) for skewed groups, or o2c for the "
        "genuinely bounded per-partition-heap combiner; o2b wins only "
        "when every group is known-small (e.g. after a selective "
        "filter). All three are registered so the plan choice is "
        "explicit, not folklore.",
    tags=("order", "agg"),
)
def o2b_topk_per_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # struct sorts lexicographically: (-price, orderkey) ascending ==
    # price desc, key asc — the window form's exact order
    item = F.struct(
        (-F.col("o_totalprice")).alias("neg_price"),
        F.col("o_orderkey").alias("o_orderkey"),
    )
    top = (
        o.groupBy("o_orderpriority")
        .agg(F.slice(F.sort_array(F.collect_list(item)), 1, 3).alias("top"))
        .select("o_orderpriority", F.explode("top").alias("t"))
    )
    return top.select(
        "o_orderpriority",
        F.col("t.o_orderkey").alias("o_orderkey"),
        (-F.col("t.neg_price")).alias("o_totalprice"),
    )


# ------------------------------------------------------------ o2c

@query(
    "o2c_topk_per_group_bounded",
    oracle="""
        SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
        ) WHERE rn <= 3
    """,
    doc="o2c bounded-combiner per-group top-k (treeAggregate shape): "
        "phase 1 is a mapInPandas per-PARTITION top-k — each task "
        "keeps at most k rows per group it sees (nsmallest on "
        "(-price, key), a bounded heap), so the aggregation buffer "
        "is O(k·groups-in-partition) regardless of group skew and "
        "only k·partitions candidate rows per group cross the ONE "
        "shuffle; phase 2 re-ranks the tiny candidate set. This is "
        "the heavy-hitter-safe strategy o2b cannot be (collect_list "
        "has no bounded combiner): at 100 TB a group with 10^9 rows "
        "contributes k rows per scan task, never a 10^9-element "
        "array. Arrow-batched, no per-row Python.",
    tags=("order", "agg", "udf"),
)
def o2c_topk_per_group_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd  # noqa: F401 — signature typing only

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    k = 3

    def partition_topk(batches):
        import pandas as pd

        best: "pd.DataFrame | None" = None
        for pdf in batches:
            pool = pdf if best is None else pd.concat([best, pdf])
            pool = pool.sort_values(
                ["o_orderpriority", "o_totalprice", "o_orderkey"],
                ascending=[True, False, True],
            )
            best = pool.groupby("o_orderpriority", sort=False).head(k)
        if best is not None:
            yield best

    cand = o.mapInPandas(partition_topk, schema=o.schema)
    # phase 2: candidates are ≤ k·partitions per group — tiny relation
    item = F.struct(
        (-F.col("o_totalprice")).alias("neg_price"),
        F.col("o_orderkey").alias("o_orderkey"),
    )
    top = (
        cand.groupBy("o_orderpriority")
        .agg(F.slice(F.sort_array(F.collect_list(item)), 1, k).alias("top"))
        .select("o_orderpriority", F.explode("top").alias("t"))
    )
    return top.select(
        "o_orderpriority",
        F.col("t.o_orderkey").alias("o_orderkey"),
        (-F.col("t.neg_price")).alias("o_totalprice"),
    )


# ------------------------------------------------------------ a12

@query(
    "a12_mode_per_group",
    oracle="""
        SELECT event_type, dy AS mode_day, CAST(n AS BIGINT) AS n FROM (
            SELECT event_type, CAST(day(ts) AS INTEGER) AS dy, count(*) AS n,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY count(*) DESC, CAST(day(ts) AS INTEGER)) AS rn
            FROM events GROUP BY 1, 2
        ) WHERE rn = 1
    """,
    doc="a12 deterministic per-group mode: the most frequent day-of-"
        "month per event_type with an explicit (count desc, value asc) "
        "tie-break — engine-native mode() leaves ties unspecified and "
        "differs across engines, so the portable form is count + "
        "argmax-over-struct (tq1's pattern): two partial-aggregated "
        "shuffles, the second over the tiny (group, value) relation.",
    tags=("agg",),
)
def a12_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cnt = (
        ev.groupBy("event_type", F.dayofmonth("ts").cast("int").alias("dy"))
        .agg(F.count("*").alias("n"))
    )
    best = cnt.groupBy("event_type").agg(
        F.max(F.struct(F.col("n"), (-F.col("dy")).alias("neg_dy"))).alias("b")
    )
    return best.select(
        "event_type",
        (-F.col("b.neg_dy")).cast("int").alias("mode_day"),
        F.col("b.n").cast("bigint").alias("n"),
    )


_REC1_SQL_BODY = """
    WITH RECURSIVE
    edges AS (
        SELECT CAST(n_regionkey AS BIGINT) AS parent,
               100 + CAST(n_nationkey AS BIGINT) AS child
        FROM nation{sfx}
        UNION ALL
        SELECT 100 + CAST(c_nationkey AS BIGINT),
               1000000 + CAST(c_custkey AS BIGINT)
        FROM customer{sfx}
        UNION ALL
        SELECT 1000000 + CAST(o_custkey AS BIGINT),
               1000000000 + CAST(o_orderkey AS BIGINT)
        FROM orders{sfx}
    ),
    closure AS (
        SELECT CAST(r_regionkey AS BIGINT) AS root,
               CAST(r_regionkey AS BIGINT) AS node,
               0 AS depth
        FROM region{sfx}
        UNION ALL
        SELECT c.root, e.child, c.depth + 1
        FROM closure c JOIN edges e ON e.parent = c.node
    )
    SELECT root AS region_key, depth, CAST(count(*) AS BIGINT) AS n_nodes
    FROM closure GROUP BY root, depth
"""


@query(
    "rec1_hierarchy_closure",
    oracle=_REC1_SQL_BODY.format(sfx=""),
    doc="rec1 recursive CTE (Spark 4 WITH RECURSIVE): transitive "
        "closure of the region -> nation -> customer -> orders "
        "containment hierarchy (key spaces disambiguated by offset), "
        "reporting descendant counts per (region, depth). The SAME "
        "SQL text runs on both engines; Spark executes each recursion "
        "level as a distributed join (UNION-dedup recursion is not "
        "yet supported in 4.1, so this is the acyclic/DAG pattern — "
        "cyclic closures use the iterative min-label operator, dd6). "
        "Depth is bounded by the hierarchy (3), not data size; each "
        "level is one equi-join on the parent key.",
    tags=("sql", "join", "recursive"),
)
def rec1_hierarchy_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The recursion ROW limit is a runaway-query safety valve, not a
    # scale parameter: this closure is depth-bounded at 3 but its row
    # count is O(|orders|), so the 1M default trips at the x10 probe.
    # Raise it for this session (left set; no other query recurses).
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(1_000_000_000))
    for t in ("region", "nation", "customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"{t}_rec1")
    return spark.sql(_REC1_SQL_BODY.format(sfx="_rec1"))


@query(
    "cms1_countmin_rollup",
    oracle="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS est_n
        FROM events GROUP BY event_type
    """,
    doc="cms1 mergeable frequency-sketch rollup (Count-Min, the "
        "frequency twin of hll1's distinct-count rollup): one "
        "count_min_sketch per day over event_type — the O(days x "
        "sketch-bytes) materialization a 100 TB pipeline stores — "
        "then the per-type total is answered by MERGING the daily "
        "sketches (JVM CountMinSketch.mergeInPlace on the collected "
        "day relation; |days| rows, driver-bounded) without "
        "rescanning raw events. With eps=1e-4 (width 27k buckets) "
        "and a handful of distinct types, no hash row collides, so "
        "the sketch estimate EQUALS the exact count — which is why "
        "this query can carry an exact SQL oracle: the comparison "
        "proves merge-losslessness end to end, not an approximation.",
    tags=("agg", "approx", "sketch"),
)
def cms1_countmin_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count_min_sketch("event_type", F.lit(0.0001), F.lit(0.999), F.lit(42)).alias("sk")
    )
    sketches = [r["sk"] for r in daily.collect()]  # |days| rows, bounded
    jvm = spark.sparkContext._jvm
    CMS = jvm.org.apache.spark.util.sketch.CountMinSketch
    merged = None
    for b in sketches:
        sk = CMS.readFrom(bytes(b))
        merged = sk if merged is None else merged.mergeInPlace(sk)
    types = [r[0] for r in ev.select("event_type").distinct().collect()]
    rows = [(t, int(merged.estimateCount(t))) for t in types]
    return local_frame(spark, rows, "event_type string, est_n bigint")


@query(
    "dq3_volume_anomaly",
    oracle="""
        WITH daily AS (
            SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1
        ),
        stats AS (
            SELECT avg(n) AS mu, stddev_samp(n) AS sigma FROM daily
        )
        SELECT strftime(day, '%Y-%m-%d') AS day, n,
               round((n - mu) / sigma, 6) AS z,
               abs((n - mu) / sigma) > 2.0 AS is_anomaly
        FROM daily, stats
    """,
    doc="dq3 ingest-volume anomaly screen (data-quality family with "
        "prof1/dq2): daily event counts z-scored against the table's "
        "own day distribution; |z| > 2 flags partitions whose volume "
        "broke pattern — the cheapest 'did yesterday's load look "
        "right' check a 100 TB pipeline runs before anything else. "
        "Shape: one map-side-combined date-trunc groupBy to a "
        "|days|-row relation, then a 1-row stats aggregate broadcast "
        "back — no window, no sort, nothing proportional to raw "
        "volume after the first aggregate.",
    tags=("quality", "agg"),
)
def dq3_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("n")
    )
    stats = daily.agg(
        F.avg("n").alias("mu"), F.stddev_samp("n").alias("sigma")
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return daily.crossJoin(F.broadcast(stats)).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        F.round(z, 6).alias("z"),
        (F.abs(z) > 2.0).alias("is_anomaly"),
    )


WSAMP_K = 100
_WSAMP_MOD = 1_000_000


@query(
    "wsamp1_weighted_sample",
    oracle=f"""
        SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
               round(ln(({phash_sql('doc_id', _WSAMP_MOD)} + 1) / {_WSAMP_MOD + 1}.0)
                     / n_chars, 9) AS es_key
        FROM documents
        ORDER BY ln(({phash_sql('doc_id', _WSAMP_MOD)} + 1) / {_WSAMP_MOD + 1}.0)
                 / n_chars DESC, doc_id
        LIMIT {WSAMP_K}
    """,
    doc="wsamp1 weighted sampling without replacement (Efraimidis-"
        "Spirakis A-ES): each row gets key ln(u)/w for u ~ U(0,1) "
        "(a portable hash-derived uniform, so both engines draw the "
        "SAME u — the p6 determinism trick) and the global top-k by "
        "key IS an exact weight-proportional without-replacement "
        "sample. The distributed-sampling primitive long-document "
        "upweighting / quality-weighted corpus selection needs: one "
        "map-side key expression + TakeOrderedAndProject (per-"
        "partition partial top-k, k rows per task to the driver "
        "merge) — no sort, no second pass, any corpus size.",
    tags=("sample", "pipeline"),
)
def wsamp1_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    u = (phash("doc_id", _WSAMP_MOD) + 1) / F.lit(float(_WSAMP_MOD + 1))
    key = F.log(u) / F.col("n_chars")
    return (
        d.select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("w"),
            key.alias("_k"),
            # rounded output: ln() is libm-dependent (JVM vs DuckDB
            # differ by 1 ulp); ordering keeps full precision
            F.round(key, 9).alias("es_key"),
        )
        .orderBy(F.desc("_k"), F.asc("doc_id"))
        .limit(WSAMP_K)
        .drop("_k")
    )


MAD_TAU = 3.5  # modified z-score cutoff (Iglewicz-Hoaglin)
MAD_CONST = 0.6745


@query(
    "or2_mad_outliers",
    oracle=f"""
        WITH med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM events GROUP BY event_type
        ),
        mad AS (
            SELECT e.event_type,
                   quantile_cont(abs(e.value - m.med), 0.5) AS mad
            FROM events e JOIN med m USING (event_type)
            GROUP BY e.event_type
        )
        SELECT e.event_id, e.event_type,
               round({MAD_CONST} * (e.value - m.med) / d.mad, 6) AS mod_z
        FROM events e
        JOIN med m USING (event_type)
        JOIN mad d USING (event_type)
        WHERE abs({MAD_CONST} * (e.value - m.med) / d.mad) > {MAD_TAU}
    """,
    doc="or2 MAD-based robust outliers (Iglewicz-Hoaglin modified "
        "z-score 0.6745·(x−med)/MAD > 3.5): or1's z-score breaks when "
        "outliers inflate sigma; median/MAD have 50% breakdown. Two "
        "aggregate passes (per-group median, then per-group median "
        "absolute deviation), each a |groups|-row table joined back "
        "over the scan — no window, no sort of the fact rows; at "
        "100 TB swap exact medians for approx_percentile (f5's "
        "documented trade).",
    tags=("agg", "pipeline"),
)
def or2_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    mad = (
        ev.join(med, "event_type")
        .groupBy("event_type")
        .agg(F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias("mad"))
    )
    mod_z = F.lit(MAD_CONST) * (F.col("value") - F.col("med")) / F.col("mad")
    return (
        ev.join(med, "event_type")
        .join(mad, "event_type")
        .filter(F.abs(mod_z) > MAD_TAU)
        .select("event_id", "event_type", F.round(mod_z, 6).alias("mod_z"))
    )


# ---------------------------------------------------------------- bf1

BF_WORDS = 8192          # 64 Kbit filter = 1024 * 64; ~64 KB broadcast


def _bloom_word_expr(key: str) -> tuple:
    """(bucket, bit-word) codegen expressions for a register-blocked
    Bloom filter: one xxhash64 picks the 64-bit word, a second
    (salted) xxhash64 picks the bit within it."""
    bucket = F.pmod(F.xxhash64(key), F.lit(BF_WORDS)).alias("bf_bucket")
    word = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(xxhash64({key}, 1), 64) AS INT))"
    )
    return bucket, word


@query(
    "bf1_bloom_prune_join",
    oracle="""
        SELECT o.o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o.o_totalprice), 2) AS revenue
        FROM orders o
        SEMI JOIN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000) k
          ON o.o_custkey = k.c_custkey
        GROUP BY o.o_orderstatus
    """,
    doc="bf1 Bloom-filter runtime pruning: Spark's InjectRuntimeFilter "
        "does this under AQE, but the pattern is worth owning as an "
        "operator — build a register-blocked Bloom filter over the "
        "build-side keys (high-balance customers) as PURE codegen "
        "expressions: xxhash64 -> 64-bit word index, salted xxhash64 "
        "-> bit, bit_or() aggregate folds each word; the whole filter "
        "is a (bucket, word) table of 8192 rows (~64 KB) broadcast to "
        "every probe task. Probe (orders) rows test membership with a "
        "broadcast join + bitwise AND — false positives pass, so an "
        "exact semi-join verify runs AFTER the filter, but only on "
        "survivors: at 100 TB the Bloom pass drops ~(1-sel-fpp) of "
        "probe-side shuffle bytes before the exact join shuffles "
        "anything. Output is exact (oracle = plain semi-join), the "
        "Bloom stage is pure pruning.",
    tags=("join", "perf"),
)
def bf1_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    keys = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select("c_custkey")
    )
    bucket, word = _bloom_word_expr("c_custkey")
    bloom = keys.select(bucket, word.alias("w")).groupBy("bf_bucket").agg(
        F.bit_or("w").alias("bf_word")
    )
    pbucket, pword = _bloom_word_expr("o_custkey")
    cand = (
        orders.select("*", pbucket)
        .join(F.broadcast(bloom), "bf_bucket")
        .filter(pword.bitwiseAND(F.col("bf_word")) != 0)
    )
    exact = cand.join(keys, cand.o_custkey == keys.c_custkey, "left_semi")
    return exact.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


# ---------------------------------------------------------------- rs1

KMV_K = 64
_POW60 = "1152921504606846976.0"  # 2^60 as a double literal, both engines


@query(
    "rs1_kmv_bottomk",
    oracle=f"""
        WITH h AS (
            SELECT event_id, {md5i_sql("event_id")} * 268435456 + (event_id % 268435456) AS hk
            FROM events
        ),
        bk AS (SELECT event_id, hk FROM h ORDER BY hk, event_id LIMIT {KMV_K}),
        mx AS (SELECT max(hk) AS hmax FROM bk)
        SELECT bk.event_id, bk.hk,
               round(({KMV_K} - 1) / (CAST(mx.hmax AS DOUBLE) / {_POW60}), 4) AS kmv_est
        FROM bk, mx
    """,
    doc="rs1 bottom-k (KMV) sketch: the k smallest portable hash "
        "values of the key column are simultaneously (a) a MERGEABLE "
        "uniform sample — bottom-k of a union is the bottom-k of the "
        "per-partition bottom-k's, so per-day sketches roll up "
        "losslessly like hll1/cms1 — and (b) the K-Minimum-Values "
        "distinct-count estimator (Bar-Yossef et al. 2002): "
        "D ≈ (k-1)/u_k with u_k the k-th smallest normalized hash. "
        "Unlike hll1 (engine-native sketch bytes, rows-only check) "
        "the bottom-k sketch is EXACTLY portable, so this oracle is "
        "exact at every scale. Plan: per-shard bottom-k via a "
        "shard-partitioned window (k rows out per shard — the "
        "mergeable rollup step a per-day materialization would "
        "store), then global TakeOrdered k over the (shards × k)-row "
        "relation — the fact table is never globally sorted; the "
        "1-row max rides a broadcast.",
    tags=("agg", "approx", "sketch"),
)
def rs1_kmv_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # 60-bit portable hash with low-bit key mixing (md5i gives 32 bits;
    # shifting by 2^28 and mixing the key keeps ties impossible while
    # staying < 2^60 and identical in DuckDB)
    hk = (md5i("event_id") * F.lit(268435456) + F.col("event_id") % 268435456).alias("hk")
    hashed = ev.select("event_id", hk)
    # per-shard bottom-k: bounded window inside each shard partition
    per_day = (
        hashed.select("event_id", "hk", (F.col("event_id") % 32).alias("shard"))
        .withColumn("rn", F.row_number().over(Window.partitionBy("shard").orderBy("hk", "event_id")))
        .filter(F.col("rn") <= KMV_K)
        .drop("rn", "shard")
    )
    merged = per_day.orderBy("hk", "event_id").limit(KMV_K)
    mx = merged.agg(F.max("hk").alias("hmax"))
    est = F.round(
        F.lit(KMV_K - 1) / (F.col("hmax").cast("double") / F.expr(_POW60)), 4
    )
    return merged.crossJoin(F.broadcast(mx)).select(
        "event_id", "hk", est.alias("kmv_est")
    )


# ---------------------------------------------------------------- dq4

@query(
    "dq4_expectation_report",
    oracle="""
        WITH checks AS (
            SELECT l.l_orderkey, l.l_linenumber,
                   CASE WHEN l.l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END AS v_qty_range,
                   CASE WHEN l.l_discount BETWEEN 0 AND 0.1 THEN 0 ELSE 1 END AS v_disc_range,
                   CASE WHEN l.l_extendedprice > 0 THEN 0 ELSE 1 END AS v_price_pos,
                   CASE WHEN l.l_shipdate IS NULL THEN 1 ELSE 0 END AS v_ship_null,
                   CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END AS v_orphan
            FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        ),
        dup AS (
            SELECT count(*) - count(DISTINCT l_orderkey * 16 + l_linenumber) AS n_dup,
                   count(*) AS n FROM lineitem
        )
        SELECT rule, CAST(n_violations AS BIGINT) AS n_violations,
               CAST(n_checked AS BIGINT) AS n_checked
        FROM (
            SELECT 'qty_range' AS rule, sum(v_qty_range) AS n_violations, count(*) AS n_checked FROM checks
            UNION ALL SELECT 'disc_range', sum(v_disc_range), count(*) FROM checks
            UNION ALL SELECT 'price_pos', sum(v_price_pos), count(*) FROM checks
            UNION ALL SELECT 'ship_not_null', sum(v_ship_null), count(*) FROM checks
            UNION ALL SELECT 'fk_orders', sum(v_orphan), count(*) FROM checks
            UNION ALL SELECT 'pk_unique', n_dup, n FROM dup
        )
    """,
    doc="dq4 expectation-suite report (the Great-Expectations/dbt-test "
        "shape): range, positivity, not-null, referential (orphan "
        "lineitems) and primary-key-uniqueness checks over lineitem, "
        "reported as (rule, violations, checked) — the table a "
        "pipeline gate reads to pass/fail a batch. dq2 checks one FK "
        "edge, dq3 screens volume anomalies; dq4 is the per-batch "
        "rule rollup. One scan computes all row-local rules as 0/1 "
        "codegen expressions (single stack + aggregate); the FK rule "
        "rides ONE left join against orders keys; pk-uniqueness is a "
        "count-distinct delta. At 100 TB every rule stays one "
        "map-side-combined pass — rules are columns, not separate "
        "scans.",
    tags=("agg", "pipeline"),
)
def dq4_expectation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ok = load_table(spark, sf_dir, "orders").select("o_orderkey")
    checks = (
        li.join(ok, li.l_orderkey == ok.o_orderkey, "left")
        .select(
            F.when(F.col("l_quantity").between(1, 50), 0).otherwise(1).alias("v_qty_range"),
            F.when(F.col("l_discount").between(0, 0.1), 0).otherwise(1).alias("v_disc_range"),
            F.when(F.col("l_extendedprice") > 0, 0).otherwise(1).alias("v_price_pos"),
            F.when(F.col("l_shipdate").isNull(), 1).otherwise(0).alias("v_ship_null"),
            F.when(F.col("o_orderkey").isNull(), 1).otherwise(0).alias("v_orphan"),
        )
    )
    stacked = checks.select(
        F.expr(
            "stack(5, 'qty_range', v_qty_range, 'disc_range', v_disc_range, "
            "'price_pos', v_price_pos, 'ship_not_null', v_ship_null, "
            "'fk_orders', v_orphan) AS (rule, v)"
        )
    )
    rules = stacked.groupBy("rule").agg(
        F.sum("v").cast("bigint").alias("n_violations"),
        F.count("*").cast("bigint").alias("n_checked"),
    )
    dup = li.agg(
        (F.count("*") - F.count_distinct(F.col("l_orderkey") * 16 + F.col("l_linenumber")))
        .cast("bigint")
        .alias("n_violations"),
        F.count("*").cast("bigint").alias("n_checked"),
    ).select(F.lit("pk_unique").alias("rule"), "n_violations", "n_checked")
    return rules.unionByName(dup)


# --------------------------------------------------------------- kll1

QSK_K = 8192            # sketch capacity per shard; exact below this
QSK_SHARDS = 32
QSK_PCTS = (10, 25, 50, 75, 90)


def _qsk_compact(v, w, cap):
    """Deterministic KLL-shaped compaction: sort by value, pair
    adjacent items, keep the first of each pair with the summed
    weight. Rank error per pass is bounded by the max item weight;
    exact while the item count stays under ``cap``."""
    import numpy as np

    order = np.argsort(v, kind="mergesort")
    v, w = v[order], w[order]
    while len(v) > cap:
        if len(v) % 2:  # keep the last odd item as-is
            v_odd, w_odd = v[-1:], w[-1:]
            v2, w2 = v[:-1], w[:-1]
        else:
            v_odd = w_odd = None
            v2, w2 = v, w
        v = v2[0::2]
        w = w2[0::2] + w2[1::2]
        if v_odd is not None:
            import numpy as np

            v = np.concatenate([v, v_odd])
            w = np.concatenate([w, w_odd])
    return v, w


@query(
    "kll1_quantile_sketch_rollup",
    oracle=f"""
        WITH n AS (SELECT count(*) AS n FROM events),
        r AS (SELECT value, row_number() OVER (ORDER BY value) AS rn FROM events),
        qs AS (SELECT unnest([{", ".join(str(p) for p in QSK_PCTS)}]) AS q_pct)
        SELECT CAST(qs.q_pct AS INTEGER) AS q_pct, round(r.value, 6) AS est
        FROM qs, n
        JOIN r ON r.rn = (qs.q_pct * n.n + 99) // 100
    """,
    doc="kll1 mergeable quantile-sketch rollup, completing the sketch "
        "family (hll1 distinct, cms1 frequency, rs1 sample/KMV): each "
        "shard builds a KLL-shaped bounded summary — sorted (value, "
        "weight) pairs, deterministically compacted above capacity K "
        "by pairing adjacent items (rank error <= max item weight per "
        "pass; EXACT while a shard holds < K items) — and the rollup "
        "answers global quantiles by merging the per-shard summaries, "
        "never rescanning raw data. The merge input is O(shards x K) "
        "regardless of corpus size (tree-merge the shards at extreme "
        "scale); at the test/driver scales no compaction triggers, so "
        "the oracle is the exact nearest-rank quantile with INTEGER "
        "rank arithmetic ((pct*n + 99) div 100 — float ceil(q*n) "
        "mis-rounds exactly at the divisible boundaries). Arrow-"
        "batched applyInPandas for build and merge; the forced-"
        "compaction error bound is pinned in tests.",
    tags=("agg", "approx", "sketch"),
)
def kll1_quantile_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    sharded = ev.select(
        (F.col("event_id") % QSK_SHARDS).alias("shard"), "value"
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"].to_numpy(dtype=np.float64)
        w = np.ones(len(v), dtype=np.int64)
        v, w = _qsk_compact(v, w, QSK_K)
        return pd.DataFrame({"shard": pdf["shard"].iloc[0], "v": v, "w": w})

    sketches = sharded.groupBy("shard").applyInPandas(
        build, "shard bigint, v double, w bigint"
    )

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        # the merge input is bounded at shards x K items; answering
        # quantiles needs NO re-compaction (compact again only when
        # storing the merged sketch for a further rollup level), so
        # the answer is exact whenever the per-shard builds were
        v = pdf["v"].to_numpy(dtype=np.float64)
        w = pdf["w"].to_numpy(dtype=np.int64)
        order = np.argsort(v, kind="mergesort")
        v, w = v[order], w[order]
        cum = np.cumsum(w)
        total = int(cum[-1])
        out = []
        for pct in QSK_PCTS:
            rank = (pct * total + 99) // 100
            est = v[int(np.searchsorted(cum, rank))]
            out.append((pct, round(est, 6)))
        return pd.DataFrame(out, columns=["q_pct", "est"])

    return (
        sketches.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(merge, "q_pct int, est double")
    )


# ---------------------------------------------------------------- rs2

@query(
    "rs2_kmv_overlap",
    oracle=f"""
        WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
        sk AS (
            SELECT event_type, user_id,
                   {md5i_sql("user_id")} * 268435456 + (user_id % 268435456) AS hk,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY {md5i_sql("user_id")} * 268435456 + (user_id % 268435456),
                                               user_id) AS rn
            FROM du QUALIFY rn <= {KMV_K}
        ),
        pr AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b
            FROM (SELECT DISTINCT event_type FROM sk) a
            JOIN (SELECT DISTINCT event_type FROM sk) b ON a.event_type < b.event_type
        ),
        bo AS (
            SELECT pr.type_a, pr.type_b, sk.user_id, sk.hk,
                   count(*) AS n_sides
            FROM pr JOIN sk ON sk.event_type IN (pr.type_a, pr.type_b)
            GROUP BY 1, 2, 3, 4
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY type_a, type_b
                                         ORDER BY hk, user_id) AS rn
            FROM bo QUALIFY rn <= {KMV_K}
        ),
        agg AS (
            SELECT type_a, type_b,
                   count(*) AS n_sk,
                   max(hk) AS hmax,
                   sum(CASE WHEN n_sides = 2 THEN 1 ELSE 0 END) AS rho
            FROM ranked GROUP BY 1, 2
        )
        SELECT type_a, type_b, CAST(rho AS BIGINT) AS rho,
               round(CASE WHEN n_sk < {KMV_K} THEN CAST(rho AS DOUBLE)
                          ELSE rho / CAST({KMV_K} AS DOUBLE)
                               * (({KMV_K} - 1) / (CAST(hmax AS DOUBLE) / {_POW60}))
                     END, 4) AS est_inter
        FROM agg
    """,
    doc="rs2 audience-overlap matrix from KMV sketches (rs1's "
        "set-operation payoff; Beyer et al. 2007): per-segment "
        "bottom-k sketches of the distinct-user set answer "
        "|A ∩ B| for EVERY segment pair without rescanning raw "
        "events — rho = members of the union bottom-k seen on both "
        "sides (any union-threshold-passing element of A is "
        "necessarily in A's own sketch, so the test is sketch-only), "
        "est = rho/k x KMV-union-estimate, collapsing to exact rho "
        "when the union fits the sketch. The pair computation runs "
        "entirely on the O(|segments| x k)-row sketch relation — the "
        "fact scan happens ONCE to build sketches; pairs cost is "
        "independent of corpus size. Portable hashes make the whole "
        "estimator deterministic, so the oracle checks the ESTIMATE "
        "exactly, not just within tolerance.",
    tags=("agg", "approx", "sketch"),
)
def rs2_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hk = (md5i("user_id") * F.lit(268435456) + F.col("user_id") % 268435456).alias("hk")
    du = ev.select("event_type", "user_id").distinct()
    wk = Window.partitionBy("event_type").orderBy("hk", "user_id")
    sk = pin(
        du.select("event_type", "user_id", hk)
        .withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= KMV_K)
        .drop("rn")
    )
    types = sk.select("event_type").distinct()
    pr = (
        types.alias("a")
        .join(types.alias("b"), F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"), F.col("b.event_type").alias("type_b")
        )
    )
    both = (
        pr.join(
            sk,
            (sk.event_type == F.col("type_a")) | (sk.event_type == F.col("type_b")),
        )
        .groupBy("type_a", "type_b", "user_id", "hk")
        .agg(F.count("*").alias("n_sides"))
    )
    wp = Window.partitionBy("type_a", "type_b").orderBy("hk", "user_id")
    ranked = both.withColumn("rn", F.row_number().over(wp)).filter(F.col("rn") <= KMV_K)
    agg = ranked.groupBy("type_a", "type_b").agg(
        F.count("*").alias("n_sk"),
        F.max("hk").alias("hmax"),
        F.sum(F.when(F.col("n_sides") == 2, 1).otherwise(0)).alias("rho"),
    )
    est = F.when(
        F.col("n_sk") < KMV_K, F.col("rho").cast("double")
    ).otherwise(
        F.col("rho") / F.lit(float(KMV_K))
        * (F.lit(KMV_K - 1) / (F.col("hmax").cast("double") / F.expr(_POW60)))
    )
    return agg.select(
        "type_a", "type_b", F.col("rho").cast("bigint").alias("rho"),
        F.round(est, 4).alias("est_inter"),
    )


# --------------------------------------------------------------- kano1

KANO_KS = (2, 5, 10)


@query(
    "kano1_k_anonymity",
    oracle=f"""
        WITH g AS (
            SELECT c_nationkey, c_mktsegment, count(*) AS sz
            FROM customer GROUP BY 1, 2
        ),
        ks AS (SELECT unnest([{", ".join(str(k) for k in KANO_KS)}]) AS k)
        SELECT CAST(ks.k AS INTEGER) AS k,
               CAST(count(*) AS BIGINT) AS n_groups,
               CAST(sum(CASE WHEN g.sz < ks.k THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_groups,
               CAST(sum(CASE WHEN g.sz < ks.k THEN g.sz ELSE 0 END) AS BIGINT) AS n_risky_rows,
               round(sum(CASE WHEN g.sz < ks.k THEN g.sz ELSE 0 END)
                     / CAST(sum(g.sz) AS DOUBLE), 6) AS suppression_rate
        FROM g CROSS JOIN ks
        GROUP BY ks.k
    """,
    doc="kano1 k-anonymity audit over a quasi-identifier set "
        "(nation x market segment on customer; Sweeney 2002): for "
        "each candidate k, how many QI-groups have fewer than k "
        "members, how many rows they hold, and the suppression rate "
        "publishing at that k would cost — the re-identification-risk "
        "report a privacy review reads before a dataset release (the "
        "governance sibling of pii1's regex scrubbing). One "
        "map-side-combined groupBy on the QI columns produces the "
        "group-size relation (|QI-value combinations| rows — tiny "
        "versus the fact table), the per-k rollup is a bounded "
        "k-values fan-out over it; output is O(|ks|) at any scale.",
    tags=("agg", "pipeline"),
)
def kano1_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(F.count("*").alias("sz"))
    ks = local_frame(
        spark,
        [(k,) for k in KANO_KS], "k int"
    )
    risky = F.when(F.col("sz") < F.col("k"), F.col("sz")).otherwise(0)
    return (
        g.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.count("*").cast("bigint").alias("n_groups"),
            F.sum(F.when(F.col("sz") < F.col("k"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_risky_groups"),
            F.sum(risky).cast("bigint").alias("n_risky_rows"),
            F.round(F.sum(risky) / F.sum("sz").cast("double"), 6).alias(
                "suppression_rate"
            ),
        )
    )


# ---------------------------------------------------------------- ts3

@query(
    "ts3_seasonal_profile",
    oracle="""
        WITH base AS (
            SELECT event_type,
                   CAST(dayofweek(ts) AS INTEGER) AS dow,
                   CAST(hour(ts) AS INTEGER) AS hr,
                   value
            FROM events
        ),
        cell AS (
            SELECT event_type, dow, hr, count(*) AS n, avg(value) AS mean_v
            FROM base GROUP BY 1, 2, 3
        ),
        overall AS (
            SELECT event_type, avg(value) AS type_mean FROM base GROUP BY 1
        )
        SELECT c.event_type, c.dow, c.hr, CAST(c.n AS BIGINT) AS n,
               round(c.mean_v, 6) AS mean_v,
               round(c.mean_v - o.type_mean, 6) AS seasonal_dev
        FROM cell c JOIN overall o USING (event_type)
    """,
    doc="ts3 seasonal profile: per (event_type, day-of-week, hour) "
        "count/mean plus the deviation from the type's overall mean — "
        "the weekly-seasonality fingerprint that feeds anomaly "
        "baselines (dq3 screens volume against a global mean; ts3 is "
        "the seasonally-adjusted reference it should graduate to). "
        "Two map-side-combined aggregates (cell grain and type "
        "grain) joined on the tiny type key; output is bounded at "
        "|types| x 7 x 24 rows at any corpus size. NB DuckDB "
        "dayofweek is 0-6 Sunday-first while Spark's dayofweek() is "
        "1-7 — the Spark side uses dayofweek()-1 to match.",
    tags=("agg", "temporal"),
)
def ts3_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hr"),
        "value",
    )
    cell = base.groupBy("event_type", "dow", "hr").agg(
        F.count("*").cast("bigint").alias("n"), F.avg("value").alias("mean_v")
    )
    overall = base.groupBy("event_type").agg(F.avg("value").alias("type_mean"))
    return cell.join(overall, "event_type").select(
        "event_type",
        "dow",
        "hr",
        "n",
        F.round("mean_v", 6).alias("mean_v"),
        F.round(F.col("mean_v") - F.col("type_mean"), 6).alias("seasonal_dev"),
    )


# ---------------------------------------------------------------- sky1

@query(
    "sky1_pareto_front",
    oracle="""
        WITH pl AS (
            SELECT p_retailprice AS price, min(p_size) AS msz
            FROM part GROUP BY 1
        ),
        pm AS (
            SELECT price, msz,
                   min(msz) OVER (ORDER BY price ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS m
            FROM pl
        )
        SELECT p.p_partkey, p.p_retailprice AS price,
               CAST(p.p_size AS INTEGER) AS size
        FROM part p JOIN pm ON p.p_retailprice = pm.price
        WHERE (pm.m IS NULL OR pm.m > p.p_size)
          AND p.p_size = pm.msz
    """,
    doc="sky1 2-D Pareto front (skyline: minimize price AND size, "
        "Borzsonyi et al. ICDE'01): a part survives iff no part is "
        "<= in both dimensions and < in one. The naive NOT-EXISTS "
        "self-join is O(n²); the 2-D skyline reduces to an ORDER "
        "STATISTIC — a part is on the front iff its size beats the "
        "min size of every strictly-cheaper part (and the min of its "
        "own price group). The strict-prefix min runs DISTRIBUTED "
        "with w2's two-pass trick: range-repartition the per-price "
        "relation, window the prefix min INSIDE each range "
        "partition, and fold in previous partitions' minima through "
        "the triangular metadata join (one row per partition — never "
        "a single-partition global window). Cost: one groupBy on "
        "price + one range exchange of the |distinct prices| "
        "relation + a hash join back to the fact.",
    tags=("agg", "order", "perf"),
)
def sky1_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    pl = part.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.min("p_size").alias("msz")
    )
    pm = global_prefix_agg(pl, ["price"], [("msz", "min", "pm")]).select(
        "price", "msz", F.coalesce("pm", F.lit(float("inf"))).alias("m")
    )
    return (
        part.join(pm, part.p_retailprice == pm.price)
        .filter((F.col("m") > F.col("p_size")) & (F.col("p_size") == F.col("msz")))
        .select("p_partkey", "price", F.col("p_size").cast("int").alias("size"))
    )


# ---------------------------------------------------------------- dp1

DP_EPS = (("0.5", 0.5), ("2.0", 2.0))
_POW32 = "4294967296.0"  # 2^32 as a double literal, both engines


@query(
    "dp1_noisy_counts",
    oracle=f"""
        WITH ct AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
        es AS (SELECT * FROM (VALUES {", ".join(f"('{s}', {v})" for s, v in DP_EPS)}) AS t(eps_s, eps)),
        x AS (
            SELECT event_type, n, eps,
                   ({md5i_sql("event_type || '|' || eps_s")} + 0.5) / {_POW32} AS u
            FROM ct CROSS JOIN es
        )
        SELECT event_type, round(eps, 1) AS eps,
               round(n - (1.0 / eps) * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)), 4)
                   AS noisy_n
        FROM x
    """,
    doc="dp1 differentially-private histogram release (Laplace "
        "mechanism, Dwork et al. 2006): per-type counts plus "
        "Laplace(1/eps) noise via the inverse CDF — sensitivity of a "
        "unit-count histogram is 1, so noise scale 1/eps gives "
        "eps-DP per release. Noise is derived from a SEEDED portable "
        "hash (md5 of type x eps) rather than true randomness: that "
        "makes the release reproducible and the mechanism testable "
        "bit-for-bit against the oracle — production DP swaps the "
        "seed source for a CSPRNG, everything else (sensitivity "
        "accounting, scale, post-processing) is identical. Two eps "
        "rows per type show the privacy/utility trade. Third member "
        "of the governance family (pii1 scrubbing, kano1 "
        "k-anonymity). One map-side-combined aggregate + a "
        "|eps|-value broadcast fan-out; output O(types x eps).",
    tags=("agg", "pipeline"),
)
def dp1_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ct = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    es = local_frame(spark, [(s, v) for s, v in DP_EPS], "eps_s string, eps double")
    u = (
        (md5i(F.concat(F.col("event_type"), F.lit("|"), F.col("eps_s"))) + F.lit(0.5))
        / F.expr(_POW32)
    )
    # inverse CDF: X = -b * sign(u-1/2) * ln(1 - 2|u-1/2|)
    noise = -(F.lit(1.0) / F.col("eps")) * F.signum(u - 0.5) * F.log(
        F.lit(1.0) - 2 * F.abs(u - 0.5)
    )
    return (
        ct.crossJoin(F.broadcast(es))
        .select(
            "event_type",
            F.round("eps", 1).alias("eps"),
            F.round(F.col("n") + noise, 4).alias("noisy_n"),
        )
    )


# ---------------------------------------------------------------- ret1

@query(
    "ret1_bitmap_retention",
    oracle="""
        WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        act AS (SELECT day, count(*) AS n_active FROM du GROUP BY 1),
        ret AS (
            SELECT a.day, count(*) AS n_ret
            FROM du a JOIN du b
              ON b.user_id = a.user_id AND b.day = a.day + 1
            GROUP BY 1
        )
        SELECT CAST(act.day - DATE '1970-01-01' AS INTEGER) AS day,
               CAST(act.n_active AS BIGINT) AS n_active,
               CAST(coalesce(ret.n_ret, 0) AS BIGINT) AS n_retained_next,
               round(coalesce(ret.n_ret, 0) / CAST(act.n_active AS DOUBLE), 6)
                   AS retention_rate
        FROM act LEFT JOIN ret USING (day)
    """,
    doc="ret1 day-over-day retention via BITMAP rollup — the "
        "ClickHouse/Druid technique for retention at scale: each "
        "day's active-user set is packed into 64-bit words "
        "(word index = user_id div 64, word = bit_or(1 << bit)), so "
        "a day's audience is |users|/64 longs instead of |users| "
        "rows, and retained(d, d+1) is sum(bit_count(w_d AND "
        "w_d+1)) over a join on the word index — set intersection "
        "becomes codegen'd bitwise AND + popcount on a 64x-smaller "
        "relation. The oracle computes the SAME numbers from the "
        "direct distinct-user intersection, pinning the bitmap "
        "encode/decode exactly (contrast rs2: sketched/approximate "
        "when IDs are unboundedly sparse; bitmaps are exact when "
        "the ID space is dense enough to pack). One distinct pass, "
        "one map-side-combined bit_or aggregate, one word-index "
        "join.",
    tags=("agg", "temporal", "perf"),
)
def ret1_bitmap_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    du = ev.select(day.alias("day"), "user_id").distinct()
    word = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(user_id, 64) AS INT))")
    wm = du.select(
        # arithmetic shift = exact floor division by 64 over the whole
        # bigint range: double-divide truncated toward zero, which
        # collided negative ids onto word 0 (e.g. -1 and 63 shared a
        # bit) and lost precision above 2^53
        "day", F.expr("shiftright(user_id, 6)").alias("widx"), word.alias("w")
    ).groupBy("day", "widx").agg(F.bit_or("w").alias("word"))
    act = wm.groupBy("day").agg(F.sum(F.bit_count("word")).alias("n_active"))
    nxt = wm.select((F.col("day") - 1).alias("day"), "widx", F.col("word").alias("word_next"))
    ret = (
        wm.join(nxt, ["day", "widx"])
        .groupBy("day")
        .agg(
            F.sum(F.bit_count(F.col("word").bitwiseAND(F.col("word_next")))).alias("n_ret")
        )
    )
    return act.join(ret, "day", "left").select(
        F.col("day").cast("int").alias("day"),
        F.col("n_active").cast("bigint").alias("n_active"),
        F.coalesce("n_ret", F.lit(0)).cast("bigint").alias("n_retained_next"),
        F.round(
            F.coalesce("n_ret", F.lit(0)) / F.col("n_active").cast("double"), 6
        ).alias("retention_rate"),
    )


# ---------------------------------------------------------------- j11

@query(
    "j11_null_safe_join",
    oracle="""
        WITH c AS (SELECT c_custkey, nullif(c_nationkey, 0) AS nk FROM customer),
        s AS (SELECT s_suppkey, nullif(s_nationkey, 0) AS nk FROM supplier)
        SELECT c.nk AS nationkey,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM c JOIN s ON c.nk IS NOT DISTINCT FROM s.nk
        GROUP BY 1
    """,
    doc="j11 null-safe equi-join (<=> / IS NOT DISTINCT FROM): nation "
        "key 0 is mapped to NULL on both sides, and the null-safe "
        "predicate matches the NULL group with itself — a plain "
        "equi-join silently DROPS those rows, the classic "
        "unknown-bucket bug in dimension joins (f13 covers scalar "
        "null semantics; j11 is the join-shaped case). Spark plans "
        "<=> as an ordinary hash join on the null-safe key. Shape "
        "matters: pair COUNTS per key never need the pair relation — "
        "each side pre-aggregates to |keys| rows and the null-safe "
        "join runs on those (the x100 probe measured 266x for the "
        "row-level many-to-many form: low-cardinality fact-fact "
        "joins materialize |A_k| x |B_k| rows per key, quadratic "
        "under growth — pre-aggregate, or carry <=> into a "
        "pre-filtered/bucketed pairing).",
    tags=("join",),
)
def j11_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .select(F.nullif(F.col("c_nationkey"), F.lit(0)).alias("nk"))
        .groupBy("nk")
        .agg(F.count("*").alias("n_c"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .select(F.nullif(F.col("s_nationkey"), F.lit(0)).alias("nk_s"))
        .groupBy("nk_s")
        .agg(F.count("*").alias("n_s"))
    )
    return c.join(s, c.nk.eqNullSafe(s.nk_s)).select(
        F.col("nk").alias("nationkey"),
        (F.col("n_c") * F.col("n_s")).cast("bigint").alias("n_pairs"),
    )


# ---------------------------------------------------------------- a13

@query(
    "a13_filtered_agg",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_all,
               CAST(count(*) FILTER (WHERE value > 50) AS BIGINT) AS n_high,
               round(avg(value) FILTER (WHERE value > 50), 6) AS avg_high,
               CAST(count(DISTINCT user_id) FILTER (WHERE value > 50) AS BIGINT)
                   AS users_high
        FROM events GROUP BY event_type
    """,
    doc="a13 FILTER-clause aggregates (SQL:2003): per-group totals and "
        "conditionally-filtered aggregates in ONE pass — the idiom "
        "that replaces self-joining a table against its own filtered "
        "copy. Declared through spark.sql to exercise the SQL "
        "front-end's FILTER clause (Catalyst rewrites to the same "
        "conditional-aggregation plan as the when()-spelling, fully "
        "map-side-combined except the distinct).",
    tags=("agg", "sql"),
)
def a13_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_a13")
    return spark.sql(
        """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_all,
               CAST(count(*) FILTER (WHERE value > 50) AS BIGINT) AS n_high,
               round(avg(value) FILTER (WHERE value > 50), 6) AS avg_high,
               CAST(count(DISTINCT user_id) FILTER (WHERE value > 50) AS BIGINT)
                   AS users_high
        FROM events_a13 GROUP BY event_type
        """
    )


# ---------------------------------------------------------------- f16

FH_DIM = 64


@query(
    "f16_feature_hashing",
    oracle=f"""
        WITH feats AS (
            SELECT doc_id, 'lang=' || lang AS feat FROM documents
            UNION ALL
            SELECT doc_id, 'source=' || source FROM documents
        ),
        hashed AS (
            SELECT doc_id, {md5i_sql("feat")} % {FH_DIM} AS slot FROM feats
        )
        SELECT doc_id, CAST(slot AS INTEGER) AS slot,
               CAST(count(*) AS BIGINT) AS val
        FROM hashed GROUP BY 1, 2
    """,
    doc="f16 feature hashing (the 'hashing trick', Weinberger et al. "
        "2009): categorical features map to a FIXED D-dimensional "
        "slot space via a portable hash, collisions and all — the "
        "scale path that replaces f2's one-hot pivot when the "
        "category vocabulary is unbounded (domains, user agents, "
        "n-grams): no vocabulary pass, no global distinct, no "
        "schema that grows with the data; the feature matrix is "
        "(row, slot, val) triples ready for suffstats ridge (x1b) "
        "or hashed logistic (log1). One union-scan + one map-side-"
        "combined groupBy; output bounded at rows x features.",
    tags=("feature", "agg", "pipeline"),
)
def f16_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    feats = d.select(
        "doc_id", F.concat(F.lit("lang="), F.col("lang")).alias("feat")
    ).unionByName(
        d.select("doc_id", F.concat(F.lit("source="), F.col("source")).alias("feat"))
    )
    return (
        feats.select("doc_id", (md5i("feat") % FH_DIM).cast("int").alias("slot"))
        .groupBy("doc_id", "slot")
        .agg(F.count("*").cast("bigint").alias("val"))
    )


# ---------------------------------------------------------------- imp1

@query(
    "imp1_group_impute",
    oracle="""
        WITH masked AS (
            SELECT event_id, event_type,
                   CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
            FROM events
        ),
        med AS (
            SELECT event_type, quantile_cont(v, 0.5) AS grp_med
            FROM masked WHERE v IS NOT NULL GROUP BY 1
        )
        SELECT m.event_id, m.event_type,
               (m.v IS NULL) AS was_imputed,
               round(coalesce(m.v, med.grp_med), 6) AS v_imputed
        FROM masked m JOIN med USING (event_type)
    """,
    doc="imp1 grouped median imputation — the standard numeric "
        "missing-value repair before model fitting (mean is "
        "outlier-fragile; or2's MAD logic applies to the median "
        "here): nulls (simulated deterministically on 1/7 of rows — "
        "the testdata carries none) are filled with their GROUP's "
        "median, keeping per-segment distributions centered where a "
        "global fill would drag every group toward the corpus "
        "median. Plan: one per-group exact-median aggregate "
        "(|groups| rows) joined back over the scan — no window, no "
        "sort of the fact rows; at 100 TB swap exact percentile for "
        "approx_percentile (f5's documented trade). was_imputed is "
        "kept as a column — imputation without provenance poisons "
        "downstream error analysis.",
    tags=("feature", "agg", "pipeline"),
)
def imp1_group_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    masked = ev.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("value")).alias("v"),
    )
    med = (
        masked.filter(F.col("v").isNotNull())
        .groupBy("event_type")
        .agg(F.percentile("v", F.lit(0.5)).alias("grp_med"))
    )
    return masked.join(med, "event_type").select(
        "event_id",
        "event_type",
        F.col("v").isNull().alias("was_imputed"),
        F.round(F.coalesce("v", "grp_med"), 6).alias("v_imputed"),
    )


# ---------------------------------------------------------------- pr1

@query(
    "pr1_global_pct_rank",
    oracle="""
        SELECT event_id,
               round(CAST(row_number() OVER (ORDER BY value, event_id) - 1 AS DOUBLE)
                     / (count(*) OVER () - 1), 6) AS pct
        FROM events
    """,
    doc="pr1 GLOBAL percent-rank of every row (score normalization "
        "over the whole fact table — m1/w1 rank within eras, pr1 "
        "ranks across the corpus): pct = (rank-1)/(n-1) with rank "
        "from the two-pass distributed global_rank (range "
        "repartition + per-partition row_number + triangular offset "
        "join) and n from a broadcast 1-row count — the naive "
        "`percent_rank() OVER ()` moves the entire table through ONE "
        "partition and is the single most common scale-killer in "
        "scoring pipelines. Unique (value, event_id) tie-break keeps "
        "both engines deterministic.",
    tags=("window", "order", "perf"),
)
def pr1_global_pct_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    ranked = global_rank(ev, "value", "event_id", out="rnk")
    n = ev.agg(F.count("*").alias("n"))
    return ranked.crossJoin(F.broadcast(n)).select(
        "event_id",
        F.round((F.col("rnk") - 1).cast("double") / (F.col("n") - 1), 6).alias("pct"),
    )


# --------------------------------------------------------------- ldiv1

LDIV_LS = (2, 3, 5)


@query(
    "ldiv1_l_diversity",
    oracle=f"""
        WITH g AS (
            SELECT c_nationkey, c_mktsegment,
                   count(*) AS sz,
                   count(DISTINCT c_acctbal >= 0) AS n_sens
            FROM customer GROUP BY 1, 2
        ),
        ls AS (SELECT unnest([{", ".join(str(l) for l in LDIV_LS)}]) AS l)
        SELECT CAST(ls.l AS INTEGER) AS l,
               CAST(count(*) AS BIGINT) AS n_groups,
               CAST(sum(CASE WHEN g.n_sens < ls.l THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_homogeneous_groups,
               CAST(sum(CASE WHEN g.n_sens < ls.l THEN g.sz ELSE 0 END) AS BIGINT)
                   AS n_exposed_rows,
               round(sum(CASE WHEN g.n_sens < ls.l THEN g.sz ELSE 0 END)
                     / CAST(sum(g.sz) AS DOUBLE), 6) AS exposure_rate
        FROM g CROSS JOIN ls
        GROUP BY ls.l
    """,
    doc="ldiv1 l-diversity audit (Machanavajjhala et al., ICDE'06) — "
        "k-anonymity's blind spot: a QI-group can be large yet leak "
        "its sensitive attribute when every member SHARES it (the "
        "homogeneity attack). Same QI set as kano1 (nation × market "
        "segment) with a binary sensitive attribute (account in "
        "arrears, c_acctbal < 0): per candidate l, the groups holding "
        "fewer than l distinct sensitive values, the rows they "
        "expose, and the exposure rate — the companion table a "
        "privacy review reads NEXT TO the k-anonymity report. One "
        "groupBy with a count-distinct over the bounded sensitive "
        "domain, a bounded l-values fan-out; O(|ls|) output at any "
        "scale.",
    tags=("agg", "pipeline"),
)
def ldiv1_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("sz"),
        F.countDistinct((F.col("c_acctbal") >= 0)).alias("n_sens"),
    )
    ls = local_frame(spark, [(l,) for l in LDIV_LS], "l int")
    return (
        g.crossJoin(F.broadcast(ls))
        .groupBy("l")
        .agg(
            F.count("*").cast("bigint").alias("n_groups"),
            F.sum(F.when(F.col("n_sens") < F.col("l"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_homogeneous_groups"),
            F.sum(F.when(F.col("n_sens") < F.col("l"), F.col("sz")).otherwise(0))
            .cast("bigint")
            .alias("n_exposed_rows"),
            F.round(
                F.sum(F.when(F.col("n_sens") < F.col("l"), F.col("sz")).otherwise(0))
                / F.sum("sz").cast("double"),
                6,
            ).alias("exposure_rate"),
        )
    )


# ---------------------------------------------------------------- f17

TE_FOLDS = 5


@query(
    "f17_target_encode_oof",
    oracle=f"""
        WITH e AS (
            SELECT event_id, event_type, value,
                   CAST({phash_sql("event_id", TE_FOLDS)} AS INTEGER) AS fold
            FROM events
        ),
        pf AS (
            SELECT event_type, fold, sum(value) AS s, count(*) AS c
            FROM e GROUP BY 1, 2
        ),
        tot AS (
            SELECT event_type, sum(s) AS st, sum(c) AS ct FROM pf GROUP BY 1
        )
        SELECT e.event_id, e.event_type, e.fold,
               round(CASE WHEN tot.ct - pf.c > 0
                          THEN (tot.st - pf.s) / CAST(tot.ct - pf.c AS DOUBLE)
                          ELSE 0.0 END, 6) AS te
        FROM e
        JOIN pf ON pf.event_type = e.event_type AND pf.fold = e.fold
        JOIN tot ON tot.event_type = e.event_type
    """,
    doc="f17 out-of-fold target (mean) encoding — the categorical-"
        "feature staple with the leakage subtlety done right: each "
        "row's category is encoded by the target mean computed WITHOUT "
        "its own fold (train-time leakage of the row's own label "
        "through its encoding is the classic target-encoding bug). "
        "Suffstats shape, not k passes: ONE (category × fold) "
        "aggregate, per-fold encodings by subtraction from the "
        "category total (x1b/t2's leave-one-out-by-subtraction "
        "trick), broadcast back onto the rows. Deterministic portable "
        "fold assignment (Knuth hash). At 100 TB: one map-side-"
        "combined aggregate over |categories|×k groups + one "
        "broadcast join — nothing scales with rows but the scans.",
    tags=("scalar", "ml", "agg"),
)
def f17_target_encode_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_id", "event_type", "value",
        phash("event_id", TE_FOLDS).cast("int").alias("fold"),
    )
    pf = e.groupBy("event_type", "fold").agg(
        F.sum("value").alias("s"), F.count("*").alias("c")
    )
    tot = pf.groupBy("event_type").agg(F.sum("s").alias("st"), F.sum("c").alias("ct"))
    enc = pf.join(tot, "event_type").select(
        "event_type",
        "fold",
        F.round(
            F.when(
                F.col("ct") - F.col("c") > 0,
                (F.col("st") - F.col("s")) / (F.col("ct") - F.col("c")).cast("double"),
            ).otherwise(0.0),
            6,
        ).alias("te"),
    )
    return e.join(F.broadcast(enc), ["event_type", "fold"]).select(
        "event_id", "event_type", "fold", "te"
    )


# ---------------------------------------------------------------- p14

@query(
    "p14_rank_gauss",
    oracle=f"""
        WITH r AS (
            SELECT event_id,
                   row_number() OVER (ORDER BY value, event_id) AS rnk,
                   count(*) OVER () AS n
            FROM events
        )
        SELECT event_id,
               round({probit_sql("(rnk - 5.0e-1) / n")}, 6) AS z
        FROM r
    """,
    doc="p14 rank-gauss transform — the distribution-free "
        "gaussianization NN feature pipelines use (rank to (0,1), "
        "then the inverse normal CDF): ranks come from the two-pass "
        "distributed global_rank (never a single-partition window), "
        "p = (rank − ½)/n avoids the ±∞ endpoints, and the probit is "
        "Acklam's rational approximation (|rel err| < 1.15e-9) "
        "emitted as IDENTICAL literal arithmetic in both engines "
        "(functions.probit / probit_sql — the portable-expression "
        "methodology at its sharpest: a special function made "
        "oracle-exact by construction). One range exchange + codegen "
        "arithmetic; no Python anywhere.",
    tags=("scalar", "ml", "order"),
)
def p14_rank_gauss(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import probit

    ev = load_table(spark, sf_dir, "events")
    ranked = global_rank(ev.select("event_id", "value"), "value", "event_id", out="rnk")
    n = ev.agg(F.count("*").alias("n"))
    return ranked.crossJoin(F.broadcast(n)).select(
        "event_id",
        F.round(
            probit((F.col("rnk") - F.lit(0.5)) / F.col("n")), 6
        ).alias("z"),
    )
