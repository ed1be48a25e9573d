"""TPC-H-shaped join/aggregate anchors beyond the first batch.

The reference has exactly one join pattern (SURVEY.md §2.4 J1 —
index equi-join, metrics.py:15-17), so these anchors exist for engine
completeness: each exercises a distinct Catalyst plan shape —
correlated-min rewrite (Q2), 6-way star with a fact↔fact nation
equality (Q5), national market share (Q8), multi-table arithmetic
measure (Q9), top-k join aggregate (Q10), scalar-HAVING threshold
(Q11), conditional aggregation (Q12), ratio aggregate (Q14), view +
scalar-max join-back (Q15), anti-join + count-distinct (Q16),
correlated-avg rewrite (Q17), disjunctive multi-column predicates
(Q19), nested-aggregate semi-join (Q20), exists/not-exists (Q21),
and anti-join + scalar subquery (Q22) — adapted to the driver's
reduced star schema (no partsupp table, no commit/receipt dates, no
shipmode; lineitem is the part↔supplier bridge where partsupp is
required).

Determinism rules (FIXTURES.md §4): money aggregates run in exact
integer cents (`round(x*100)::bigint`) so float summation order can
never flip a value hash; top-k orderings always carry a unique key
tie-break; scalar thresholds compare integers cross-multiplied
instead of divided doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..caching import pin
from ..registry import query
from ..sources import load_table


def _cents(col: str = "l_extendedprice") -> F.Column:
    return F.round(F.col(col) * 100, 0).cast("bigint")


def _disc_cents() -> F.Column:
    """Revenue term extendedprice*(1-discount) in exact integer
    hundredths-of-cents: cents(price) × cents(1-discount)."""
    return _cents("l_extendedprice") * F.round(100 - F.col("l_discount") * 100, 0).cast("bigint")


_DISC_CENTS_SQL = (
    "CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * CAST(round(100 - l_discount * 100) AS BIGINT)"
)


@query(
    "q2_min_cost_supplier",
    oracle=f"""
        WITH offer AS (
            SELECT l_partkey, l_suppkey,
                   min(CAST(round(l_extendedprice / l_quantity * 100) AS BIGINT)) AS unit_cents
            FROM lineitem GROUP BY l_partkey, l_suppkey
        ),
        best AS (
            SELECT l_partkey, min(unit_cents) AS best_cents
            FROM offer GROUP BY l_partkey
        )
        SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name,
               round(s.s_acctbal, 2) AS s_acctbal,
               o.unit_cents / 100.0 AS unit_price
        FROM offer o
        JOIN best b ON b.l_partkey = o.l_partkey AND o.unit_cents = b.best_cents
        JOIN part p ON p.p_partkey = o.l_partkey
        JOIN supplier s ON s.s_suppkey = o.l_suppkey
        WHERE p.p_size = 10
    """,
    doc="TPC-H Q2 (adapted: lineitem is the part↔supplier bridge — "
        "the driver schema has no partsupp): per part, the supplier(s) "
        "offering the minimum observed unit price. The correlated-min "
        "subquery decorrelates into aggregate + self-join on "
        "(partkey, min) — Catalyst's rewrite of `WHERE cost = (SELECT "
        "min(cost) ... WHERE partkey = p_partkey)`. Unit price in "
        "exact integer cents so min/equality never hits float ties. "
        "At scale both aggregates reuse one partkey shuffle; the "
        "filtered part side broadcasts.",
    tags=("join", "agg"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    unit = F.round(F.col("l_extendedprice") / F.col("l_quantity") * 100, 0).cast("bigint")
    offer = (
        li.groupBy("l_partkey", "l_suppkey").agg(F.min(unit).alias("unit_cents"))
    )
    best = offer.groupBy("l_partkey").agg(F.min("unit_cents").alias("best_cents"))
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 10)
    s = load_table(spark, sf_dir, "supplier")
    return (
        offer.join(best, ["l_partkey"])
        .filter(F.col("unit_cents") == F.col("best_cents"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "p_partkey", "p_name", "s_suppkey", "s_name",
            F.round(F.col("s_acctbal"), 2).alias("s_acctbal"),
            (F.col("unit_cents") / 100.0).alias("unit_price"),
        )
    )


@query(
    "q10_returned_items",
    oracle=f"""
        WITH rev AS (
            SELECT c.c_custkey, c.c_name, n.n_name,
                   round(c.c_acctbal, 2) AS c_acctbal,
                   sum({_DISC_CENTS_SQL}) AS rev_cents
            FROM customer c
            JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
              AND l.l_returnflag = 'R'
            GROUP BY c.c_custkey, c.c_name, n.n_name, round(c.c_acctbal, 2)
        )
        SELECT c_custkey, c_name, n_name, c_acctbal,
               CAST(rev_cents AS DOUBLE) / 10000.0 AS revenue
        FROM rev
        ORDER BY rev_cents DESC, c_custkey
        LIMIT 20
    """,
    doc="TPC-H Q10 returned-item reporting: 4-way join → grouped "
        "revenue → global top-20. The top-k-join anchor: Spark plans "
        "TakeOrderedAndProject (per-partition heaps, no global sort). "
        "Ordering key is exact integer cents with custkey tie-break — "
        "a float-ordered LIMIT is non-deterministic across engines. "
        "nation broadcasts; the date filter prunes orders before the "
        "fact join.",
    tags=("join", "agg", "bench"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", F.round(F.col("c_acctbal"), 2).alias("c_acctbal"))
        .agg(F.sum(_disc_cents()).alias("rev_cents"))
        .orderBy(F.desc("rev_cents"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey", "c_name", "n_name", "c_acctbal",
            (F.col("rev_cents").cast("double") / 10000.0).alias("revenue"),
        )
    )


@query(
    "q12_ship_delay_priority",
    oracle="""
        SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 90
                    THEN 'late' ELSE 'ontime' END AS delay_bucket,
               CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY 1
    """,
    doc="TPC-H Q12 shipping-mode/priority (adapted: no l_shipmode or "
        "receiptdate in the driver schema — buckets are ship-delay "
        "days instead of mail/ship mode). The conditional-aggregation "
        "anchor: CASE WHEN inside sum() collapses two logical queries "
        "into one scan+join; integer day-diff buckets are "
        "engine-portable. The join output never widens: 2 groups out.",
    tags=("join", "agg"),
)
def q12_ship_delay_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.when(F.datediff("l_shipdate", "o_orderdate") > 90, "late")
            .otherwise("ontime")
            .alias("delay_bucket"),
            high.cast("long").alias("is_high"),
        )
        .groupBy("delay_bucket")
        .agg(
            F.sum("is_high").alias("high_line_count"),
            F.sum(F.lit(1) - F.col("is_high")).alias("low_line_count"),
        )
    )


@query(
    "q14_promo_revenue",
    oracle=f"""
        SELECT round(
                 100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                                  THEN {_DISC_CENTS_SQL} ELSE 0 END)
                 / sum({_DISC_CENTS_SQL}), 6) AS promo_pct
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
    """,
    doc="TPC-H Q14 promotion effect: fact⋈dim with a ratio-of-"
        "conditional-sums aggregate. Both sums run in exact integer "
        "cents, so the single final division is the only float op — "
        "bit-identical across engines. part broadcasts; the month "
        "filter reaches the parquet scan.",
    tags=("join", "agg"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.when(F.col("p_type") == "PROMO", _disc_cents()).otherwise(F.lit(0).cast("bigint"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0 * F.sum(promo) / F.sum(_disc_cents()), 6
            ).alias("promo_pct")
        )
    )


@query(
    "q15_top_supplier",
    oracle=f"""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   sum({_DISC_CENTS_SQL}) AS total_cents
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name,
               CAST(r.total_cents AS DOUBLE) / 10000.0 AS total_revenue
        FROM supplier s
        JOIN revenue r ON s.s_suppkey = r.supplier_no
        WHERE r.total_cents = (SELECT max(total_cents) FROM revenue)
    """,
    doc="TPC-H Q15 top supplier: a revenue view consumed twice — once "
        "for the scalar max, once joined back to find who achieves it. "
        "The view-reuse anchor: the grouped revenue relation is "
        "computed once; the 1-row max broadcasts into the filter (a "
        "scalar-subquery join, not a driver collect). Exact-cents max "
        "means ties are real ties, not float accidents.",
    tags=("join", "agg"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_disc_cents()).alias("total_cents")
    )
    best = revenue.agg(F.max("total_cents").alias("best_cents"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(best), F.col("total_cents") == F.col("best_cents"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name",
            (F.col("total_cents").cast("double") / 10000.0).alias("total_revenue"),
        )
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
        WITH avg_qty AS (
            SELECT l_partkey, avg(l_quantity) AS aq
            FROM lineitem GROUP BY l_partkey
        )
        SELECT round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) / 100.0 / 7.0, 6)
               AS avg_yearly
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN avg_qty a ON a.l_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND l.l_quantity < 0.2 * a.aq
    """,
    doc="TPC-H Q17 small-quantity-order revenue: the correlated-AVG "
        "subquery (`l_quantity < 0.2 * (SELECT avg(l_quantity) WHERE "
        "l_partkey = p_partkey)`) decorrelated into a grouped average "
        "joined back on partkey. l_quantity is integral, so avg = "
        "exact-int sum / count is bit-identical across engines. At "
        "scale the avg aggregate and the probe reuse one partkey "
        "shuffle; the brand-filtered part side broadcasts into both.",
    tags=("join", "agg"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ak")).agg(F.avg("l_quantity").alias("aq"))
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(avg_qty, li.l_partkey == F.col("ak"))
        .filter(F.col("l_quantity") < 0.2 * F.col("aq"))
        .agg(
            F.round(F.sum(_cents()) / 100.0 / 7.0, 6).alias("avg_yearly")
        )
    )


@query(
    "q19_disjunctive_revenue",
    oracle=f"""
        SELECT CAST(sum({_DISC_CENTS_SQL}) AS DOUBLE) / 10000.0 AS revenue
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity >= 1 AND l.l_quantity <= 21)
           OR (p.p_brand = 'Brand#7' AND p.p_size BETWEEN 10 AND 30
               AND l.l_quantity >= 10 AND l.l_quantity <= 30)
           OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 20 AND 50
               AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
    doc="TPC-H Q19 discounted revenue: three disjunctive (brand × "
        "size-range × quantity-range) branches over a fact⋈dim join — "
        "the complex-predicate anchor. Catalyst extracts the common "
        "join key so the OR never degrades to a nested-loop join, and "
        "pushes the brand/size disjunction to the part scan. Single "
        "scalar out, exact cents.",
    tags=("join", "agg"),
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    branch = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & q.between(1, 21))
        | ((F.col("p_brand") == "Brand#7") & F.col("p_size").between(10, 30) & q.between(10, 30))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(20, 50) & q.between(20, 40))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(branch)
        .agg((F.sum(_disc_cents()).cast("double") / 10000.0).alias("revenue"))
    )


@query(
    "q22_dormant_customers",
    oracle="""
        WITH bal AS (
            SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS s,
                   count(*) AS n
            FROM customer WHERE c_acctbal > 0
        )
        SELECT CAST(c.c_nationkey % 5 AS INTEGER) AS cntry_bucket,
               CAST(count(*) AS BIGINT) AS numcust,
               round(sum(round(c.c_acctbal, 2)), 2) AS totacctbal
        FROM customer c, bal
        WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) * bal.n > bal.s
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        GROUP BY 1
    """,
    doc="TPC-H Q22 global sales opportunity (adapted: country code = "
        "nationkey mod 5 — the driver's c_name carries no phone/"
        "country digits, and 'dormant' = no orders since 1999 because "
        "the synthetic data gives every customer early orders): "
        "above-average-balance customers gone quiet, bucketed. Two "
        "decorrelations in one query: the "
        "scalar AVG subquery becomes a broadcast 1-row (sum, count) "
        "pair compared by integer cross-multiplication (bal*n > s — "
        "no float division anywhere), and NOT EXISTS becomes a "
        "left-anti join on custkey. At scale the anti join is the "
        "only shuffle; the scalar broadcasts.",
    tags=("join", "agg"),
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    bal_cents = F.round(F.col("c_acctbal") * 100, 0).cast("bigint")
    bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(F.sum(bal_cents).alias("s"), F.count("*").alias("n"))
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "1999-01-01")
        .select("o_custkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .crossJoin(F.broadcast(bal))
        .filter(bal_cents * F.col("n") > F.col("s"))
        .groupBy((F.col("c_nationkey") % 5).cast("int").alias("cntry_bucket"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum(F.round(F.col("c_acctbal"), 2)), 2).alias("totacctbal"),
        )
    )


@query(
    "q5_local_supplier_volume",
    oracle=f"""
        SELECT n.n_name, CAST(sum({_DISC_CENTS_SQL}) AS DOUBLE) / 10000.0 AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                       AND c.c_nationkey = s.s_nationkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n.n_name
    """,
    doc="TPC-H Q5 local supplier volume: the 6-way star join whose "
        "distinguishing predicate is c_nationkey = s_nationkey — an "
        "equality BETWEEN two fact-side dimensions, not a dim lookup, "
        "so it can only be applied after both customer and supplier "
        "are joined in. nation/region broadcast; orders carries the "
        "year filter to the scan. At scale the single big shuffle is "
        "lineitem⋈orders on orderkey; everything after is broadcast.",
    tags=("join", "agg"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg((F.sum(_disc_cents()).cast("double") / 10000.0).alias("revenue"))
    )


@query(
    "q8_market_share",
    oracle=f"""
        WITH vol AS (
            SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
                   {_DISC_CENTS_SQL} AS v, s.s_nationkey
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation cn ON c.c_nationkey = cn.n_nationkey
            JOIN region r ON cn.n_regionkey = r.r_regionkey
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        )
        SELECT o_year,
               round(CAST(sum(CASE WHEN s_nationkey = 7 THEN v ELSE 0 END) AS DOUBLE)
                     / sum(v), 6) AS mkt_share
        FROM vol GROUP BY o_year
    """,
    doc="TPC-H Q8 national market share: NATION_7's share of ECONOMY-"
        "part revenue sold into ASIA, by order year. The anchor for "
        "conditional-share aggregation over a deep join tree: the "
        "supplier-nation CASE rides the fact rows so one aggregation "
        "produces numerator and denominator — never two scans. Both "
        "sums are exact integer cents; the share division is the only "
        "float op, rounded(6) on both engines.",
    tags=("join", "agg"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cn = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    v = _disc_cents()
    tgt = F.when(F.col("s_nationkey") == 7, v).otherwise(F.lit(0).cast("bigint"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == cn.n_nationkey)
        .join(F.broadcast(r), cn.n_regionkey == r.r_regionkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.round(F.sum(tgt).cast("double") / F.sum(v), 6).alias("mkt_share"))
    )


@query(
    "q9_product_type_profit",
    oracle=f"""
        SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
               CAST(sum({_DISC_CENTS_SQL}
                        - CAST(round(p.p_retailprice * 100) AS BIGINT) * 90
                          * CAST(round(l.l_quantity) AS BIGINT)) AS DOUBLE)
               / 10000.0 AS profit
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE p.p_name LIKE 'blue%'
        GROUP BY 1, 2
    """,
    doc="TPC-H Q9 product-type profit (adapted: no partsupp, so unit "
        "cost is 90% of p_retailprice — deterministic and exact in "
        "cents): profit on 'blue%' parts by supplier nation × order "
        "year. The anchor for an arithmetic measure spanning THREE "
        "tables (lineitem price/qty, part cost, orders year) — column "
        "pruning must carry exactly four fact columns through the "
        "join tree. part filtered-then-broadcast; profit summed as "
        "bigint hundredths-of-cents.",
    tags=("join", "agg"),
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("blue%"))
        .select("p_partkey", "p_retailprice")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    cost = (
        F.round(F.col("p_retailprice") * 100, 0).cast("bigint")
        * F.lit(90).cast("bigint")
        * F.round(F.col("l_quantity"), 0).cast("bigint")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(((F.sum(_disc_cents() - cost)).cast("double") / 10000.0).alias("profit"))
    )


@query(
    "q11_important_stock",
    oracle="""
        WITH av AS (
            SELECT l.l_partkey,
                   sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS val_cents
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE n.n_regionkey = 2
            GROUP BY l.l_partkey
        ),
        tot AS (SELECT sum(val_cents) AS t FROM av)
        SELECT av.l_partkey AS partkey,
               CAST(av.val_cents AS DOUBLE) / 100.0 AS value
        FROM av, tot
        WHERE av.val_cents * 1000 > tot.t
    """,
    doc="TPC-H Q11 important stock (adapted: lineitem is the "
        "part↔supplier bridge; 'stock value' = traded value through "
        "region-2 suppliers): parts whose value exceeds 1/1000 of the "
        "region total. The scalar-HAVING anchor: the same grouped "
        "relation feeds a 1-row global sum that broadcasts back as a "
        "cross-join threshold, compared by integer cross-"
        "multiplication (val*1000 > t) — no float division, no "
        "second scan of lineitem. At scale: one partkey shuffle, "
        "reused by both the group-by and (via AQE) the threshold pass.",
    tags=("join", "agg"),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 2)
    av = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(_cents("l_extendedprice")).alias("val_cents"))
    )
    av = pin(av)
    tot = av.agg(F.sum("val_cents").alias("t"))
    return (
        av.crossJoin(F.broadcast(tot))
        .filter(F.col("val_cents") * 1000 > F.col("t"))
        .select(
            F.col("l_partkey").alias("partkey"),
            (F.col("val_cents").cast("double") / 100.0).alias("value"),
        )
    )


@query(
    "q16_supplier_part_counts",
    oracle="""
        SELECT p.p_brand, p.p_type, p.p_size,
               CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
          AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
          AND l.l_suppkey NOT IN
              (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7%')
        GROUP BY 1, 2, 3
    """,
    doc="TPC-H Q16 parts/supplier relationship (adapted: the supplier "
        "blacklist is s_name LIKE '%7%' standing in for the comment-"
        "based complaints filter): distinct suppliers per (brand, "
        "type, size) excluding blacklisted suppliers. Anchors NOT IN "
        "→ left-anti join (the keys are non-null, so no null-aware "
        "plan needed) feeding count(DISTINCT) — a two-level shuffle "
        "(dedup then count) that AQE coalesces; the part IN-list "
        "prunes at the dim scan and the blacklist broadcasts.",
    tags=("join", "agg"),
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_name").like("%7%"))
        .select("s_suppkey")
    )
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q20_dominant_supplier",
    oracle="""
        WITH shipped AS (
            SELECT l.l_partkey, l.l_suppkey,
                   CAST(round(sum(l.l_quantity)) AS BIGINT) AS qty
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            WHERE p.p_name LIKE 'blue%'
              AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY 1, 2
        ),
        tot AS (SELECT l_partkey, sum(qty) AS t FROM shipped GROUP BY 1),
        qual AS (
            SELECT DISTINCT sh.l_suppkey
            FROM shipped sh JOIN tot ON sh.l_partkey = tot.l_partkey
            WHERE sh.qty * 2 > tot.t
        )
        SELECT s.s_suppkey, s.s_name
        FROM supplier s JOIN qual ON s.s_suppkey = qual.l_suppkey
    """,
    doc="TPC-H Q20 potential part promotion (adapted: no partsupp "
        "availqty — a supplier qualifies by DOMINATING a part instead: "
        "their 1996 shipped quantity of some 'blue%' part exceeds "
        "half that part's total). The nested-aggregate semi-join "
        "anchor: per-(part,supplier) agg → per-part total → integer "
        "cross-multiplied share test → DISTINCT supplier set → "
        "semi-join into the supplier dim. Both aggregates share the "
        "partkey shuffle; the qualifying set is tiny and broadcasts.",
    tags=("join", "agg"),
)
def q20_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("blue%"))
        .select("p_partkey")
    )
    shipped = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.round(F.sum("l_quantity"), 0).cast("bigint").alias("qty"))
    )
    shipped = pin(shipped)
    tot = shipped.groupBy("l_partkey").agg(F.sum("qty").alias("t"))
    qual = (
        shipped.join(tot, "l_partkey")
        .filter(F.col("qty") * 2 > F.col("t"))
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    return s.join(F.broadcast(qual), s.s_suppkey == qual.l_suppkey, "semi").select(
        "s_suppkey", "s_name"
    )


@query(
    "q21_suppliers_kept_waiting",
    oracle="""
        WITH l2 AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        late AS (
            SELECT DISTINCT l.l_orderkey, l.l_suppkey
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderstatus = 'F'
              AND date_diff('day', o.o_orderdate, l.l_shipdate) > 60
        )
        SELECT s.s_suppkey, s.s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM late l1
        JOIN supplier s ON s.s_suppkey = l1.l_suppkey
        WHERE EXISTS (SELECT 1 FROM l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM late lx
                          WHERE lx.l_orderkey = l1.l_orderkey
                            AND lx.l_suppkey <> l1.l_suppkey)
        GROUP BY 1, 2
        ORDER BY numwait DESC, s.s_suppkey
        LIMIT 20
    """,
    doc="TPC-H Q21 suppliers who kept orders waiting (adapted: 'late' "
        "= shipped >60 days after the order date — the driver schema "
        "has no commit/receipt dates): for finalized orders, count "
        "per supplier the orders where they were the SOLE late "
        "supplier among several. The exists/not-exists anchor: one "
        "semi-join (another supplier participated) and one anti-join "
        "(no other supplier was late) against self-derived relations "
        "sharing the orderkey shuffle; top-20 by exact integer count "
        "with suppkey tie-break → TakeOrderedAndProject.",
    tags=("join", "agg"),
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l2 = li.select("l_orderkey", "l_suppkey").distinct()
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.datediff("l_shipdate", "o_orderdate") > 60)
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    late = pin(late)
    other = l2.select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("o_supp")
    )
    other_late = late.select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("o_supp")
    )
    s = load_table(spark, sf_dir, "supplier")
    waiting = (
        late.join(
            other,
            (late.l_orderkey == other.o_key) & (late.l_suppkey != other.o_supp),
            "semi",
        )
        .join(
            other_late,
            (late.l_orderkey == other_late.o_key) & (late.l_suppkey != other_late.o_supp),
            "anti",
        )
    )
    return (
        waiting.join(F.broadcast(s), waiting.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_suppkey"))
        .limit(20)
    )
