"""The pandas-UDF quartet (SURVEY.md §2.15): the engine's replacement
for the reference's arbitrary-callable `client.submit` surface.

Coverage across the repo:
- scalar pandas_udf            → u1 here
- grouped-agg pandas_udf       → u2 here
- applyInPandas (grouped map)  → X1 MDA (importance.py), D3 kernel
- mapInPandas (partition map)  → reduction._oos_transform, mm2/mm3
- mapInArrow (partition map)   → ml.sum_partials (every partial-sum pass)

u1/u2 intentionally compute SQL-expressible things so the Arrow
UDF path itself is oracle-checked end-to-end (same values as the
relational plan) — proving the boundary is lossless, not just present.

Plus J3: the explicit-key task table that replaces positional
zip-joins of futures lists (tuners.py:88-94).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import DoubleType

from ..registry import query
from ..sources import load_table


@F.pandas_udf(DoubleType())
def _clip_payout(v: pd.Series) -> pd.Series:
    return ((v - 50.0) / 20.0).clip(lower=-1.0, upper=1.0)


@query(
    "u1_scalar_pandas_udf",
    oracle="""
        SELECT event_id,
               round(least(1.0, greatest(-1.0, (value - 50) / 20.0)), 6) AS payout
        FROM events
    """,
    doc="u1 scalar pandas_udf (Arrow-vectorized): the M4 payout clip "
        "computed in Python batch-at-a-time, oracle-matched against "
        "the pure-SQL spelling — the Arrow boundary is value-exact.",
    tags=("udf",),
)
def u1_scalar_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select("event_id", F.round(_clip_payout(F.col("value")), 6).alias("payout"))


@F.pandas_udf(DoubleType())
def _weighted_mean(v: pd.Series, w: pd.Series) -> float:
    return float((v * w).sum() / w.sum())


@query(
    "u2_grouped_agg_pandas_udf",
    oracle="""
        SELECT event_type,
               round(sum(value * (user_id + 1)) / sum(user_id + 1), 6) AS wmean
        FROM events GROUP BY event_type
    """,
    doc="u2 grouped-aggregate pandas_udf: per-group weighted mean in "
        "Python, oracle-matched against the SQL aggregate.",
    tags=("udf",),
)
def u2_grouped_agg_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    weighted = ev.select("event_type", "value", (F.col("user_id") + 1).cast("double").alias("w"))
    return weighted.groupBy("event_type").agg(
        F.round(_weighted_mean(F.col("value"), F.col("w")), 6).alias("wmean")
    )


@query(
    "j6_zip_join_task_table",
    oracle="""
        SELECT CAST(p.range AS INTEGER) AS param_id, CAST(f.range AS INTEGER) AS fold
        FROM range(4) p, range(3) f
    """,
    doc="J3 zip-join replacement (tuners.py:88-94, 236-248): the "
        "reference pairs futures lists positionally and np.splits "
        "results; the engine uses an explicit (param_id × fold) task "
        "table — keys, never positions (SURVEY.md §2.4 J3).",
    tags=("join", "tuning"),
)
def j6_zip_join_task_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    params = spark.range(4).select(F.col("id").cast("int").alias("param_id"))
    folds = spark.range(3).select(F.col("id").cast("int").alias("fold"))
    return params.crossJoin(folds)


# --------------------------------------------------- TPC-H anchors

@query(
    "q1_pricing_summary",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
               round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_base,
               round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS sum_disc,
               round(CAST(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS DOUBLE), 2) AS sum_charge,
               round(avg(l_quantity), 6) AS avg_qty,
               round(avg(l_discount), 6) AS avg_disc,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 pricing summary on the driver star schema — the "
        "canonical scan → pushdown filter → 8-agg groupBy anchor; one "
        "shuffle of ≤6 groups after map-side partial aggregation.",
    tags=("agg", "bench"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(F.sum(disc), 2).alias("sum_disc"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("n"),
        )
    )


@query(
    "q6_forecast_revenue",
    oracle="""
        SELECT round(CAST(sum(l_extendedprice * l_discount) AS DOUBLE), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
    """,
    doc="TPC-H Q6 forecast-revenue: pure pushdown-filter + scalar "
        "aggregate — the all-predicates-at-the-scan anchor.",
    tags=("agg",),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@query(
    "u3_map_in_arrow",
    oracle="""
        SELECT event_id, round(value * 2.0 + 1.0, 6) AS scaled
        FROM events
    """,
    doc="u3 mapInArrow: zero-copy RecordBatch-level partition map — the "
        "lowest-overhead Python boundary (no pandas materialization), "
        "the path a GPU/numpy-heavy multimodal stage would use; "
        "oracle-matched against the SQL spelling.",
    tags=("udf",),
)
def u3_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")

    def scale(batches):
        for batch in batches:
            scaled = pc.round(pc.add(pc.multiply(batch.column("value"), 2.0), 1.0), 6)
            yield pa.RecordBatch.from_arrays(
                [batch.column("event_id"), scaled], names=["event_id", "scaled"]
            )

    return ev.mapInArrow(scale, schema="event_id bigint, scaled double")


@query(
    "u4_python_udtf",
    oracle="""
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE doc_id < 10
    """,
    doc="u4 Python UDTF (Spark 4 table function): one doc row → N token "
        "rows via a lateral join — the UDTF slot for expansion-shaped "
        "Python logic; oracle-matched against SQL unnest.",
    tags=("udf",),
)
def u4_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="tok: string")
    class Tokenize:
        def eval(self, text: str):
            for t in text.split(" "):
                yield (t,)

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    return d.lateralJoin(Tokenize(F.col("text").outer())).select("doc_id", "tok")


@query(
    "q3_shipping_priority",
    oracle="""
        SELECT l.l_orderkey,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) * CAST(round(100 - l.l_discount * 100) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
               strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
               o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l.l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    """,
    doc="TPC-H Q3 shipping priority: selective dim filter → semi-join "
        "reduction of orders → fact join + grouped revenue. Catalyst "
        "reorders so the filtered customer side broadcasts first.",
    tags=("join", "agg"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1996-03-15")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
                    * F.round(100 - F.col("l_discount") * 100, 0).cast("bigint")
                ).cast("double")
                / 10000.0
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
    )


@query(
    "q18_large_volume_customers",
    oracle="""
        WITH big AS (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING sum(l_quantity) > 150
        )
        SELECT c.c_name, c.c_custkey, o.o_orderkey,
               round(CAST(o.o_totalprice AS DOUBLE), 2) AS totalprice,
               round(CAST(sum(l.l_quantity) AS DOUBLE), 2) AS qty
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
        GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_totalprice
    """,
    doc="TPC-H Q18 large-volume customers: HAVING-filtered aggregate as "
        "a semi-join reduction before the 3-way join — the "
        "aggregate-then-join shape whose reduction must happen EARLY at "
        "scale (the big-orders set is tiny and broadcasts).",
    tags=("join", "agg"),
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select(F.col("l_orderkey").alias("big_okey"))
    )
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    o_big = o.join(F.broadcast(big), o.o_orderkey == F.col("big_okey"), "left_semi")
    return (
        c.join(o_big, c.c_custkey == o_big.o_custkey)
        .join(li, o_big.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("qty"))
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.round(F.col("o_totalprice"), 2).alias("totalprice"), "qty",
        )
    )


@query(
    "q4_order_priority",
    oracle="""
        SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_returnflag = 'R')
        GROUP BY o.o_orderpriority
    """,
    doc="TPC-H Q4 order-priority checking (EXISTS adapted to the "
        "driver schema: lineitem has no commit/receipt dates, so the "
        "correlated predicate is l_returnflag='R'). The left-SEMI-join "
        "anchor: the lineitem side is reduced to distinct orderkeys "
        "before the join and never widens the output; at scale the "
        "date filter prunes orders partitions first and the semi-join "
        "shuffles only (orderkey) pairs, never lineitem payload.",
    tags=("join", "agg"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q13_customer_distribution",
    oracle="""
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM (
            SELECT c.c_custkey, count(o.o_orderkey) AS c_count
            FROM customer c
            LEFT OUTER JOIN orders o
              ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
            GROUP BY c.c_custkey
        )
        GROUP BY c_count
    """,
    doc="TPC-H Q13 customer order-count distribution: LEFT OUTER join "
        "with a predicate on the JOIN clause (not WHERE — null-extended "
        "rows must survive), then a two-level aggregate. The outer-join "
        "anchor: customers with zero orders land in the c_count=0 "
        "bucket. At scale the first groupBy reuses the join's "
        "custkey partitioning (no extra shuffle); the second "
        "aggregates ~100 distinct counts — map-side partials collapse "
        "it to nothing.",
    tags=("join", "agg"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    joined = c.join(
        o,
        (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
        "left_outer",
    )
    per_cust = joined.groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q7_volume_shipping",
    oracle="""
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS INT) AS l_year,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) * CAST(round(100 - l.l_discount * 100) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l.l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                               AND TIMESTAMP '1996-12-31 00:00:00'
        GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
    doc="TPC-H Q7 volume shipping: 6-way join with a disjunctive "
        "cross-nation predicate — the join-REORDERING anchor. The two "
        "nation sides broadcast (25 rows each); Catalyst pushes the "
        "nation filter through the join so only the two nations' "
        "suppliers/customers reach the fact join; revenue in exact "
        "integer cents. At 100 TB the only shuffle left is "
        "lineitem⋈orders on orderkey.",
    tags=("join", "agg"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nations = F.col("n_name").isin("NATION_1", "NATION_2")
    n1 = n.filter(nations).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.filter(nations).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key")
    )
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") <= "1996-12-31")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint") * F.round(
        100 - F.col("l_discount") * 100, 0
    ).cast("bigint")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year"))
        .agg((F.sum(cents).cast("double") / 10000.0).alias("revenue"))
    )


@query(
    "u5_apply_in_arrow",
    oracle="""
        WITH g AS (
            SELECT event_type,
                   avg(value) AS mu,
                   count(*) AS n
            FROM events GROUP BY event_type
        )
        SELECT e.event_id,
               e.event_type,
               round(e.value - g.mu, 6) AS centered
        FROM events e JOIN g USING (event_type)
    """,
    doc="u5 applyInArrow: grouped-map at the RecordBatch level — each "
        "event_type group arrives as a pyarrow Table (no pandas "
        "conversion), centered in Arrow compute kernels. Completes "
        "the Python-boundary quartet (scalar pandas_udf / grouped-agg "
        "/ applyInPandas / mapInArrow) with the zero-copy grouped "
        "form; group sizes bound executor memory exactly as "
        "applyInPandas does, minus the pandas materialization cost. "
        "Oracle: the same centering as a join-back SQL aggregate.",
    tags=("udf",),
)
def u5_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )

    def center(tbl: "pa.Table") -> "pa.Table":
        mu = pc.mean(tbl.column("value"))
        centered = pc.round(pc.subtract(tbl.column("value"), mu), 6)
        return pa.table(
            {
                "event_id": tbl.column("event_id"),
                "event_type": tbl.column("event_type"),
                "centered": centered,
            }
        )

    return ev.groupBy("event_type").applyInArrow(
        center, schema="event_id bigint, event_type string, centered double"
    )


@query(
    "u6_polymorphic_udtf",
    oracle="""
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents WHERE doc_id < 50
        )
        SELECT doc_id,
               toks[1] AS part_0,
               toks[2] AS part_1,
               toks[3] AS part_2
        FROM d
    """,
    doc="u6 polymorphic Python UDTF (Spark 4 analyze()): the table "
        "function's OUTPUT SCHEMA is computed at plan time from its "
        "arguments — split_fixed(text, 3) produces columns "
        "part_0..part_2, split_fixed(text, 5) five columns, one "
        "registration serving both. This is the dynamic-schema slot "
        "(u4 is the static UDTF): schema-from-arguments is what "
        "config-driven extractors need without codegen'ing a new "
        "function per layout. Runs as a lateral join, one eval per "
        "row, Arrow-batched. Oracle: DuckDB list indexing.",
    tags=("udf",),
)
def u6_polymorphic_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class SplitFixed:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            schema = StructType()
            for i in range(n.value):
                schema = schema.add(f"part_{i}", "string")
            return AnalyzeResult(schema=schema)

        def eval(self, text: str, n: int):
            toks = text.split(" ")
            yield tuple(
                (toks[i] if i < len(toks) else None) for i in range(n)
            )

    spark.udtf.register("split_fixed_u6", SplitFixed)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("docs_u6")
    return spark.sql(
        """
        SELECT doc_id, s.*
        FROM docs_u6, LATERAL split_fixed_u6(text, 3) s
        WHERE doc_id < 50
        """
    )


# ---------------------------------------------------------------- u7

@query(
    "u7_arrow_python_udf",
    oracle="""
        SELECT doc_id,
               round(CAST(n_chars AS DOUBLE)
                     / (1 + len(text) - len(replace(text, ' ', ''))), 6) AS chars_per_word
        FROM documents
    """,
    doc="u7 Arrow-optimized Python UDF (Spark 4 useArrow=True): a "
        "row-at-a-time Python lambda transported over Arrow batches "
        "instead of pickled rows — the SPARK-40307 upgrade path for "
        "legacy @udf code that can't be vectorized (true pandas_udf "
        "u1 remains the preferred hot-path form; this demonstrates "
        "the ~2x serialization win for the long tail). Oracle-matched "
        "against the pure-SQL spelling, so the Arrow boundary is "
        "value-exact.",
    tags=("udf",),
)
def u7_arrow_python_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")

    @F.udf(returnType=DoubleType(), useArrow=True)
    def chars_per_word(n_chars: int, text: str) -> float:
        return float(n_chars) / (1 + text.count(" "))

    return d.select(
        "doc_id", F.round(chars_per_word("n_chars", "text"), 6).alias("chars_per_word")
    )
