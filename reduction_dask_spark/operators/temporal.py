"""Temporal / semi-structured operators — custom operators the brief
calls out that Spark lacks natively, plus function-library breadth.

j7 as-of join: Spark has no ASOF JOIN; the idiomatic distributed form
is carry-forward-over-a-window — union both sides' events on the
partition key timeline, take the running max of the build side's
(ts, id) struct over preceding rows. One shuffle on the key, no UDF,
no range-explosion. The DuckDB oracle uses its NATIVE ASOF JOIN — our
implementation must reproduce the native semantic exactly.

w4 batch sessionization: lag-gap → cumulative-sum session ids — the
batch twin of streaming/st2's session_window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..registry import query
from ..session import local_frame
from ..sources import load_table

SESSION_GAP_MIN = 30


@query(
    "j7_asof_join",
    oracle="""
        WITH purchases AS (
            SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
        )
        SELECT e.event_id,
               p.event_id AS prev_purchase_id,
               epoch_us(p.ts) AS prev_purchase_us
        FROM events e
        ASOF LEFT JOIN purchases p
          ON e.user_id = p.user_id AND p.ts < e.ts
    """,
    doc="j7 as-of join (most recent prior purchase per user): Spark "
        "lacks ASOF JOIN — implemented as a carry-forward window (max "
        "of (ts,id) struct over preceding purchase rows on the shared "
        "user timeline), checked against DuckDB's NATIVE ASOF JOIN. "
        "One shuffle on user_id; at 100 TB this beats the bucketize+ "
        "filter emulation because no candidate range explodes.",
    tags=("join", "temporal"),
)
def j7_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn("ts_us", F.unix_micros("ts"))
    # RANGE frame ending at -1 on the numeric timeline: rows with the
    # SAME timestamp as the probe row are outside the frame, pinning
    # the ASOF strict inequality (p.ts < e.ts) even when a user has
    # duplicate timestamps — a ROWS frame would admit a same-ts
    # purchase that sorts earlier.
    w = Window.partitionBy("user_id").orderBy("ts_us").rangeBetween(
        Window.unboundedPreceding, -1
    )
    purchase_mark = F.when(
        F.col("event_type") == "purchase",
        F.struct(F.col("ts_us").alias("p_us"), F.col("event_id").alias("p_id")),
    )
    out = ev.withColumn("prev_p", F.max(purchase_mark).over(w))
    return out.select(
        "event_id",
        F.col("prev_p.p_id").alias("prev_purchase_id"),
        F.col("prev_p.p_us").alias("prev_purchase_us"),
    )


@query(
    "w4_sessionize_batch",
    oracle=f"""
        WITH g AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN ts - lag(ts) OVER w <= INTERVAL {SESSION_GAP_MIN} MINUTE
                        THEN 0 ELSE 1 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
            SELECT user_id, event_id,
                   CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
            FROM g
        )
        SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events
        FROM s GROUP BY user_id, session_id
    """,
    doc="w4 batch sessionization: lag-gap flag → running sum = session "
        "id (the lag+cumsum idiom); batch twin of st2's streaming "
        "session_window — and its oracle-checkable face.",
    tags=("window", "temporal"),
)
def w4_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ok = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    ) <= SESSION_GAP_MIN * 60 * 1_000_000
    g = ev.withColumn("new_sess", F.when(gap_ok, 0).otherwise(1))
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = g.withColumn("session_id", F.sum("new_sess").over(frame).cast("bigint"))
    return s.groupBy("user_id", "session_id").agg(F.count("*").alias("n_events"))


@query(
    "f10_json_extract",
    oracle="""
        SELECT event_id,
               CAST(json_extract(props, '$.k') AS INTEGER) AS k
        FROM events
    """,
    doc="f10 semi-structured extraction: JSON string column → typed "
        "field (get_json_object / from_json). Schema-on-read for the "
        "props map without widening the storage schema.",
    tags=("scalar", "json"),
)
def f10_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k")
    )


@query(
    "f14_variant_extract",
    oracle="""
        SELECT CAST(floor(CAST(json_extract(props, '$.k') AS INTEGER) / 10)
                    AS BIGINT) AS k_decade,
               CAST(count(*) AS BIGINT) AS n,
               round(avg(value), 6) AS avg_value,
               CAST(count(*) FILTER (
                   WHERE json_extract(props, '$.absent') IS NOT NULL
               ) AS BIGINT) AS n_with_absent
        FROM events
        GROUP BY 1
    """,
    doc="f14 VARIANT path (Spark 4): parse the JSON props column ONCE "
        "into the binary Variant encoding (parse_json), then do typed "
        "path extraction with variant_get and a graceful-miss probe "
        "with try_variant_get — the schema-on-read shape for deeply "
        "semi-structured 100 TB event streams, where Variant's "
        "shredded binary beats per-path get_json_object re-parses "
        "(one decode amortized across all paths; f10 is the "
        "string-reparse baseline). Aggregates per extracted-k decade. "
        "Oracle: DuckDB json_extract on the same paths.",
    tags=("scalar", "json", "variant"),
)
def f14_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    parsed = ev.select(
        F.variant_get(v, "$.k", "int").alias("k"),
        F.try_variant_get(v, "$.absent", "int").alias("absent"),
        "value",
    )
    return parsed.groupBy(
        F.floor(F.col("k") / 10).alias("k_decade")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.count("absent").alias("n_with_absent"),
    )


@query(
    "f11_datetime_extract",
    oracle="""
        SELECT event_id,
               CAST(year(ts) AS INTEGER) AS yr,
               CAST(month(ts) AS INTEGER) AS mo,
               CAST(day(ts) AS INTEGER) AS dy,
               CAST(hour(ts) AS INTEGER) AS hr,
               CAST(isodow(ts) AS INTEGER) AS iso_dow,
               strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket
        FROM events
    """,
    doc="f11 datetime field extraction + truncation. ISO day-of-week is "
        "the portable spelling (Spark weekday is 0=Monday, DuckDB "
        "isodow is 1=Monday — engines disagree on raw dayofweek).",
    tags=("scalar", "temporal"),
)
def f11_datetime_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").cast("int").alias("yr"),
        F.month("ts").cast("int").alias("mo"),
        F.dayofmonth("ts").cast("int").alias("dy"),
        F.hour("ts").cast("int").alias("hr"),
        (F.weekday("ts") + 1).cast("int").alias("iso_dow"),
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour_bucket"),
    )


@query(
    "f12_string_funcs",
    oracle="""
        SELECT doc_id,
               upper(substring(text, 1, 10)) AS head10,
               CAST(length(text) AS INTEGER) AS n,
               CAST(strpos(text, 'spark') AS INTEGER) AS spark_pos,
               CASE WHEN text LIKE '%query%' THEN 1 ELSE 0 END AS has_query,
               replace(substring(text, 1, 20), ' ', '_') AS snake20
        FROM documents
    """,
    doc="f12 string-function breadth: substring/upper/length/instr/"
        "like/replace — all JVM-codegen scalar expressions.",
    tags=("scalar", "text"),
)
def f12_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper(F.substring("text", 1, 10)).alias("head10"),
        F.length("text").cast("int").alias("n"),
        F.instr(F.col("text"), "spark").cast("int").alias("spark_pos"),
        F.when(F.col("text").like("%query%"), 1).otherwise(0).alias("has_query"),
        F.replace(F.substring(F.col("text"), 1, 20), F.lit(" "), F.lit("_")).alias("snake20"),
    )


@query(
    "f13_null_semantics",
    oracle="""
        SELECT event_id,
               coalesce(nullif(event_type, 'error'), 'recovered') AS type_or_recovered,
               CASE WHEN nullif(value, 0.0) IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END AS value_was_zero,
               CASE WHEN value > 250 THEN 'high' WHEN value > 50 THEN 'mid' ELSE 'low' END AS band
        FROM events
    """,
    doc="f13 null-handling semantics: nullif/coalesce, null-safe "
        "equality (<=> ≙ IS NOT DISTINCT FROM), searched CASE.",
    tags=("scalar",),
)
def f13_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.coalesce(F.nullif("event_type", F.lit("error")), F.lit("recovered")).alias("type_or_recovered"),
        F.when(F.nullif("value", F.lit(0.0)).eqNullSafe(F.lit(None).cast("double")), 1)
        .otherwise(0)
        .alias("value_was_zero"),
        F.when(F.col("value") > 250, "high")
        .when(F.col("value") > 50, "mid")
        .otherwise("low")
        .alias("band"),
    )


# ---------------------------------------------------------------- an1

@query(
    "an1_cohort_retention",
    oracle="""
        WITH activity AS (
            SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
        ),
        cohort AS (
            SELECT user_id, min(day) AS cohort_day FROM activity GROUP BY user_id
        ),
        sizes AS (
            SELECT cohort_day, count(*) AS cohort_n FROM cohort GROUP BY cohort_day
        ),
        cells AS (
            SELECT c.cohort_day,
                   CAST(date_diff('day', c.cohort_day, a.day) AS INTEGER) AS offset_days,
                   count(*) AS n_active
            FROM activity a JOIN cohort c USING (user_id)
            GROUP BY 1, 2
        )
        SELECT strftime(x.cohort_day, '%Y-%m-%d') AS cohort_day,
               x.offset_days,
               CAST(x.n_active AS BIGINT) AS n_active,
               CAST(s.cohort_n AS BIGINT) AS cohort_n,
               round(x.n_active::DOUBLE / s.cohort_n, 6) AS retention
        FROM cells x JOIN sizes s USING (cohort_day)
    """,
    doc="an1 cohort retention matrix: users bucketed by first-activity "
        "day, each cohort's active-user count per day offset, and the "
        "retention rate — the canonical product-analytics double "
        "aggregate. Plan shape: one distinct on (user, day), a min-"
        "window cohort derivation reusing the user partitioning, one "
        "join back on user_id, and a tiny (days × days) output. At "
        "scale the only wide exchange is on user_id and AQE coalesces "
        "the final cell aggregate.",
    tags=("agg", "temporal"),
)
def an1_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    activity = ev.select("user_id", F.date_trunc("day", "ts").alias("day")).distinct()
    # cohort via min-over-window: reuses activity's user_id clustering
    # instead of a second groupBy+join on the same key
    w = Window.partitionBy("user_id")
    flagged = activity.withColumn("cohort_day", F.min("day").over(w))
    sizes = (
        flagged.filter(F.col("day") == F.col("cohort_day"))
        .groupBy("cohort_day")
        .agg(F.count("*").alias("cohort_n"))
    )
    cells = flagged.groupBy(
        "cohort_day", F.datediff("day", "cohort_day").cast("int").alias("offset_days")
    ).agg(F.count("*").alias("n_active"))
    return cells.join(F.broadcast(sizes), "cohort_day").select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        "offset_days",
        F.col("n_active").cast("bigint").alias("n_active"),
        F.col("cohort_n").cast("bigint").alias("cohort_n"),
        F.round(F.col("n_active").cast("double") / F.col("cohort_n"), 6).alias("retention"),
    )


# ---------------------------------------------------------------- w5

SESSION_GAP_MIN = 30


@query(
    "w5_session_window_builtin",
    oracle=f"""
        WITH e AS (
            SELECT user_id, ts, value,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             > INTERVAL {SESSION_GAP_MIN} MINUTE
                        OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
        ),
        s AS (
            SELECT user_id, ts, value,
                   sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sess_no
            FROM e
        )
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               CAST(count(*) AS BIGINT) AS n_events,
               round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
        FROM s GROUP BY user_id, sess_no
    """,
    doc=f"w5 built-in session windows (F.session_window, "
        f"{SESSION_GAP_MIN}-min inactivity gap) run in BATCH mode, "
        "oracle-matched against the classic gaps-and-islands SQL "
        "(lag > gap ⇒ new island) — proving the built-in's semantics "
        "equal the manual w4 pattern. In streaming this same "
        "expression runs incrementally with watermark-driven state "
        "eviction; in batch it is one shuffle on user_id with the "
        "session merge done sort-locally per partition.",
    tags=("window", "temporal"),
)
def w5_session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", f"{SESSION_GAP_MIN} minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------- an2

FUNNEL_STEPS = ("signup", "click", "purchase")


@query(
    "an2_funnel_conversion",
    oracle=f"""
        WITH firsts AS (
            SELECT user_id,
                   min(CASE WHEN event_type = '{FUNNEL_STEPS[0]}' THEN ts END) AS t0,
                   min(CASE WHEN event_type = '{FUNNEL_STEPS[1]}' THEN ts END) AS t1,
                   min(CASE WHEN event_type = '{FUNNEL_STEPS[2]}' THEN ts END) AS t2
            FROM events GROUP BY user_id
        ),
        stages AS (
            SELECT user_id,
                   t0 IS NOT NULL AS s0,
                   t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0 AS s1,
                   t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
                       AND t2 IS NOT NULL AND t2 >= t1 AS s2
            FROM firsts
        )
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(count(*) FILTER (WHERE s0) AS BIGINT) AS n_signup,
               CAST(count(*) FILTER (WHERE s1) AS BIGINT) AS n_click,
               CAST(count(*) FILTER (WHERE s2) AS BIGINT) AS n_purchase,
               round(count(*) FILTER (WHERE s1)::DOUBLE
                     / nullif(count(*) FILTER (WHERE s0), 0), 6) AS click_rate,
               round(count(*) FILTER (WHERE s2)::DOUBLE
                     / nullif(count(*) FILTER (WHERE s1), 0), 6) AS purchase_rate
        FROM stages
    """,
    doc="an2 ordered funnel conversion (signup → click → purchase): a "
        "user advances a stage only if the stage's FIRST event is at or "
        "after the previous stage's first event — the canonical ordered-"
        "funnel semantics (min-per-step + ordering predicate), not a "
        "mere membership count. One conditional-min groupBy on user_id "
        "and a 1-row conditional aggregate; at 100 TB the only wide "
        "exchange is the user_id partial-agg shuffle.",
    tags=("agg", "temporal"),
)
def an2_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        *[
            F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"t{i}")
            for i, s in enumerate(FUNNEL_STEPS)
        ]
    )
    s0 = F.col("t0").isNotNull()
    s1 = s0 & F.col("t1").isNotNull() & (F.col("t1") >= F.col("t0"))
    s2 = s1 & F.col("t2").isNotNull() & (F.col("t2") >= F.col("t1"))
    stages = firsts.select(s0.alias("s0"), s1.alias("s1"), s2.alias("s2"))
    cnt = lambda c: F.sum(F.col(c).cast("long"))  # noqa: E731
    return stages.agg(
        F.count("*").alias("n_users"),
        cnt("s0").alias("n_signup"),
        cnt("s1").alias("n_click"),
        cnt("s2").alias("n_purchase"),
        F.round(cnt("s1").cast("double") / F.nullif(cnt("s0"), F.lit(0)), 6).alias("click_rate"),
        F.round(cnt("s2").cast("double") / F.nullif(cnt("s1"), F.lit(0)), 6).alias("purchase_rate"),
    )


# ---------------------------------------------------------------- scd2

@query(
    "scd2_type2_history",
    oracle="""
        WITH o AS (
            SELECT user_id, ts, event_type,
                   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     AS prev_type
            FROM events
        ),
        chg AS (
            SELECT user_id, ts, event_type FROM o
            WHERE prev_type IS NULL OR event_type <> prev_type
        ),
        iv AS (
            SELECT user_id, event_type AS status, ts AS valid_from,
                   lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
                   CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT)
                     AS version
            FROM chg
        )
        SELECT user_id, status, valid_from, valid_to, version,
               CAST(CAST(valid_to IS NULL AS INT) AS BIGINT) AS is_current
        FROM iv
    """,
    doc="scd2 slowly-changing-dimension TYPE-2 history build: treat "
        "each user's event stream as attribute updates, compress "
        "consecutive no-op updates (same status), and emit validity "
        "intervals [valid_from, valid_to) with version numbers and an "
        "is_current flag — the warehouse pattern for dimension "
        "history (scd1 is the overwrite twin). Both windows share ONE "
        "partitioning (user_id): a single exchange, then lag-filter "
        "and lead/row_number run pipelined on the same sort — no "
        "global window anywhere. At 100 TB the change-log scan is "
        "partition-parallel by user and intervals stream out without "
        "driver state.",
    tags=("temporal", "window", "pipeline"),
)
def scd2_type2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        ev.select("user_id", "ts", "event_type", F.lag("event_type").over(wo).alias("prev_type"))
        .filter(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
    )
    wi = Window.partitionBy("user_id").orderBy("ts")
    return chg.select(
        "user_id",
        F.col("event_type").alias("status"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(wi).alias("valid_to"),
        F.row_number().over(wi).cast("bigint").alias("version"),
    ).withColumn("is_current", F.col("valid_to").isNull().cast("int").cast("bigint"))


# ---------------------------------------------------------------- an3

@query(
    "an3_event_transitions",
    oracle="""
        WITH s AS (
            SELECT user_id, event_type,
                   lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     AS next_type
            FROM events
        ),
        pairs AS (
            SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
            FROM s WHERE next_type IS NOT NULL
            GROUP BY 1, 2
        )
        SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
               round(n / sum(n) OVER (PARTITION BY from_type), 6) AS p
        FROM pairs
    """,
    doc="an3 first-order event-transition matrix (Markov step): per "
        "user-ordered stream, count (event_type → next event_type) "
        "pairs and normalize per source state — the clickstream "
        "path-analysis primitive. One exchange on user_id for the "
        "lead window, one partial-aggregated shuffle on the 5×5 pair "
        "key; the per-from normalization windows over the TINY pair "
        "relation (|event_types|² rows), not the event stream.",
    tags=("temporal", "window", "agg"),
)
def an3_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "event_type", F.lead("event_type").over(w).alias("next_type"))
        .filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type"))
        .agg(F.count("*").alias("n"))
    )
    wp = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n") / F.sum("n").over(wp), 6).alias("p"),
    )


# ---------------------------------------------------------------- ts2

@query(
    "ts2_linear_interpolate",
    oracle="""
        WITH hourly AS (
            SELECT user_id, date_trunc('hour', ts) AS hour,
                   round(CAST(sum(value) AS DOUBLE), 2) AS hour_value
            FROM events GROUP BY 1, 2
        ),
        bounds AS (
            SELECT user_id, min(hour) AS h0, max(hour) AS h1
            FROM hourly GROUP BY user_id
        ),
        spine AS (
            SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
            FROM bounds
        ),
        joined AS (
            SELECT s.user_id, s.hour, h.hour_value,
                   CASE WHEN h.hour_value IS NOT NULL THEN s.hour END AS obs_hour
            FROM spine s LEFT JOIN hourly h
              ON h.user_id = s.user_id AND h.hour = s.hour
        ),
        ctx AS (
            SELECT user_id, hour, hour_value,
                   last_value(hour_value IGNORE NULLS) OVER wb AS pv,
                   last_value(obs_hour IGNORE NULLS) OVER wb AS ph,
                   first_value(hour_value IGNORE NULLS) OVER wf AS nv,
                   first_value(obs_hour IGNORE NULLS) OVER wf AS nh
            FROM joined
            WINDOW wb AS (PARTITION BY user_id ORDER BY hour
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wf AS (PARTITION BY user_id ORDER BY hour
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT user_id, hour,
               hour_value IS NOT NULL AS observed,
               CASE
                   WHEN hour_value IS NOT NULL THEN hour_value
                   WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                       pv + (nv - pv)
                            * (CAST(epoch_us(hour) - epoch_us(ph) AS DOUBLE)
                               / (epoch_us(nh) - epoch_us(ph)))
                   ELSE coalesce(pv, nv)
               END AS interp_value
        FROM ctx
    """,
    doc="ts2 time-series linear interpolation (ts1's LOCF upgraded): "
        "densify each user's hourly series and fill silent hours by "
        "interpolating between the PREVIOUS and NEXT observed points "
        "in event-time proportion. Scale shape (the bracket-join "
        "rewrite): ONE lead() window over the SPARSE hourly relation "
        "pairs each observation with its successor, then each "
        "[obs, next_obs) interval explodes its dense hours map-side "
        "with the bracketing (value, timestamp) pairs already on the "
        "row — no dense spine join and no window over the densified "
        "output (the previous two-dense-window form probed 250 s at "
        "the ×10 sweep; windows now touch only |observations| rows "
        "and the dense mass is pure codegen arithmetic). Every "
        "generated hour has both brackets by construction; the last "
        "observation emits itself (frac 0 ⇒ exact observed value).",
    tags=("temporal", "window"),
)
def ts2_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("hour")).agg(
        F.round(F.sum("value"), 2).alias("hour_value")
    )
    w = Window.partitionBy("user_id").orderBy("hour")
    span = hourly.select(
        "user_id",
        F.col("hour").alias("ph"),
        F.col("hour_value").alias("pv"),
        F.lead("hour").over(w).alias("nh"),
        F.lead("hour_value").over(w).alias("nv"),
    )
    # explode [ph, nh) per interval; the terminal observation (nh null)
    # emits just itself — dense coverage of [h0, h1], each hour once
    gaps = span.select(
        "user_id",
        "ph",
        "pv",
        "nh",
        "nv",
        F.explode(
            F.sequence(
                "ph",
                F.coalesce(F.col("nh") - F.expr("INTERVAL 1 HOUR"), F.col("ph")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("hour"),
    )
    frac = (
        (F.unix_micros("hour") - F.unix_micros("ph")).cast("double")
        / (F.unix_micros("nh") - F.unix_micros("ph"))
    )
    interp = F.when(F.col("hour") == F.col("ph"), F.col("pv")).otherwise(
        F.col("pv") + (F.col("nv") - F.col("pv")) * frac
    )
    ctx = gaps.withColumn("hour_value", F.when(F.col("hour") == F.col("ph"), F.col("pv")))
    return ctx.select(
        "user_id",
        "hour",
        F.col("hour_value").isNotNull().alias("observed"),
        # no final rounding: the blend is the same IEEE op sequence in
        # both engines over round(2) inputs, so unrounded doubles match
        # bit-for-bit, while round(6) would split on exact-half cases
        interp.alias("interp_value"),
    )


# ---------------------------------------------------------------- ts1

@query(
    "ts1_gap_fill_locf",
    oracle="""
        WITH hourly AS (
            SELECT user_id, date_trunc('hour', ts) AS hour,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(CAST(sum(value) AS DOUBLE), 2) AS hour_value
            FROM events GROUP BY 1, 2
        ),
        bounds AS (
            SELECT user_id, min(hour) AS h0, max(hour) AS h1
            FROM hourly GROUP BY user_id
        ),
        spine AS (
            SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
            FROM bounds
        ),
        joined AS (
            SELECT s.user_id, s.hour,
                   coalesce(h.n_events, 0) AS n_events,
                   h.hour_value
            FROM spine s LEFT JOIN hourly h
              ON h.user_id = s.user_id AND h.hour = s.hour
        )
        SELECT user_id, hour,
               CAST(n_events AS BIGINT) AS n_events,
               last_value(hour_value IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS filled_value,
               n_events = 0 AS is_gap
        FROM joined
    """,
    doc="ts1 time-series gap fill with last-observation-carried-forward "
        "(the hypertable/resample primitive): aggregate events to an "
        "hourly grid per user, densify with a generated hourly spine "
        "between each user's first and last active hour, and fill "
        "silent hours with the last observed hourly value. Spark "
        "shape: one groupBy to the hourly grain, a per-user sequence()"
        "+explode for the spine (map-side — bounds ride the same "
        "aggregate), one left join back, and last(ignorenulls) over "
        "the user partitioning for the fill. Every window is keyed by "
        "user_id — no global sort; at 100 TB the spine explode is "
        "bounded by time-range × users, not event count.",
    tags=("temporal", "window"),
)
def ts1_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("hour_value"),
        )
    )
    bounds = hourly.groupBy("user_id").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
    )
    joined = spine.join(hourly, ["user_id", "hour"], "left").select(
        "user_id",
        "hour",
        F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
        "hour_value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "hour",
        "n_events",
        F.last("hour_value", ignorenulls=True).over(w).alias("filled_value"),
        (F.col("n_events") == 0).alias("is_gap"),
    )


# ---------------------------------------------------------------- w7

@query(
    "w7_trailing_range_window",
    oracle="""
        SELECT event_id,
               CAST(count(*) OVER w AS BIGINT) AS n_1h,
               round(CAST(sum(value) OVER w AS DOUBLE), 2) AS sum_1h
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
    doc="w7 trailing time-RANGE window: per event, the count and value "
        "sum of the same user's events in the trailing hour — a range "
        "frame over the physical time axis (peers at equal timestamps "
        "included, per RANGE semantics), not a row frame. Spark "
        "expresses it as rangeBetween(-3.6e9, 0) over the microsecond "
        "timeline; one exchange on user_id, sort-local evaluation — "
        "the sliding-aggregate shape rate limiters and rolling "
        "telemetry use at any scale.",
    tags=("window", "temporal"),
)
def w7_trailing_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn("ts_us", F.unix_micros("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        F.count("*").over(w).cast("bigint").alias("n_1h"),
        F.round(F.sum("value").over(w), 2).alias("sum_1h"),
    )


# ---------------------------------------------------------------- j8

ASOF_TOL_US = 2 * 3600 * 1_000_000  # 2-hour forward tolerance


@query(
    "j8_asof_forward_tolerance",
    oracle=f"""
        WITH e AS (
            SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        ),
        p AS (
            SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us
            FROM events WHERE event_type = 'purchase'
        ),
        j AS (
            SELECT e.event_id, p.p_id, p.p_us, e.ts_us,
                   row_number() OVER (PARTITION BY e.event_id
                                      ORDER BY p.p_us, p.p_id) AS rn
            FROM e LEFT JOIN p
              ON e.user_id = p.user_id
             AND p.p_us > e.ts_us
             AND p.p_us - e.ts_us <= {ASOF_TOL_US}
        )
        SELECT event_id, p_id AS next_purchase_id, p_us - ts_us AS gap_us
        FROM j WHERE rn = 1
    """,
    doc="j8 FORWARD as-of join with tolerance (j7's mirror): for each "
        "event, the user's next purchase STRICTLY after it, kept only "
        f"within a {ASOF_TOL_US // 3_600_000_000}-hour horizon — the "
        "'time-to-next-conversion' join of attribution pipelines. "
        "Spark: carry-BACKWARD window (min of the purchase (ts,id) "
        "struct over the strictly-following range frame on the shared "
        "user timeline) + tolerance null-out — one shuffle on user_id, "
        "no candidate-range explosion at any scale. Oracle: arg-min "
        "row_number over (p_us, p_id) within the tolerance horizon — "
        "the SAME deterministic tie-break as min(struct(ts,id)), so "
        "two purchases at one microsecond cannot flake the compare "
        "(DuckDB's native ASOF leaves that tie unspecified).",
    tags=("join", "temporal"),
)
def j8_asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn("ts_us", F.unix_micros("ts"))
    w = Window.partitionBy("user_id").orderBy("ts_us").rangeBetween(
        1, Window.unboundedFollowing
    )
    purchase_mark = F.when(
        F.col("event_type") == "purchase",
        F.struct(F.col("ts_us").alias("p_us"), F.col("event_id").alias("p_id")),
    )
    nxt = ev.withColumn("next_p", F.min(purchase_mark).over(w))
    gap = F.col("next_p.p_us") - F.col("ts_us")
    in_tol = gap <= ASOF_TOL_US
    return nxt.select(
        "event_id",
        F.when(in_tol, F.col("next_p.p_id")).alias("next_purchase_id"),
        F.when(in_tol, gap).alias("gap_us"),
    )


# ---------------------------------------------------------------- roll1

@query(
    "roll1_time_rollup",
    oracle="""
        SELECT CAST(year(ts) AS INTEGER) AS yr,
               CAST(month(ts) AS INTEGER) AS mo,
               CAST(day(ts) AS INTEGER) AS dy,
               CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(value) AS DOUBLE), 2) AS sum_value,
               CAST(grouping(year(ts)) * 4 + grouping(month(ts)) * 2
                    + grouping(day(ts)) AS INTEGER) AS gid
        FROM events
        GROUP BY ROLLUP (year(ts), month(ts), day(ts))
    """,
    doc="roll1 time-hierarchy rollup (hour→day→month→year family): one "
        "ROLLUP pass emits the day, month, year and grand-total grains "
        "with a grouping id — the continuous-aggregate/hypertable "
        "rollup shape (a8/a11 cover categorical cube/grouping sets; "
        "this is the calendar hierarchy). One shuffle; partial "
        "aggregation applies per grain. At 100 TB the rollup input is "
        "the already-reduced finest grain, not the raw events, when "
        "maintained incrementally (ivm1's merge pattern).",
    tags=("agg", "temporal"),
)
def roll1_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    yr, mo, dy = F.year("ts"), F.month("ts"), F.dayofmonth("ts")
    return (
        ev.rollup(yr.alias("yr"), mo.alias("mo"), dy.alias("dy"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.grouping_id().cast("int").alias("gid"),
        )
        .select(
            F.col("yr").cast("int").alias("yr"),
            F.col("mo").cast("int").alias("mo"),
            F.col("dy").cast("int").alias("dy"),
            "n",
            "sum_value",
            "gid",
        )
    )


# ---------------------------------------------------------------- w9

@query(
    "w9_first_last_nth",
    oracle="""
        SELECT event_id, user_id,
               first_value(event_type) OVER w AS first_type,
               last_value(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type,
               nth_value(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="w9 positional window values: each event annotated with its "
        "user's first / last / second event type — first_value, "
        "last_value and nth_value over one user_id partitioning "
        "(last/nth use the full-partition frame; the default frame "
        "would make last_value ≡ current row). Completes the window-"
        "function matrix next to w1/w3/w6; one exchange serves all "
        "three.",
    tags=("window", "temporal"),
)
def w9_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(wf).alias("last_type"),
        F.nth_value("event_type", 2).over(wf).alias("second_type"),
    )


@query(
    "path1_top_session_paths",
    oracle=f"""
        WITH g AS (
            SELECT user_id, event_id, ts, event_type,
                   CASE WHEN ts - lag(ts) OVER w <= INTERVAL {SESSION_GAP_MIN} MINUTE
                        THEN 0 ELSE 1 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
            SELECT user_id, event_id, ts, event_type,
                   sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM g
        ),
        paths AS (
            SELECT user_id, session_id,
                   array_to_string(list(event_type ORDER BY ts, event_id), '>') AS path
            FROM s GROUP BY user_id, session_id
        )
        SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        FROM paths GROUP BY path
        ORDER BY n_sessions DESC, path
        LIMIT 20
    """,
    doc="path1 top session paths: sessionize (w4's lag-gap + cumsum), "
        "concatenate each session's ordered event-type sequence into a "
        "path string, count path frequencies, keep the global top 20 "
        "— the navigation-pattern analysis behind funnel design (an2 "
        "fixes the funnel; path1 DISCOVERS it). Ordering inside a "
        "session is pinned by (ts, event_id) via sort_array over "
        "structs, so the path strings are deterministic. Scale: both "
        "windows and the path aggregate are keyed by user; only "
        "(path, count) partials — bounded by distinct paths — reach "
        "the final top-k, which is TakeOrderedAndProject, not a "
        "global sort.",
    tags=("temporal", "analytics"),
)
def path1_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ok = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    ) <= SESSION_GAP_MIN * 60 * 1_000_000
    g = ev.withColumn("new_sess", F.when(gap_ok, 0).otherwise(1))
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = g.withColumn("session_id", F.sum("new_sess").over(frame))
    paths = (
        s.groupBy("user_id", "session_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("ts").alias("ts"),
                        F.col("event_id").alias("event_id"),
                        F.col("event_type").alias("et"),
                    )
                )
            ).alias("seq")
        )
        .select(
            F.array_join(
                F.transform(F.col("seq"), lambda x: x["et"]), ">"
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(20)
    )


@query(
    "j9_interval_overlap_join",
    oracle=f"""
        WITH g AS (
            SELECT user_id, ts,
                   CASE WHEN ts - lag(ts) OVER w <= INTERVAL {SESSION_GAP_MIN} MINUTE
                        THEN 0 ELSE 1 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
            SELECT user_id, ts,
                   CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
            FROM g
        ),
        iv AS (
            SELECT user_id, session_id,
                   min(ts) AS t0, max(ts) AS t1
            FROM s GROUP BY user_id, session_id
        )
        SELECT a.user_id AS user_a, a.session_id AS sess_a,
               b.user_id AS user_b, b.session_id AS sess_b,
               CAST(date_diff('microsecond',
                              greatest(a.t0, b.t0),
                              least(a.t1, b.t1)) AS BIGINT) AS overlap_us
        FROM iv a JOIN iv b
          ON a.user_id < b.user_id
         AND a.t0 <= b.t1 AND b.t0 <= a.t1
    """,
    doc="j9 interval-overlap join (range x range — a distinct shape "
        "from j5's point-in-range): which user sessions were live at "
        "the same time, with the overlap duration. The oracle states "
        "it as the direct inequality join; the Spark plan is the "
        "SCALABLE form — each interval explodes to the hour buckets "
        "it covers (bounded by session length / bucket width), "
        "candidates equi-join on the bucket key, and the exact "
        "overlap predicate plus a CANONICAL-BUCKET emit (only the "
        "bucket holding the overlap start greatest(a0,b0) emits the "
        "pair — both intervals provably cover it, exactly one bucket "
        "matches, so no post-join distinct shuffle; r13) — the "
        "bucketize-overlap-verify pattern that replaces an O(n^2) "
        "BroadcastNestedLoopJoin with a shuffle on bucket keys. "
        "Interval relations (session tables, ad flights, "
        "maintenance windows) are exactly where naive range joins "
        "melt down at 100 TB.",
    tags=("join", "temporal"),
)
def j9_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ok = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    ) <= SESSION_GAP_MIN * 60 * 1_000_000
    g = ev.withColumn("new_sess", F.when(gap_ok, 0).otherwise(1))
    frame = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = g.withColumn("session_id", F.sum("new_sess").over(frame))
    iv = s.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1")
    )
    hour_us = 3_600_000_000
    bucketed = iv.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.floor(F.unix_micros("t0") / hour_us),
                F.floor(F.unix_micros("t1") / hour_us),
            )
        ),
    )
    a = bucketed.select(
        F.col("user_id").alias("user_a"),
        F.col("session_id").alias("sess_a"),
        F.col("t0").alias("a0"),
        F.col("t1").alias("a1"),
        "bucket",
    )
    b = bucketed.select(
        F.col("user_id").alias("user_b"),
        F.col("session_id").alias("sess_b"),
        F.col("t0").alias("b0"),
        F.col("t1").alias("b1"),
        "bucket",
    )
    # canonical-bucket emit (r13): a pair overlapping across k shared
    # hour buckets would match the bucket equi-join k times; instead
    # of dedup-by-distinct (a full extra shuffle of the PAIR relation
    # — the dominant cost of the r12 plan at ×10, 19.5 s), emit each
    # pair only from the bucket containing the overlap START
    # greatest(a0,b0). Both intervals always cover that instant
    # (a0 ≤ g ≤ least(a1,b1) ≤ a1, same for b), and exactly one
    # exploded bucket equals floor(g/hour), so every qualifying pair
    # survives exactly once — no shuffle after the bucket join.
    pairs = (
        a.join(b, "bucket")
        .filter(
            (F.col("user_a") < F.col("user_b"))
            & (F.col("a0") <= F.col("b1"))
            & (F.col("b0") <= F.col("a1"))
            & (
                F.col("bucket")
                == F.floor(
                    F.unix_micros(F.greatest("a0", "b0")) / hour_us
                )
            )
        )
        .drop("bucket")
    )
    return pairs.select(
        "user_a",
        "sess_a",
        "user_b",
        "sess_b",
        (
            F.unix_micros(F.least("a1", "b1"))
            - F.unix_micros(F.greatest("a0", "b0"))
        ).alias("overlap_us"),
    )


@query(
    "ru1_running_distinct_users",
    oracle="""
        WITH firsts AS (
            SELECT user_id, min(date_trunc('day', ts)) AS first_day
            FROM events GROUP BY user_id
        ),
        daily AS (
            SELECT d.day,
                   CAST(coalesce(n.new_users, 0) AS BIGINT) AS new_users
            FROM (SELECT DISTINCT date_trunc('day', ts) AS day FROM events) d
            LEFT JOIN (
                SELECT first_day, count(*) AS new_users
                FROM firsts GROUP BY first_day
            ) n ON n.first_day = d.day
        )
        SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
               CAST(sum(new_users) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS running_distinct_users
        FROM daily
    """,
    doc="ru1 running distinct users per day — the cumulative-"
        "distinct-count idiom. COUNT(DISTINCT) OVER a growing frame "
        "is unbounded state per window row; the scalable identity is "
        "first-seen attribution: a user contributes to the running "
        "distinct exactly once, on their first-activity day, so "
        "running_distinct(day) = Σ new_users — one groupBy(user) min, "
        "one |days|-row daily relation, and a triangular broadcast "
        "self-join on it for the prefix sum (w2's pattern — a "
        "constant-key window would single-partition a WindowExec "
        "node; the day relation is calendar-bounded, so the triangle "
        "is metadata-sized). hll1 is the approximate/mergeable "
        "cousin for per-cell distinct; this is the exact running "
        "form.",
    tags=("temporal", "window", "analytics"),
)
def ru1_running_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("first_day")
    )
    newbies = firsts.groupBy("first_day").agg(F.count("*").alias("new_users"))
    days = ev.select(F.date_trunc("day", "ts").alias("day")).distinct()
    daily = days.join(
        newbies.withColumnRenamed("first_day", "day"), "day", "left"
    ).select("day", F.coalesce("new_users", F.lit(0)).cast("bigint").alias("new_users"))
    prev = daily.select(F.col("day").alias("d2"), F.col("new_users").alias("n2"))
    return (
        daily.join(F.broadcast(prev), F.col("d2") <= F.col("day"))
        .groupBy("day", "new_users")
        .agg(F.sum("n2").cast("bigint").alias("running_distinct_users"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "new_users",
            "running_distinct_users",
        )
    )


@query(
    "an4_rfm_segmentation",
    oracle="""
        WITH p AS (
            SELECT user_id,
                   max(ts) AS last_ts,
                   CAST(count(*) AS BIGINT) AS freq,
                   round(CAST(sum(value) AS DOUBLE), 2) AS monetary
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id
        ),
        base AS (
            SELECT user_id,
                   CAST(date_diff('microsecond', last_ts,
                                  (SELECT max(ts) FROM events)) AS BIGINT) AS rec_us,
                   freq, monetary
            FROM p
        ),
        th AS (
            SELECT quantile_cont(rec_us, 1.0/3) AS r1, quantile_cont(rec_us, 2.0/3) AS r2,
                   quantile_cont(freq, 1.0/3) AS f1, quantile_cont(freq, 2.0/3) AS f2,
                   quantile_cont(monetary, 1.0/3) AS m1, quantile_cont(monetary, 2.0/3) AS m2
            FROM base
        )
        SELECT user_id,
               CAST(CASE WHEN rec_us <= r1 THEN 3 WHEN rec_us <= r2 THEN 2 ELSE 1 END AS INTEGER) AS r_score,
               CAST(CASE WHEN freq <= f1 THEN 1 WHEN freq <= f2 THEN 2 ELSE 3 END AS INTEGER) AS f_score,
               CAST(CASE WHEN monetary <= m1 THEN 1 WHEN monetary <= m2 THEN 2 ELSE 3 END AS INTEGER) AS m_score
        FROM base, th
    """,
    doc="an4 RFM segmentation (analytics family): per-user recency/"
        "frequency/monetary from purchase events, tercile-scored "
        "against exact global quantiles. Plan shape: one purchase "
        "aggregate, then TWO 1-row broadcasts (corpus max-ts, the six "
        "tercile thresholds via exact percentile — c3's cutoff-"
        "broadcast pattern, no global window/sort anywhere); scoring "
        "is a codegen CASE per row. At 100 TB swap exact percentile "
        "for approx_percentile (f5's documented trade).",
    tags=("temporal", "analytics", "agg"),
)
def an4_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count("*").alias("freq"),
            F.round(F.sum("value"), 2).alias("monetary"),
        )
    )
    maxts = ev.agg(F.max("ts").alias("maxts"))
    base = p.crossJoin(F.broadcast(maxts)).select(
        "user_id",
        (F.unix_micros("maxts") - F.unix_micros("last_ts")).alias("rec_us"),
        "freq",
        "monetary",
    )
    th = base.agg(
        F.percentile("rec_us", F.lit(1.0 / 3)).alias("r1"),
        F.percentile("rec_us", F.lit(2.0 / 3)).alias("r2"),
        F.percentile("freq", F.lit(1.0 / 3)).alias("f1"),
        F.percentile("freq", F.lit(2.0 / 3)).alias("f2"),
        F.percentile("monetary", F.lit(1.0 / 3)).alias("m1"),
        F.percentile("monetary", F.lit(2.0 / 3)).alias("m2"),
    )
    scored = base.crossJoin(F.broadcast(th))
    r = (
        F.when(F.col("rec_us") <= F.col("r1"), 3)
        .when(F.col("rec_us") <= F.col("r2"), 2)
        .otherwise(1)
    )
    f_ = (
        F.when(F.col("freq") <= F.col("f1"), 1)
        .when(F.col("freq") <= F.col("f2"), 2)
        .otherwise(3)
    )
    m = (
        F.when(F.col("monetary") <= F.col("m1"), 1)
        .when(F.col("monetary") <= F.col("m2"), 2)
        .otherwise(3)
    )
    return scored.select(
        "user_id",
        r.cast("int").alias("r_score"),
        f_.cast("int").alias("f_score"),
        m.cast("int").alias("m_score"),
    )


# --------------------------------------------------------------- pit1

@query(
    "pit1_point_in_time_join",
    oracle="""
        WITH feat AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   count(*) AS n_ev, sum(value) AS sum_v
            FROM events GROUP BY 1, 2
        ),
        lab AS (
            SELECT event_id, user_id, CAST(ts AS DATE) AS day
            FROM events WHERE event_type = 'purchase'
        )
        SELECT l.event_id,
               CAST(f.day - DATE '1970-01-01' AS INTEGER) AS feat_day,
               CAST(f.n_ev AS BIGINT) AS n_ev,
               round(f.sum_v, 6) AS sum_v
        FROM lab l
        ASOF LEFT JOIN feat f ON l.user_id = f.user_id AND f.day < l.day
    """,
    doc="pit1 point-in-time feature join — THE feature-store op for "
        "assembling leakage-free training sets: each label event "
        "(purchase) is joined to the latest daily feature row "
        "STRICTLY BEFORE its own day, so no same-day (future-"
        "contaminated) aggregates leak into the features. Spark has "
        "no ASOF JOIN; j7's carry-forward trick generalizes: union "
        "the daily-feature rows and the label rows on the per-user "
        "day timeline and take max(feature-struct) over a RANGE "
        "frame ending at -1 — the strict inequality is the frame "
        "bound itself, so same-day rows are excluded by "
        "construction, not by a tie-break. One shuffle on user_id "
        "for the window plus one map-side-combined daily aggregate; "
        "no per-label range explosion at any scale. Oracle: DuckDB's "
        "native ASOF LEFT JOIN (deterministic — one feature row per "
        "(user, day) by construction).",
    tags=("join", "temporal", "pipeline"),
)
def pit1_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day_int = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    feat = (
        ev.select("user_id", day_int.alias("day_int"), "value")
        .groupBy("user_id", "day_int")
        .agg(F.count("*").alias("n_ev"), F.sum("value").alias("sum_v"))
        .select(
            "user_id",
            "day_int",
            F.struct("day_int", "n_ev", "sum_v").alias("fs"),
            F.lit(None).cast("bigint").alias("event_id"),
        )
    )
    lab = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        day_int.alias("day_int"),
        F.lit(None).cast("struct<day_int:int,n_ev:bigint,sum_v:double>").alias("fs"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("day_int").rangeBetween(
        Window.unboundedPreceding, -1
    )
    joined = feat.unionByName(lab).withColumn("prev", F.max("fs").over(w))
    return (
        joined.filter(F.col("event_id").isNotNull())
        .select(
            "event_id",
            F.col("prev.day_int").cast("int").alias("feat_day"),
            F.col("prev.n_ev").alias("n_ev"),
            F.round("prev.sum_v", 6).alias("sum_v"),
        )
    )


# ---------------------------------------------------------------- ivl1

IVL_LEN_S = 300  # each event opens a 5-minute activity interval


@query(
    "ivl1_interval_union",
    oracle=f"""
        WITH iv AS (
            SELECT user_id, epoch_us(ts) AS s,
                   epoch_us(ts) + {IVL_LEN_S} * 1000000 AS e,
                   event_id
            FROM events
        ),
        flagged AS (
            SELECT user_id, s, e, event_id,
                   CASE WHEN s > max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        THEN 1 ELSE 0 END AS new_island
            FROM iv
        ),
        islands AS (
            SELECT user_id, s, e,
                   sum(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
            FROM flagged
        ),
        merged AS (
            SELECT user_id, island, min(s) AS ms, max(e) AS me
            FROM islands GROUP BY 1, 2
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_islands,
               CAST(sum(me - ms) AS BIGINT) AS covered_us
        FROM merged GROUP BY user_id
    """,
    doc="ivl1 interval union (merged coverage): every event opens a "
        "5-minute activity interval; overlapping intervals per user "
        "merge into islands and the output is each user's island "
        "count and total covered time — the 'true active time' "
        "metric that naive sum-of-durations double-counts (w4 "
        "sessionizes by GAP between points; ivl1 merges explicit "
        "INTERVALS, the overlap-aware sibling). Classic running-max "
        "sweep: new-island flag = start exceeds the running max end "
        "over preceding rows (user-partitioned window, fully "
        "parallel), island id = prefix sum of flags, then one "
        "map-side-combined aggregate per island. The new-island "
        "flag is tie-order-invariant (it compares against the max "
        "over ALL preceding rows), so equal timestamps cannot flake "
        "the oracle.",
    tags=("temporal", "agg"),
)
def ivl1_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + IVL_LEN_S * 1_000_000).alias("e"),
        "event_id",
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        "event_id",
        F.when(F.col("s") > F.max("e").over(wprev), 1).otherwise(0).alias("new_island"),
    )
    # same total (s, event_id) order as the flag window: a tie-broken-
    # differently prefix sum could attach an equal-timestamp row to the
    # previous island in one engine and the new one in the other
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(wrun))
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_islands"),
        F.sum(F.col("me") - F.col("ms")).cast("bigint").alias("covered_us"),
    )


# ---------------------------------------------------------------- an5

@query(
    "an5_touch_attribution",
    oracle="""
        WITH e AS (
            SELECT user_id, epoch_us(ts) AS us, event_id, event_type FROM events
        ),
        m AS (
            SELECT user_id, event_type,
                   max(CASE WHEN event_type <> 'purchase'
                            THEN {'us': us, 'id': event_id, 'ch': event_type} END)
                       OVER (PARTITION BY user_id ORDER BY us
                             RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt,
                   min(CASE WHEN event_type <> 'purchase'
                            THEN {'us': us, 'id': event_id, 'ch': event_type} END)
                       OVER (PARTITION BY user_id ORDER BY us
                             RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ft
            FROM e
        ),
        p AS (
            SELECT coalesce(lt['ch'], '(none)') AS lc,
                   coalesce(ft['ch'], '(none)') AS fc
            FROM m WHERE event_type = 'purchase'
        )
        SELECT model, channel, CAST(count(*) AS BIGINT) AS n_conv
        FROM (
            SELECT 'last' AS model, lc AS channel FROM p
            UNION ALL SELECT 'first', fc FROM p
        ) GROUP BY 1, 2
    """,
    doc="an5 conversion attribution, first- and last-touch: each "
        "purchase is credited to the user's earliest (first-touch) "
        "and latest (last-touch) STRICTLY-PRIOR non-purchase event — "
        "j7's carry-forward trick again, with BOTH extremes read "
        "from the same strict RANGE frame in one window pass "
        "(max/min of a (ts, id, channel) struct; the struct ordering "
        "makes ties deterministic, the -1 range bound makes the "
        "strict inequality structural). Purchases with no prior "
        "touch report as '(none)' rather than silently dropping — "
        "the number a marketing report must not hide. One shuffle "
        "on user_id; output is O(models x channels).",
    tags=("temporal", "agg", "pipeline"),
)
def an5_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("us").rangeBetween(
        Window.unboundedPreceding, -1
    )
    touch = F.when(
        F.col("event_type") != "purchase",
        F.struct(
            F.col("us").alias("t_us"),
            F.col("event_id").alias("t_id"),
            F.col("event_type").alias("ch"),
        ),
    )
    m = e.select(
        "event_type",
        F.max(touch).over(w).alias("lt"),
        F.min(touch).over(w).alias("ft"),
    )
    p = m.filter(F.col("event_type") == "purchase").select(
        F.coalesce(F.col("lt.ch"), F.lit("(none)")).alias("lc"),
        F.coalesce(F.col("ft.ch"), F.lit("(none)")).alias("fc"),
    )
    stacked = p.select(
        F.expr("stack(2, 'last', lc, 'first', fc) AS (model, channel)")
    )
    return stacked.groupBy("model", "channel").agg(
        F.count("*").cast("bigint").alias("n_conv")
    )


# ---------------------------------------------------------------- roll2

@query(
    "roll2_sliding_window",
    oracle="""
        WITH e AS (
            SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INTEGER) AS d, value
            FROM events
        ),
        offs AS (SELECT unnest([0, 1]) AS k),
        w AS (SELECT e.d - offs.k AS win_start, e.value FROM e CROSS JOIN offs)
        SELECT CAST(win_start AS INTEGER) AS win_start,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 4) AS sum_v
        FROM w GROUP BY 1
    """,
    doc="roll2 sliding (HOP) window aggregate in BATCH mode via the "
        "window() TVF — 2-day windows hopping daily, so every event "
        "contributes to exactly two windows: the overlap factor is "
        "the fan-out (size/slide), made explicit here and mirrored "
        "in the oracle as a 2-row offsets cross join. st1 uses the "
        "same TVF under a watermark for streams; roll1 is the "
        "hierarchical (ROLLUP) flavor. The TVF expands rows "
        "BEFORE the shuffle (map-side fan-out x2, then one "
        "partial-aggregated groupBy on window start) — at 100 TB "
        "pick slide close to size to bound the fan-out, or "
        "pre-aggregate to the slide grain first and roll windows "
        "up from slide-grain partials.",
    tags=("temporal", "window", "agg"),
)
def roll2_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "2 days", "1 day")
    return (
        ev.groupBy(win.alias("w"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_v"),
        )
        .select(
            F.datediff(F.to_date("w.start"), F.lit("1970-01-01").cast("date"))
            .cast("int")
            .alias("win_start"),
            "n",
            "sum_v",
        )
    )


# ---------------------------------------------------------------- cal1

@query(
    "cal1_date_dimension",
    oracle="""
        WITH span AS (
            SELECT min(CAST(o_orderdate AS DATE)) AS lo,
                   max(CAST(o_orderdate AS DATE)) AS hi
            FROM orders
        ),
        days AS (
            SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
            FROM span
        )
        SELECT CAST(d - DATE '1970-01-01' AS INTEGER) AS day,
               CAST(isodow(d) AS INTEGER) AS iso_dow,
               CAST(month(d) AS INTEGER) AS month,
               CAST(quarter(d) AS INTEGER) AS quarter,
               (d = last_day(d)) AS is_month_end
        FROM days
    """,
    doc="cal1 date-dimension spine: the calendar table every "
        "time-rollup joins against (roll1/ts1 build ad-hoc spines; "
        "cal1 is the materialized-dimension form) — one row per day "
        "across the fact span with ISO weekday, month, quarter and "
        "month-end flag. Generated from a 1-row min/max aggregate "
        "broadcast into a sequence() explode: |days| rows total, "
        "driver never materializes the span, and the dimension "
        "broadcasts into any fact join at 100 TB (a few KB per "
        "decade).",
    tags=("temporal", "source"),
)
def cal1_date_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    span = o.agg(
        F.min(F.to_date("o_orderdate")).alias("lo"),
        F.max(F.to_date("o_orderdate")).alias("hi"),
    )
    days = span.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("d")
    )
    return days.select(
        F.datediff("d", F.lit("1970-01-01").cast("date")).cast("int").alias("day"),
        F.expr("extract(DAYOFWEEK_ISO FROM d)").cast("int").alias("iso_dow"),
        F.month("d").cast("int").alias("month"),
        F.quarter("d").cast("int").alias("quarter"),
        (F.col("d") == F.last_day("d")).alias("is_month_end"),
    )


# ---------------------------------------------------------------- ts4

@query(
    "ts4_seasonal_decompose",
    oracle="""
        WITH hourly AS (
            SELECT event_type,
                   CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hb,
                   CAST(round(avg(value) * 1000000, 0) AS BIGINT) AS vi
            FROM events GROUP BY 1, 2
        ),
        tr AS (
            SELECT event_type, hb, vi,
                   sum(vi) OVER w / CAST(count(*) OVER w AS DOUBLE) / 1000000 AS trend
            FROM hourly
            WINDOW w AS (PARTITION BY event_type ORDER BY hb
                         ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)
        ),
        de AS (
            SELECT event_type, hb, vi, trend,
                   CAST(round((vi / 1000000.0 - trend) * 1000000000, 0) AS BIGINT) AS di
            FROM tr
        ),
        se AS (
            SELECT event_type, hb, vi, trend, di,
                   sum(di) OVER (PARTITION BY event_type, hb % 24)
                       / CAST(count(*) OVER (PARTITION BY event_type, hb % 24) AS DOUBLE)
                       / 1000000000 AS seasonal
            FROM de
        )
        SELECT event_type, hb,
               round(vi / 1000000.0, 6) AS v,
               round(trend, 6) AS trend,
               round(seasonal, 6) AS seasonal,
               round(di / 1000000000.0 - seasonal, 6) AS residual
        FROM se
    """,
    doc="ts4 classical seasonal decomposition (trend + daily "
        "seasonality + residual) of each type's hourly mean series: "
        "trend = centered 24-hour moving average, seasonal = mean "
        "detrended value per hour-of-day, residual = what anomaly "
        "detection should actually look at (dq3 thresholds raw "
        "volume; ts3 profiles the seasonal shape; ts4 separates all "
        "three components). Every window is PARTITIONED (by type, or "
        "type x hour-of-day) over the calendar-bounded hourly "
        "relation — the fact scan contributes one map-side-combined "
        "hourly aggregate and is never windowed itself.",
    tags=("temporal", "window", "agg"),
)
def ts4_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # FIXED-POINT window sums: a 24-row float moving average accumulates
    # in engine-specific order and flakes the 6th decimal at rounding
    # boundaries; integer micro-units sum exactly in any order
    hourly = (
        ev.select(
            "event_type",
            F.floor(F.unix_micros("ts") / 3_600_000_000).cast("bigint").alias("hb"),
            "value",
        )
        .groupBy("event_type", "hb")
        .agg(F.round(F.avg("value") * 1_000_000, 0).cast("bigint").alias("vi"))
    )
    wtr = Window.partitionBy("event_type").orderBy("hb").rowsBetween(-12, 11)
    tr = hourly.withColumn(
        "trend",
        F.sum("vi").over(wtr) / F.count("*").over(wtr).cast("double") / 1_000_000,
    )
    de = tr.withColumn(
        "di",
        F.round((F.col("vi") / 1_000_000.0 - F.col("trend")) * 1_000_000_000, 0).cast(
            "bigint"
        ),
    )
    wse = Window.partitionBy("event_type", F.col("hb") % 24)
    se = de.withColumn(
        "seasonal",
        F.sum("di").over(wse) / F.count("*").over(wse).cast("double") / 1_000_000_000,
    )
    return se.select(
        "event_type",
        "hb",
        F.round(F.col("vi") / 1_000_000.0, 6).alias("v"),
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round(F.col("di") / 1_000_000_000.0 - F.col("seasonal"), 6).alias("residual"),
    )


# ---------------------------------------------------------------- an6

@query(
    "an6_markov_attribution",
    oracle=None,  # absorbing-chain solve (matrix inverse) — rows + tests
    doc="an6 Markov removal-effect attribution — the data-driven "
        "multi-touch model that replaces an5's positional heuristics "
        "(first/last-touch): user journeys are ordered touchpoint "
        "sequences truncated at the first purchase; an absorbing "
        "Markov chain (start → channels → conversion/null) is fit "
        "from ONE distributed transition count, and each channel's "
        "credit is its REMOVAL EFFECT — how much the conversion "
        "probability drops when the channel is deleted and its "
        "traffic falls to null — normalized to shares. Scale shape: "
        "the journey pass is one user-keyed window + lead() (an3's "
        "plan); everything after is a |channels|² matrix solve on "
        "the driver (numpy, microseconds) — the canonical "
        "aggregate-then-tiny-solve split. No SQL oracle (matrix "
        "inversion); pinned by a hand-solvable chain in tests plus "
        "share invariants.",
    tags=("temporal", "agg", "pipeline"),
)
def an6_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("user_id", "ts", "event_id", "event_type").withColumn(
        "rn", F.row_number().over(w)
    )
    fp = (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("fp_rn"))
    )
    j = seq.join(fp, "user_id", "left").filter(
        F.col("fp_rn").isNull() | (F.col("rn") <= F.col("fp_rn"))
    )
    # src → dst pairs inside the truncated journey; 'start' precedes
    # rn 1, 'purchase' row becomes the CONV absorber, journeys without
    # a purchase absorb into NULL after their last event
    step = j.withColumn(
        "src",
        F.when(F.col("rn") == 1, F.lit("start")).otherwise(
            F.lag("event_type").over(w)
        ),
    ).withColumn(
        "dst",
        F.when(F.col("event_type") == "purchase", F.lit("__conv__")).otherwise(
            F.col("event_type")
        ),
    )
    inner = step.select("src", "dst")
    ends = (
        j.groupBy("user_id")
        .agg(F.max("rn").alias("lr"), F.max("fp_rn").alias("fp"))
        .filter(F.col("fp").isNull())
    )
    last = (
        j.join(ends, "user_id")
        .filter(F.col("rn") == F.col("lr"))
        .select(F.col("event_type").alias("src"), F.lit("__null__").alias("dst"))
    )
    counts = (
        inner.unionByName(last)
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    states = sorted(
        {r["src"] for r in counts} | {r["dst"] for r in counts}
        - {"__conv__", "__null__"}
    )
    idx = {s: i for i, s in enumerate(states)}
    k = len(states)
    Q = np.zeros((k, k))
    R = np.zeros((k, 2))  # [conv, null]
    for r in counts:
        i = idx[r["src"]]
        if r["dst"] == "__conv__":
            R[i, 0] += r["n"]
        elif r["dst"] == "__null__":
            R[i, 1] += r["n"]
        else:
            Q[i, idx[r["dst"]]] += r["n"]
    tot = Q.sum(axis=1) + R.sum(axis=1)
    tot[tot == 0] = 1.0
    Qn, Rn = Q / tot[:, None], R / tot[:, None]

    def p_conv(q, rc, start_i):
        return float(np.linalg.solve(np.eye(len(q)) - q, rc)[start_i])

    s_i = idx["start"]
    base = p_conv(Qn, Rn[:, 0], s_i)
    rows = []
    for ch in states:
        if ch == "start":
            continue
        c = idx[ch]
        keep = [i for i in range(k) if i != c]
        # traffic into the removed channel is lost (falls to null):
        # drop its row AND column without renormalizing
        q2 = Qn[np.ix_(keep, keep)]
        r2 = Rn[keep, 0]
        pc = p_conv(q2, r2, keep.index(s_i))
        rows.append((ch, base, max(0.0, 1.0 - pc / base) if base > 0 else 0.0))
    tot_re = sum(re for _, _, re in rows) or 1.0
    return local_frame(
        spark,
        [
            (ch, round(b, 6), round(re, 6), round(re / tot_re, 6))
            for ch, b, re in rows
        ],
        "channel string, p_conv_base double, removal_effect double, attribution_share double",
    )


# ---------------------------------------------------------------- ts5

CUSUM_BASE_DAYS = 7   # baseline window (training distribution)
CUSUM_K = 0.5         # slack, in sigmas
CUSUM_H = 4.0         # decision threshold, in sigmas


@query(
    "ts5_cusum_changepoint",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, avg(value) AS x
            FROM events GROUP BY 1
        ),
        nday AS (
            SELECT day, x, row_number() OVER (ORDER BY day) AS i FROM daily
        ),
        base AS (
            SELECT avg(x) AS mu, stddev_samp(x) AS sd
            FROM nday WHERE i <= {CUSUM_BASE_DAYS}
        ),
        rec AS (
            WITH RECURSIVE c AS (
                SELECT n.i, n.day, n.x,
                       greatest(0.0, (n.x - b.mu) / b.sd - {CUSUM_K!r}) AS sp,
                       greatest(0.0, -((n.x - b.mu) / b.sd) - {CUSUM_K!r}) AS sn
                FROM nday n, base b WHERE n.i = 1
                UNION ALL
                SELECT n.i, n.day, n.x,
                       greatest(0.0, c.sp + (n.x - b.mu) / b.sd - {CUSUM_K!r}),
                       greatest(0.0, c.sn - (n.x - b.mu) / b.sd - {CUSUM_K!r})
                FROM c JOIN nday n ON n.i = c.i + 1, base b
            )
            SELECT * FROM c
        )
        SELECT CAST(day - DATE '1970-01-01' AS INTEGER) AS day,
               round(x, 6) AS daily_mean,
               round(sp, 6) AS cusum_pos,
               round(sn, 6) AS cusum_neg,
               (sp > {CUSUM_H!r} OR sn > {CUSUM_H!r}) AS changepoint
        FROM rec
    """,
    doc="ts5 CUSUM changepoint detection (Page 1954) — the sequential "
        "drift detector monitoring stacks run NEXT TO the "
        "distributional tests (psi1/ks1 ask 'has the distribution "
        "moved'; CUSUM asks 'WHEN did the mean shift', accumulating "
        "standardized deviations from a frozen baseline window with "
        f"slack k={CUSUM_K} and flagging |S| > {CUSUM_H}σ). The "
        "recurrence S⁺_d = max(0, S⁺_(d-1) + z_d − k) is clamped — "
        "NOT prefix-sum decomposable — so it runs as the aggregate-"
        "then-tiny-recurrence split: ONE distributed daily aggregate "
        "(the only pass over fact rows), then the |days|-length "
        "recurrence driver-side in a loop over the bounded calendar "
        "relation. Oracle: the same recurrence as a recursive CTE — "
        "identical float op order, exact equality.",
    tags=("temporal", "metric", "pipeline"),
)
def ts5_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.avg("value").alias("x"))
        .orderBy("day")
        .collect()
    )
    xs = [r["x"] for r in daily]
    base = xs[:CUSUM_BASE_DAYS]
    mu = sum(base) / len(base)
    sd = (sum((v - mu) ** 2 for v in base) / (len(base) - 1)) ** 0.5
    rows = []
    sp = sn = 0.0
    for r, x in zip(daily, xs):
        z = (x - mu) / sd
        sp = max(0.0, sp + z - CUSUM_K)
        sn = max(0.0, sn - z - CUSUM_K)
        rows.append(
            (
                (r["day"] - __import__("datetime").date(1970, 1, 1)).days,
                round(x, 6),
                round(sp, 6),
                round(sn, 6),
                bool(sp > CUSUM_H or sn > CUSUM_H),
            )
        )
    return local_frame(
        spark,
        rows,
        "day int, daily_mean double, cusum_pos double, cusum_neg double, changepoint boolean",
    )
