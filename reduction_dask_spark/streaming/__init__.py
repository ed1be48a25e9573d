"""Structured Streaming variants of the era-bucketed operators.

The reference has no streaming (SURVEY.md §2.15) — its only temporal
notion is the static era bucket. Here the same era semantics run as a
stream: events arrive, a watermark bounds lateness, tumbling windows
play the role of eras, and the flagship-adjacent aggregations run
incrementally. This is the stretch-goal capability: the batch and
streaming plans share the same expressions.

Local smoke path: file source over the testdata parquet + memory sink +
processAllAvailable() drives the query to completion synchronously
(public Spark testing idiom). In production the source is Kafka and the
sink a Delta/parquet table via foreachBatch.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..registry import query
from ..session import ensure_engine_confs, local_frame
from ..sources import normalize_ts, table_schema


def _stage_dir(sf_dir: str, table: str = "events") -> str:
    """FileStreamSource requires a flat directory of data files; stage
    symlinks to the events parquet under a stable temp dir. Handles
    both physical layouts: a single .parquet FILE (driver testdata,
    the scale-probe replicas) and a Spark-written .parquet DIRECTORY
    of part files — a symlink to a directory is not traversed by the
    file source, so part files are linked individually."""
    import hashlib
    import os
    import tempfile

    src = f"{sf_dir.rstrip('/')}/{table}.parquet"
    tag = hashlib.md5(f"{sf_dir}:{table}".encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"rds_stream_{tag}")
    os.makedirs(d, exist_ok=True)
    if os.path.isdir(src):
        for part in os.listdir(src):
            if part.endswith(".parquet"):
                link = os.path.join(d, part)
                if not os.path.exists(link):
                    os.symlink(os.path.join(src, part), link)
    else:
        link = os.path.join(d, f"{table}.parquet")
        if not os.path.exists(link):
            os.symlink(src, link)
    return d


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table with proper timestamps.

    FileStreamSource needs an explicit schema; take the batch reader's
    (:func:`sources.table_schema`: read from one parquet footer on the
    driver on the session's first use of the table, cached after it) so
    the stream tracks whichever physical timestamp flavor the testdata
    generation used, then normalize exactly like the batch path.
    """
    ensure_engine_confs(spark)
    file_schema = table_schema(spark, sf_dir, "events")
    raw = spark.readStream.schema(file_schema).parquet(_stage_dir(sf_dir))
    return normalize_ts(raw, ("ts",))


def windowed_value_stats(stream: DataFrame, window: str = "1 day", watermark: str = "1 hour") -> DataFrame:
    """Tumbling-window (≙ era) per-type aggregate with late-data bound."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("era_win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def _drain(q, name: str) -> None:
    """Wait for an availableNow query to finish. One still running
    after 300 s is stopped and raises: its sink holds a partial
    result. A query that failed raises from awaitTermination."""
    if not q.awaitTermination(timeout=300):
        q.stop()
        raise RuntimeError(f"{name} stream did not drain within 300s — its result is partial")


def run_to_memory(agg: DataFrame, name: str) -> DataFrame:
    """Drive a streaming aggregation over all available input, then
    return the materialized result as a batch DataFrame."""
    spark = agg.sparkSession
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, name)
    return spark.table(name)


@query(
    "st1_stream_windowed_agg",
    oracle="""
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS era_day, event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    doc="st1 streaming tumbling-window aggregate (era ≙ 1-day window) "
        "with watermark, driven to completion over the file source and "
        "checked against the equivalent batch SQL — stream/batch "
        "result parity.",
    tags=("streaming",),
)
def st1_stream_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_event_stream(spark, sf_dir)
    agg = windowed_value_stats(stream)
    result = run_to_memory(agg, "st1_out")
    return result.select(
        F.date_format(F.col("era_win.start"), "yyyy-MM-dd").alias("era_day"),
        "event_type",
        "n",
        "sum_value",
    )


@query(
    "st2_stream_sessionization",
    # Batch-parity oracle: the lag+cumsum gaps-and-islands idiom (w4's
    # shape) with session_window's exact merge rule — consecutive events
    # share a session iff their gap is STRICTLY below 30 min (Spark
    # merges session ranges [ts, ts+gap) only when they overlap).
    # Timestamps cross engines as epoch microseconds (BIGINT) so the
    # value hash is representation-independent.
    oracle="""
        WITH e AS (
            SELECT user_id, value, epoch_ns(ts) // 1000 AS tus FROM events
        ),
        g AS (
            SELECT user_id, tus, value,
                   CASE WHEN tus - lag(tus) OVER w < 30 * 60 * 1000000
                        THEN 0 ELSE 1 END AS new_sess
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)
        ),
        s AS (
            SELECT user_id, tus, value,
                   sum(new_sess) OVER (PARTITION BY user_id ORDER BY tus
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM g
        )
        SELECT user_id,
               CAST(min(tus) AS BIGINT) AS session_start_us,
               CAST(count(*) AS BIGINT) AS n_events,
               round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
        FROM s GROUP BY user_id, sid
    """,
    doc="st2 stateful sessionization: per-user session windows with a "
        "30-minute gap over the event stream (session_window + "
        "watermark) — the custom-stateful-operator pattern "
        "(applyInPandasWithState generalizes it). Oracle = w4's "
        "lag+cumsum batch sessionization with session_window's strict "
        "merge inequality — stream/batch result parity.",
    tags=("streaming",),
)
def st2_stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_event_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("sess"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    result = run_to_memory(agg, "st2_out")
    return result.select(
        "user_id",
        F.unix_micros(F.col("sess.start")).alias("session_start_us"),
        "n_events",
        "sum_value",
    ).orderBy("user_id", "session_start_us")


@query(
    "st3_stream_corr_by_era",
    oracle="""
        WITH base AS (
            SELECT CAST(day(ts) AS INTEGER) AS era, value AS y,
                   (value + ((event_id % 1000) * 2654435761) % 1000 / 1000.0 - 0.5) AS p
            FROM events
        ),
        stats AS (
            SELECT era, CAST(count(*) AS DOUBLE) AS n,
                   sum(y) AS sy, sum(p) AS sp, sum(y * p) AS syp,
                   sum(y * y) AS syy, sum(p * p) AS spp
            FROM base GROUP BY era
        )
        SELECT era,
               round((n * syp - sy * sp)
                     / (sqrt(n * syy - sy * sy) * sqrt(n * spp - sp * sp)), 6) AS corr
        FROM stats
    """,
    doc="st3 streaming per-era Pearson correlation via incremental "
        "sufficient statistics (sums of y, p, yp, y², p²) — the "
        "moment-sketch pattern that turns a batch-only metric (F4/M1's "
        "corr) into an incrementally-maintainable streaming aggregate; "
        "oracle-checked against the closed-form batch SQL.",
    tags=("streaming", "metrics"),
)
def st3_stream_corr_by_era(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_event_stream(spark, sf_dir)
    base = stream.select(
        F.dayofmonth("ts").cast("int").alias("era"),
        F.col("value").alias("y"),
        (F.col("value") + (((F.col("event_id") % 1000) * 2654435761) % 1000) / 1000.0 - 0.5).alias("p"),
    )
    agg = base.groupBy("era").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("y").alias("sy"),
        F.sum("p").alias("sp"),
        F.sum(F.col("y") * F.col("p")).alias("syp"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("p") * F.col("p")).alias("spp"),
    )
    result = run_to_memory(agg, "st3_out")
    corr = (F.col("n") * F.col("syp") - F.col("sy") * F.col("sp")) / (
        F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        * F.sqrt(F.col("n") * F.col("spp") - F.col("sp") * F.col("sp"))
    )
    return result.select("era", F.round(corr, 6).alias("corr"))


@query(
    "st4_stateful_user_totals",
    # the query keeps each user's LAST emitted update, which equals the
    # batch per-user total whatever the micro-batch boundaries were —
    # that batch-parity invariant IS the oracle (plus pytest parity)
    oracle="""
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
        FROM events GROUP BY user_id
    """,
    doc="st4 custom stateful operator via applyInPandasWithState: "
        "per-user running (count, sum) state updated batch-by-batch — "
        "the applyInPandasWithState slot SURVEY.md §2.15 names for "
        "arbitrary stateful reference patterns; state is a typed "
        "struct, output emitted per update. Oracle = batch groupBy: "
        "keeping the last update per user makes the stream result "
        "batch-equal regardless of micro-batch boundaries.",
    tags=("streaming",),
)
def st4_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    stream = read_event_stream(spark, sf_dir)

    def update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(total, 2)]}
        )

    agg = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, sum_value double",
        stateStructType="n bigint, total double",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    spark_q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("st4_out")
        .trigger(availableNow=True)
        .start()
    )
    _drain(spark_q, "st4")
    # keep the LAST emitted state per user (updates may appear per batch)
    from pyspark.sql.window import Window

    result = spark.table("st4_out")
    w = F.row_number().over(Window.partitionBy("user_id").orderBy(F.desc("n_events")))
    return result.withColumn("rn", w).filter(F.col("rn") == 1).drop("rn")


@query(
    "st5_stream_stream_join",
    oracle="""
        SELECT a.user_id,
               a.event_id AS click_id,
               b.event_id AS purchase_id,
               CAST(date_diff('microsecond', a.ts, b.ts) AS BIGINT) AS lat_us
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'click' AND b.event_type = 'purchase'
         AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    """,
    doc="st5 watermarked stream-stream interval join: click→purchase "
        "attribution within 1 hour. Both sides carry watermarks, so "
        "the join state store evicts a click's state once the purchase "
        "stream's watermark passes click.ts + 1h — bounded state at "
        "100 TB/day event volume, the property a naive cache-the-left- "
        "side design lacks. Driven to completion on the file source "
        "(append mode) and oracle-checked against the batch self-join "
        "— stream/batch parity for joins, not just aggregates.",
    tags=("streaming", "join"),
)
def st5_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        read_event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        read_event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("st5_out")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, "st5")
    return spark.table("st5_out").select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("lat_us"),
    )


def _shim_root() -> str:
    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "vendor",
        "protoshim",
    )


def ensure_protobuf(spark: SparkSession) -> str:
    """Make ``google.protobuf`` importable on the DRIVER. Prefers the
    real runtime; in containers without it (like this one), activates
    the vendored from-scratch mini runtime (vendor/protoshim — written
    against the PUBLIC protobuf wire spec). Worker processes are healed
    separately: the TWS driver/executor python workers receive neither
    addPyFile includes nor the driver's PYTHONPATH (observed: the TWS
    driver worker launches with only SPARK_HOME set), so the shim
    travels INSIDE the pickled StatefulProcessor (see shim_payload /
    _shim_processor_base). Returns the active runtime
    ('native' | 'shim')."""
    try:
        import google.protobuf as _gp

        # the shim itself may already be on sys.path from an earlier
        # call — report it as such, not as the native runtime
        return "shim" if "protoshim" in (getattr(_gp, "__file__", "") or "") else "native"
    except ImportError:
        pass
    import importlib

    shim = _shim_root()
    if shim not in sys.path:
        sys.path.insert(0, shim)
    importlib.invalidate_caches()
    import google.protobuf  # noqa: F401

    return "shim"


def shim_payload() -> dict:
    """{relative_path: source_bytes} of the protobuf shim — embedded in
    pickled stateful processors so ANY worker process that unpickles
    one can materialize the runtime locally, with no dependency on
    PYTHONPATH, addPyFile propagation, or a shared filesystem."""
    root = _shim_root()
    out = {}
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, root)] = fh.read()
    return out


_STATE_PROVIDER = "spark.sql.streaming.stateStore.providerClass"


def _shim_processor_base():
    """A StatefulProcessor base whose ``__setstate__`` installs the
    embedded protobuf shim in whatever worker process unpickles the
    processor, BEFORE the TWS state client's lazy
    ``import google.protobuf`` fires.

    The class is built inside this function, so it is function-local
    and cloudpickle ships it BY VALUE with each processor (TWS python
    workers cannot import this package). ``__setstate__`` must
    therefore be self-contained: stdlib only."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class ShimInstallingProcessor(StatefulProcessor):
        def __init__(self, shim=None):
            self._shim = shim

        def __setstate__(self, state):
            self.__dict__.update(state)
            shim = state.get("_shim")
            if not shim:
                return
            import importlib
            import os as _os
            import sys as _sys
            import tempfile as _tf

            # A bare `import google.protobuf` is NOT a sufficient
            # presence check in Spark python workers: the spark-core
            # jar sits on their sys.path and its google/protobuf/*.proto
            # RESOURCE entries form a PEP-420 namespace phantom — the
            # import succeeds with __file__=None and every real symbol
            # missing ("unknown location" ImportErrors later). Demand a
            # real module file; otherwise install the embedded shim and
            # purge the phantom so the next import re-resolves.
            try:
                import google.protobuf as _gp

                if getattr(_gp, "__file__", None) is not None:
                    return  # real runtime (full deployments)
            except ImportError:
                pass
            # digest-versioned install root: a shim bugfix ships under a
            # NEW directory, so a stale install from an older payload on a
            # long-lived worker host can never shadow the current code
            import hashlib as _hl

            _dg = _hl.sha256()
            for _rel in sorted(shim):
                _dg.update(_rel.encode())
                _dg.update(shim[_rel])
            root = _os.path.join(
                _tf.gettempdir(), f"rds_protoshim_{_dg.hexdigest()[:16]}"
            )
            for rel, src in shim.items():
                p = _os.path.join(root, rel)
                if _os.path.exists(p):
                    continue
                _os.makedirs(_os.path.dirname(p), exist_ok=True)
                tmp = p + f".tmp{_os.getpid()}"
                with open(tmp, "wb") as fh:
                    fh.write(src)
                _os.replace(tmp, p)  # atomic under concurrent workers
            if root not in _sys.path:
                _sys.path.insert(0, root)
            for m in [m for m in _sys.modules if m == "google" or m.startswith("google.")]:
                del _sys.modules[m]
            importlib.invalidate_caches()

    return ShimInstallingProcessor


def _run_tws(spark: SparkSession, sf_dir: str, processor_cls, output_schema: str, name: str) -> DataFrame:
    """Run a per-user transformWithStateInPandas processor over the
    events stream to the memory sink ``name``; return the last update
    per user (updates may appear once per micro-batch).

    transformWithState keeps each named state in its own column
    family, which only the RocksDB provider supports (the default
    HDFS-backed store errors with multipleColumnFamiliesNotSupported).
    The conf is session-wide, so it is saved and RESTORED once the
    query drains or fails — other streaming queries' checkpoints
    (st4/st10) must not silently switch provider mid-session."""
    ensure_engine_confs(spark)
    shim = None if ensure_protobuf(spark) == "native" else shim_payload()
    prev = spark.conf.get(_STATE_PROVIDER, None)
    spark.conf.set(
        _STATE_PROVIDER,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        agg = read_event_stream(spark, sf_dir).groupBy("user_id").transformWithStateInPandas(
            processor_cls(shim=shim),
            outputStructType=output_schema,
            outputMode="Update",
            timeMode="None",
        )
        q = (
            agg.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q, name)
    finally:
        if prev is None:
            spark.conf.unset(_STATE_PROVIDER)
        else:
            spark.conf.set(_STATE_PROVIDER, prev)
    result = spark.table(name)
    w = F.row_number().over(Window.partitionBy("user_id").orderBy(F.desc("n_events")))
    return result.withColumn("rn", w).filter(F.col("rn") == 1).drop("rn")


@query(
    "st6_transform_with_state",
    oracle="""
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               round(CAST(sum(value) AS DOUBLE), 2) AS sum_value,
               round(CAST(max(value) AS DOUBLE), 2) AS max_value
        FROM events GROUP BY user_id
    """,
    doc="st6 transformWithStateInPandas (the Spark 4 arbitrary-state "
        "API that replaces applyInPandasWithState): per-user (count, "
        "sum, max) held in a typed ValueState, updated per input "
        "batch, emitted in update mode — named, schema'd, "
        "independently evolvable state (multiple states, TTL, "
        "timers), the engine's slot for custom stateful patterns at "
        "production depth. The TWS python worker speaks protobuf to "
        "the JVM state server; where google.protobuf is absent the "
        "vendored mini protobuf runtime (public wire spec, "
        "vendor/protoshim) is shipped to workers via addPyFile, so "
        "the path EXECUTES here, not just on full deployments. "
        "Oracle: the final per-user totals must equal the batch "
        "aggregate over the same rows.",
    tags=("streaming",),
)
def st6_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import StatefulProcessorHandle

    class UserTotals(_shim_processor_base()):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n BIGINT, total DOUBLE, vmax DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            n, total, vmax = self._agg.get() if self._agg.exists() else (0, 0.0, float("-inf"))
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                vmax = max(vmax, float(pdf["value"].max()))
            self._agg.update((n, total, vmax))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_value": [round(total, 2)],
                    "max_value": [round(vmax, 2)],
                }
            )

        def close(self) -> None:
            pass

    return _run_tws(
        spark,
        sf_dir,
        UserTotals,
        "user_id bigint, n_events bigint, sum_value double, max_value double",
        "st6_out",
    )


@query(
    "st7_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    doc="st7 streaming exact dedup via dropDuplicatesWithinWatermark: "
        "first-arrival-wins on the dedup key with state bounded by the "
        "watermark — the streaming-ingest twin of dd1 for a training-"
        "data pipeline (late re-sends of the same record are dropped; "
        "keys older than the watermark age out of the state store "
        "instead of growing it forever). Output carries only the key "
        "columns so the result is deterministic and batch-SQL-"
        "checkable (SELECT DISTINCT). At 100 TB the state store is "
        "the bound: keyed state lives in RocksDB per shuffle "
        "partition, sized by keys-per-watermark-window, not corpus "
        "size.",
    tags=("streaming", "dedup"),
)
def st7_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_event_stream(spark, sf_dir)
    dd = (
        stream.withWatermark("ts", "1 hour")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    q = (
        dd.writeStream.outputMode("append")
        .format("memory")
        .queryName("st7_out")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, "st7")
    return spark.table("st7_out")


# ------------------------------------------------------- kafka source

def kafka_stream_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """Production source config for the event stream (the container has
    no Kafka connector jar, so this is the tested-pure part; see
    read_event_stream_kafka)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        # fail fast on topic deletion/offset loss instead of silently
        # re-reading from earliest
        "failOnDataLoss": "true",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


#: Wire schema of the JSON event payload on the Kafka topic. `ts` is
#: epoch NANOS as a long (the upstream producer's convention); the
#: parse converts to a proper timestamp so downstream operators see
#: exactly what the file source yields. Kept as an explicit module
#: constant (not footer-inferred — there is no parquet footer on a
#: Kafka topic) and exercised batch-side by tests/test_streaming.py
#: so a schema drift fails in CI, connector or not.
EVENT_JSON_SCHEMA = (
    "event_id BIGINT, ts BIGINT, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def parse_event_payload(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Parse a binary/string JSON event payload column into the event
    schema (shared by the Kafka source and any other byte-stream
    source). Pure column expressions — testable without a connector."""
    parsed = raw.select(
        F.from_json(F.col(value_col).cast("string"), EVENT_JSON_SCHEMA).alias("e")
    ).select("e.*")
    return parsed.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def read_event_stream_kafka(
    spark: SparkSession, bootstrap_servers: str, topic: str, **kw
) -> DataFrame:
    """Kafka-source variant of read_event_stream: value is the JSON
    event payload, parsed to the same schema the file source yields —
    downstream operators (st1–st6) are source-agnostic.

    Requires the spark-sql-kafka connector on the classpath (not in
    this container; raises Spark's DATA_SOURCE_NOT_FOUND otherwise)."""
    ensure_engine_confs(spark)
    reader = spark.readStream.format("kafka")
    for k, v in kafka_stream_options(bootstrap_servers, topic, **kw).items():
        reader = reader.option(k, v)
    return parse_event_payload(reader.load())


# ---------------------------------------------------------------- st8

@query(
    "st8_foreach_batch_sink",
    # same batch semantics as st1 — the sink changes, not the aggregate
    oracle="""
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS era_day, event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    doc="st8 foreachBatch parquet sink: st1's windowed aggregate "
        "written through writeStream.foreachBatch — each micro-batch "
        "overwrites the result table atomically (complete mode + "
        "mode=overwrite ⇒ last-write-wins, so replays of an epoch are "
        "IDEMPOTENT — the exactly-once-on-output recipe from the "
        "public Structured Streaming guide). The returned DataFrame "
        "is read BACK from the parquet the sink wrote, so the oracle "
        "checks the sink output end-to-end, not the in-memory state. "
        "In production the same hook MERGEs by key into Delta (scd1's "
        "pattern) in update mode; the memory-sink queries (st1–st7) "
        "cover the aggregate semantics, this one covers the sink leg.",
    tags=("streaming", "pipeline"),
)
def st8_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    stream = read_event_stream(spark, sf_dir)
    agg = windowed_value_stats(stream)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out_dir = os.path.join(tempfile.gettempdir(), f"rds_st8_{tag}")

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        df.write.mode("overwrite").parquet(out_dir)

    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, "st8")
    return spark.read.schema(agg.schema).parquet(out_dir).select(
        F.date_format(F.col("era_win.start"), "yyyy-MM-dd").alias("era_day"),
        "event_type",
        "n",
        "sum_value",
    )


@query(
    "st9_stream_static_enrich",
    oracle="""
        WITH dim AS (
            SELECT user_id,
                   CAST(least(floor(avg(value) / 2), 5) AS BIGINT) AS tier
            FROM events GROUP BY user_id
        )
        SELECT strftime(date_trunc('day', e.ts), '%Y-%m-%d') AS era_day,
               d.tier,
               CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(e.value) AS DOUBLE), 2) AS sum_value
        FROM events e JOIN dim d ON e.user_id = d.user_id
        GROUP BY 1, 2
    """,
    doc="st9 stream-static enrichment join: the live event stream is "
        "joined against a batch-built user profile dimension (tier = "
        "capped lifetime avg-value bucket — the 'nightly profile "
        "table' pattern), then aggregated per (day, tier). The static "
        "side is re-read per micro-batch by Structured Streaming's "
        "stream-static join contract and broadcast when small; no "
        "state store is needed for the join itself (only the "
        "downstream windowed agg holds state). Oracle: the same "
        "join+agg as one batch SQL.",
    tags=("streaming", "join"),
)
def st9_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import load_table

    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.least(F.floor(F.avg("value") / 2), F.lit(5))
            .cast("bigint")
            .alias("tier")
        )
    )
    enriched = read_event_stream(spark, sf_dir).join(F.broadcast(dim), "user_id")
    agg = (
        enriched.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("era_win"), "tier")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    out = run_to_memory(agg, "st9_out")
    return out.select(
        F.date_format(F.col("era_win.start"), "yyyy-MM-dd").alias("era_day"),
        "tier",
        "n",
        "sum_value",
    )


@query(
    "st10_stream_incremental_dedup",
    oracle="""
        WITH fp AS (
            SELECT doc_id,
                   md5(lower(array_to_string(string_split(trim(text), ' ')[1:8], ' ')))
                       AS fingerprint
            FROM documents
        ),
        hist AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 5 <> 0),
        batch AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 5 = 0),
        fresh AS (SELECT fingerprint FROM batch ANTI JOIN hist USING (fingerprint))
        SELECT CAST((SELECT count(*) FROM hist) AS BIGINT) AS n_historical,
               CAST((SELECT count(*) FROM fresh) AS BIGINT) AS n_new_appended,
               CAST((SELECT count(*) FROM hist) + (SELECT count(*) FROM fresh)
                    AS BIGINT) AS n_index_total
    """,
    doc="st10 streaming incremental dedup — dd9's corpus-fingerprint "
        "index maintained by a LIVE stream: documents arrive as a "
        "file stream, and each micro-batch's foreachBatch hook "
        "anti-joins the batch's prefix fingerprints against the "
        "on-disk index and APPENDS only the novel ones — the "
        "ingestion-tier dedup loop (index grows monotonically, "
        "arrivals never rescan the corpus). The returned row is read "
        "back from the index the sink maintained, so the oracle "
        "checks the persisted index state end-to-end. At 100 TB the "
        "index is a bucketed-by-fingerprint table (test_bucketing's "
        "pattern) so each micro-batch's anti-join is exchange-free "
        "on the index side.",
    tags=("streaming", "dedup", "pipeline"),
)
def st10_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    from ..operators.dedup import prefix_fingerprint
    from ..sources import load_table

    ensure_engine_confs(spark)
    d = load_table(spark, sf_dir, "documents")
    fp = d.select("doc_id", prefix_fingerprint(F.col("text")).alias("fingerprint"))

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    index_dir = os.path.join(tempfile.gettempdir(), f"rds_st10_idx_{tag}")
    if os.path.exists(index_dir):
        shutil.rmtree(index_dir)
    # historical index: the already-ingested corpus (dd9's split)
    n_hist_df = fp.filter(F.col("doc_id") % 5 != 0).select("fingerprint").distinct()
    n_hist_df.write.mode("overwrite").parquet(index_dir)
    index_schema = n_hist_df.schema
    n_historical = spark.read.schema(index_schema).parquet(index_dir).count()

    schema = table_schema(spark, sf_dir, "documents")
    stream = (
        spark.readStream.schema(schema)
        .parquet(_stage_dir(sf_dir, table="documents"))
        .filter(F.col("doc_id") % 5 == 0)
        .select(prefix_fingerprint(F.col("text")).alias("fingerprint"))
    )

    def ingest(batch: DataFrame, epoch_id: int) -> None:
        idx = batch.sparkSession.read.schema(index_schema).parquet(index_dir)
        fresh = batch.distinct().join(idx, "fingerprint", "left_anti")
        fresh.write.mode("append").parquet(index_dir)

    q = (
        stream.writeStream.foreachBatch(ingest)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, "st10")

    index = spark.read.schema(index_schema).parquet(index_dir)
    n_total = index.select("fingerprint").distinct().count()
    return local_frame(
        spark,
        [(n_historical, n_total - n_historical, n_total)],
        "n_historical bigint, n_new_appended bigint, n_index_total bigint",
    )


# ---------------------------------------------------------------- st11

class _EpochState:
    """A stream's merged state, one immutable parquet dir per epoch.

    foreachBatch is AT-LEAST-ONCE: a retried micro-batch must not merge
    its rows into state it already updated (double-counted weights),
    and a crash mid-swap must not lose the state. So each epoch writes
    its own dir; the ``CURRENT`` file names the live epoch and flips
    via os.replace (atomic on POSIX) only after the parquet commit
    (``_SUCCESS``). A retry of an applied epoch is a no-op; a retry of
    a half-written epoch deterministically rewrites it from the
    still-published predecessor. Before the first epoch nothing is
    published and the state reads as an empty local frame, so no job
    writes an empty table."""

    def __init__(self, name: str, sf_dir: str, schema: str) -> None:
        import hashlib
        import os
        import shutil
        import tempfile

        self.schema = schema
        tag = hashlib.md5(f"{name}:{sf_dir}".encode()).hexdigest()[:8]
        self.base = os.path.join(tempfile.gettempdir(), f"rds_{name}_state_{tag}")
        shutil.rmtree(self.base, ignore_errors=True)
        os.makedirs(self.base)
        self._ptr = os.path.join(self.base, "CURRENT")

    def _current(self) -> str | None:
        try:
            with open(self._ptr) as fh:
                return fh.read().strip()
        except FileNotFoundError:
            return None

    def read(self, spark: SparkSession) -> DataFrame:
        import os

        cur = self._current()
        if cur is None:
            return local_frame(spark, [], self.schema)
        return spark.read.schema(self.schema).parquet(os.path.join(self.base, cur))

    def apply(self, batch: DataFrame, epoch_id: int, merge) -> None:
        """Publish ``merge(state, batch)`` as epoch ``epoch_id``'s state."""
        import os
        import shutil

        name = f"epoch_{epoch_id}"
        prev = self._current()
        if prev == name:
            return  # retried, already applied AND published: no-op
        dst = os.path.join(self.base, name)
        if not os.path.exists(os.path.join(dst, "_SUCCESS")):
            merge(self.read(batch.sparkSession), batch).write.mode("overwrite").parquet(dst)
        tmp = self._ptr + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(name)
        os.replace(tmp, self._ptr)
        if prev is not None:
            shutil.rmtree(os.path.join(self.base, prev), ignore_errors=True)


@query(
    "st11_stream_quantile_sketch",
    oracle="""
        WITH n AS (SELECT count(*) AS n FROM events),
        r AS (SELECT value, row_number() OVER (ORDER BY value) AS rn FROM events),
        qs AS (SELECT unnest([10, 25, 50, 75, 90]) AS q_pct)
        SELECT CAST(qs.q_pct AS INTEGER) AS q_pct, round(r.value, 6) AS est
        FROM qs, n
        JOIN r ON r.rn = (qs.q_pct * n.n + 99) // 100
    """,
    doc="st11 streaming quantile monitoring — kll1's mergeable sketch "
        "maintained by a LIVE stream: each micro-batch builds per-"
        "shard KLL-shaped summaries (kll1's compactor), merges them "
        "with the persisted sketch state, re-compacts per shard and "
        "swaps the state atomically — the state is bounded at "
        "shards x K rows FOREVER regardless of how much data has "
        "streamed through, which is the entire point of sketch-"
        "based monitoring (a latency dashboard never rescans "
        "history). The final answer is read from the persisted "
        "state, so the oracle checks the maintained-state path "
        "end-to-end: exact nearest-rank quantiles whenever no "
        "compaction triggered (true at driver scales), within the "
        "compactor's rank-error bound otherwise.",
    tags=("streaming", "agg", "sketch"),
)
def st11_stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..operators.relational import QSK_K, QSK_PCTS, QSK_SHARDS, _qsk_compact

    ensure_engine_confs(spark)
    state = _EpochState("st11", sf_dir, "shard bigint, v double, w bigint")

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["v"].to_numpy(dtype=np.float64)
        w = pdf["w"].to_numpy(dtype=np.int64)
        v, w = _qsk_compact(v, w, QSK_K)
        return pd.DataFrame({"shard": pdf["shard"].iloc[0], "v": v, "w": w})

    schema = table_schema(spark, sf_dir, "events")
    stream = (
        spark.readStream.schema(schema)
        .parquet(_stage_dir(sf_dir))
        .select(
            (F.col("event_id") % QSK_SHARDS).alias("shard"),
            F.col("value").alias("v"),
            F.lit(1).cast("bigint").alias("w"),
        )
    )

    def merge(cur: DataFrame, batch: DataFrame) -> DataFrame:
        return cur.unionByName(batch).groupBy("shard").applyInPandas(build, state.schema)

    def update(batch: DataFrame, epoch_id: int) -> None:
        state.apply(batch, epoch_id, merge)

    q = stream.writeStream.foreachBatch(update).trigger(availableNow=True).start()
    _drain(q, "st11")

    def answer(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["v"].to_numpy(dtype=np.float64)
        w = pdf["w"].to_numpy(dtype=np.int64)
        order = np.argsort(v, kind="mergesort")
        v, w = v[order], w[order]
        cum = np.cumsum(w)
        total = int(cum[-1])
        out = []
        for pct in QSK_PCTS:
            rank = (pct * total + 99) // 100
            out.append((pct, round(float(v[int(np.searchsorted(cum, rank))]), 6)))
        return pd.DataFrame(out, columns=["q_pct", "est"])

    return (
        state.read(spark)
        .withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(answer, "q_pct int, est double")
    )


# ---------------------------------------------------------------- st12

@query(
    "st12_custom_source_stream",
    oracle="""
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang
    """,
    doc="st12 streaming from the CUSTOM Python DataSource (format "
        "'jsonl', sources/jsonl_source.py): documents land as "
        "json-lines files, the SimpleDataSourceStreamReader tails the "
        "directory with an O(1) integer offset (count of consumed "
        "files — checkpoint state stays constant no matter how many "
        "files ever land), and a complete-mode per-language count "
        "aggregates across micro-batches. Closes the loop on the "
        "DataSource V2 surface: the batch reader/sink and pushFilters "
        "are pytest-covered, this registers the STREAMING path under "
        "the oracle gate (final counts must equal the batch "
        "aggregate over the same rows — exactly-once, no file "
        "dropped or double-read).",
    tags=("streaming", "source"),
)
def st12_custom_source_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    from ..sources import load_table
    from ..sources.jsonl_source import register_jsonl_source

    ensure_engine_confs(spark)
    register_jsonl_source(spark)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    land_dir = os.path.join(tempfile.gettempdir(), f"rds_st12_land_{tag}")
    if os.path.exists(land_dir):
        shutil.rmtree(land_dir)
    load_table(spark, sf_dir, "documents").select("doc_id", "lang").repartition(
        4
    ).write.format("jsonl").mode("overwrite").save(land_dir)

    qname = f"st12_counts_{tag}"
    stream = (
        spark.readStream.format("jsonl")
        .schema("doc_id bigint, lang string")
        .load(land_dir)
    )
    agg = stream.groupBy("lang").agg(F.count("*").alias("n_docs"))
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, "st12")
    return spark.sql(
        f"SELECT lang, CAST(n_docs AS BIGINT) AS n_docs FROM {qname}"
    )


# ---------------------------------------------------------------- st13

@query(
    "st13_stream_drift_psi",
    oracle="""
        WITH span AS (
            SELECT min(ts) AS lo, max(ts) AS hi FROM events
        ),
        ref0 AS (
            SELECT e.event_type, e.value
            FROM events e CROSS JOIN span s
            WHERE (epoch_us(e.ts) - epoch_us(s.lo)) * 2
                  < (epoch_us(s.hi) - epoch_us(s.lo))
        ),
        vspan AS (SELECT min(value) AS vlo, max(value) AS vhi FROM ref0),
        binr AS (
            SELECT r.event_type,
                   CASE WHEN v.vhi > v.vlo THEN
                       least(9, greatest(0, CAST(floor((r.value - v.vlo)
                                  / ((v.vhi - v.vlo) / 10)) AS INTEGER)))
                   ELSE 0 END AS bin
            FROM ref0 r CROSS JOIN vspan v
        ),
        binc AS (
            SELECT e.event_type,
                   CASE WHEN v.vhi > v.vlo THEN
                       least(9, greatest(0, CAST(floor((e.value - v.vlo)
                                  / ((v.vhi - v.vlo) / 10)) AS INTEGER)))
                   ELSE 0 END AS bin
            FROM events e CROSS JOIN vspan v
        ),
        cr AS (SELECT event_type, bin, count(*) AS c_ref FROM binr GROUP BY 1, 2),
        cc AS (SELECT event_type, bin, count(*) AS c_new FROM binc GROUP BY 1, 2),
        ct AS (
            SELECT coalesce(cr.event_type, cc.event_type) AS event_type,
                   coalesce(cr.bin, cc.bin) AS bin,
                   coalesce(c_ref, 0) AS c_ref, coalesce(c_new, 0) AS c_new
            FROM cr FULL JOIN cc ON cr.event_type = cc.event_type AND cr.bin = cc.bin
        ),
        tot AS (
            SELECT event_type, sum(c_ref) AS n_ref, sum(c_new) AS n_new
            FROM ct GROUP BY 1
        ),
        frac AS (
            SELECT ct.event_type,
                   greatest(c_ref / CAST(n_ref AS DOUBLE), 0.0001) AS p,
                   greatest(c_new / CAST(n_new AS DOUBLE), 0.0001) AS q
            FROM ct JOIN tot USING (event_type)
        )
        SELECT event_type, round(sum((q - p) * ln(q / p)), 6) AS psi
        FROM frac GROUP BY event_type
    """,
    doc="st13 streaming drift monitor — psi1's production metric "
        "maintained BY the stream (the pairing every model-monitoring "
        "deployment runs: st11 watches latency quantiles, st13 "
        "watches input distribution drift): the REFERENCE histogram "
        "is frozen batch-side from the first half of the span (the "
        "'training window'), with bin edges fixed from the reference "
        "value extent; the stream then maintains per-(type, bin) "
        "CURRENT counts across micro-batches in st11's epoch-"
        "versioned atomic state (idempotent under foreachBatch "
        "retries, bounded at |types|×|bins| rows forever), and the "
        "final PSI(current ‖ reference) per type is computed from "
        "the persisted state — so the oracle checks the maintained-"
        "state path end-to-end, exactly.",
    tags=("streaming", "metric", "pipeline"),
)
def st13_stream_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import load_table

    ensure_engine_confs(spark)
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    ref0 = ev.crossJoin(F.broadcast(span)).filter(
        (F.unix_micros("ts") - F.unix_micros("lo")) * 2
        < (F.unix_micros("hi") - F.unix_micros("lo"))
    )
    vspan = ref0.agg(F.min("value").alias("vlo"), F.max("value").alias("vhi"))
    vrow = vspan.collect()[0]
    vlo, vhi = float(vrow["vlo"]), float(vrow["vhi"])

    def bin_of(col):
        if vhi > vlo:
            return F.least(
                F.lit(9),
                F.greatest(F.lit(0), F.floor((col - vlo) / ((vhi - vlo) / 10)).cast("int")),
            )
        return F.lit(0)

    ref = (
        ref0.select("event_type", bin_of(F.col("value")).alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("c_ref"))
    )

    state = _EpochState("st13", sf_dir, "event_type string, bin int, c_new bigint")

    schema = table_schema(spark, sf_dir, "events")
    stream = (
        spark.readStream.schema(schema)
        .parquet(_stage_dir(sf_dir))
        .select("event_type", F.col("value").cast("double").alias("value"))
    )

    def merge(cur: DataFrame, batch: DataFrame) -> DataFrame:
        delta = (
            batch.select("event_type", bin_of(F.col("value")).alias("bin"))
            .groupBy("event_type", "bin")
            .agg(F.count("*").alias("c_new"))
        )
        return (
            cur.unionByName(delta)
            .groupBy("event_type", "bin")
            .agg(F.sum("c_new").alias("c_new"))
        )

    def update(batch: DataFrame, epoch_id: int) -> None:
        state.apply(batch, epoch_id, merge)

    q = stream.writeStream.foreachBatch(update).trigger(availableNow=True).start()
    _drain(q, "st13")

    cur = state.read(spark)
    ct = (
        ref.join(cur, ["event_type", "bin"], "full")
        .select(
            "event_type",
            "bin",
            F.coalesce("c_ref", F.lit(0)).alias("c_ref"),
            F.coalesce("c_new", F.lit(0)).alias("c_new"),
        )
    )
    tot = ct.groupBy("event_type").agg(
        F.sum("c_ref").alias("n_ref"), F.sum("c_new").alias("n_new")
    )
    frac = ct.join(tot, "event_type").select(
        "event_type",
        F.greatest(F.col("c_ref") / F.col("n_ref").cast("double"), F.lit(0.0001)).alias("p"),
        F.greatest(F.col("c_new") / F.col("n_new").cast("double"), F.lit(0.0001)).alias("q"),
    )
    return frac.groupBy("event_type").agg(
        F.round(F.sum((F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p"))), 6).alias("psi")
    )


# ---------------------------------------------------------------- st6b

@query(
    "st6b_tws_list_state",
    oracle="""
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               round(CAST(min(value) AS DOUBLE), 2) AS min_value,
               round(CAST(max(value) AS DOUBLE), 2) AS max_value
        FROM events GROUP BY user_id
    """,
    doc="st6b transformWithStateInPandas with LIST state — st6 covers "
        "the ValueState path; this exercises the ListState message "
        "surface (getListState / appendList / listStateGet) through "
        "the same vendored protobuf runtime: per user, every batch "
        "APPENDS its values to the list state, and the emission "
        "recomputes count/min/max from the full persisted list — so "
        "the oracle checks that the list state accumulated every "
        "element exactly once across micro-batches. RocksDB state "
        "store; same self-installing shim delivery as st6.",
    tags=("streaming",),
)
def st6b_tws_list_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import StatefulProcessorHandle

    class UserValues(_shim_processor_base()):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._vals = handle.getListState("vals", "v DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            for pdf in rows:
                self._vals.appendList([(float(v),) for v in pdf["value"]])
            acc = [float(t[0]) for t in self._vals.get()]
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [len(acc)],
                    "min_value": [round(min(acc), 2)],
                    "max_value": [round(max(acc), 2)],
                }
            )

        def close(self) -> None:
            pass

    return _run_tws(
        spark,
        sf_dir,
        UserValues,
        "user_id bigint, n_events bigint, min_value double, max_value double",
        "st6b_out",
    )
