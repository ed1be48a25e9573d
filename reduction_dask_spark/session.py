"""SparkSession factory, and the one constructor of driver-built
tables (:func:`local_frame`).

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions ≈ cores (not 200), AQE on (runtime coalesce + skew-join —
era sizes are skewed, SURVEY.md §7 "What's hard" #5), Arrow enabled for
the pandas-UDF boundary. On a real cluster the same code runs with
executor-level configs; nothing here assumes single-node.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# The driver testdata has shipped timestamps two ways across rounds:
# parquet TIMESTAMP(NANOS) (Spark reads as nanosecond longs with
# NANOS_CONF) and plain TIMESTAMP(MICROS) with isAdjustedToUTC=false
# (Spark 4 reads as TIMESTAMP_NTZ by default). We pin NTZ inference
# OFF so naive micros surface as session-tz (UTC) instants — the same
# epoch interpretation DuckDB's epoch_us uses — and sources/ converts
# the nanos-long flavor to matching timestamps.
NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
NTZ_CONF = "spark.sql.parquet.inferTimestampNTZ.enabled"


def driver_memory() -> str:
    """``spark.driver.memory`` for a session this package launches:
    $SPARK_DRIVER_MEMORY when set, else the smaller of 16g and half of
    the host's physical memory, so that two drivers on one host cannot
    claim all of it."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env is not None:
        return env
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf or no such name
        return "16g"
    return f"{min(16 << 30, phys // 2) >> 20}m"


def default_cpus() -> int:
    """Cores of a local session this package launches: $SPARK_GRAFT_CPUS
    when set and non-zero, else the host's cores up to 32."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or min(os.cpu_count() or 4, 32)


def get_spark(app: str = "reduction_dask_spark", cpus: int | None = None) -> SparkSession:
    """The engine's tuned local session.

    ``spark.sql.codegen.cache.maxEntries`` is a static conf: it sizes
    the JVM-wide LRU of compiled whole-stage-codegen classes. At the
    default 100 entries a warm m1 → t2 → pipe1 loop recompiles 142
    classes per pass because the three plans evict each other; at
    1000 a warm pass recompiles 0-4. Being
    static, :func:`ensure_engine_confs` cannot set it on a session the
    caller built, so a driver-built session keeps Spark's default.
    """
    if cpus is None:
        cpus = default_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource V2 pushdown (sources/jsonl_source.py
        # implements pushFilters; off by default in 4.1)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config(NANOS_CONF, "true")
        .config(NTZ_CONF, "false")
        # static conf: bucketed tables (saveAsTable) land here
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "rds_warehouse"),
        )
    )
    # reliable-barrier hygiene, ONLY when that mode is active at
    # session build (SPARK_GRAFT_BARRIER=reliable routes
    # caching.barrier through checkpoint()): let ContextCleaner delete
    # checkpoint FILES once their RDD is GC'd so a long sweep cannot
    # fill the checkpoint dir. Deliberately NOT a default: the
    # cleaner's checkpoint tracking costs ~20% on barrier-heavy
    # queries (pipe3 fresh-session A/B: 6.15 s without vs 7.47 s
    # with), and the default local mode has nothing to clean.
    if os.environ.get("SPARK_GRAFT_BARRIER") == "reliable":
        builder = builder.config(
            "spark.cleaner.referenceTracking.cleanCheckpoints", "true"
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Set runtime-settable confs this engine depends on.

    The driver may hand us a session it built itself; the first two
    confs are required for correct reads/comparisons. The last two are
    runtime-settable performance defaults: a vanilla session ships
    shuffle.partitions=200 (6× task overhead for nothing on a ≤32-core
    local run — only overridden when still at the 200 default, so an
    explicit user choice sticks) and Arrow off at the pandas boundary.
    AQE and its coalesce/skew handling are already default-on in
    Spark 4 and deliberately NOT forced here.
    """
    spark.conf.set(NANOS_CONF, "true")
    spark.conf.set(NTZ_CONF, "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        cores = spark.sparkContext.defaultParallelism
        spark.conf.set("spark.sql.shuffle.partitions", str(max(cores, 4)))
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # static on some builds; jsonl source then skips pushdown
    return spark


def local_frame(
    spark: SparkSession, rows, schema: str | StructType | list[str]
) -> DataFrame:
    """A driver-built table (model coefficients, fold maps, parameter
    grids, small result tables) as a JVM ``LocalRelation``.

    Same contract as ``spark.createDataFrame`` on a list: a DDL
    string parses to all-nullable fields, a ``StructType`` keeps its
    nullability, a list of column names infers types from the rows,
    and every row passes createDataFrame's default verifier (a ``None``
    in a non-null field or a wrong Python type raises). But classic
    createDataFrame on a list parallelizes pickled rows, so each scan
    of even a 5-row table starts Python worker tasks behind a
    ``Scan ExistingRDD`` leaf; an Arrow table of the same rows becomes
    a ``LocalRelation`` (below
    ``spark.sql.execution.arrow.localRelationThreshold``, decoded in
    the JVM above it), which no Python worker ever touches and which
    ``LocalTableScanExec`` slices into ``min(rows, defaultParallelism)``
    partitions, the same count ``parallelize`` gives.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _make_type_verifier, _parse_datatype_string

    rows = list(rows)
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    elif not isinstance(schema, StructType):
        schema = spark._inferSchemaFromList(rows, names=list(schema))
    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.table(
        [pa.array(col, type=t) for col, t in zip(cols, arrow_schema.types)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
