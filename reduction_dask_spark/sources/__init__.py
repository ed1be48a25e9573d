"""Sources: loaders for the test star schema + generic readers.

Reference mapping (SURVEY.md §2.1): the reference's only source is a
headered CSV read with inferred dtypes (S1, nb cell 4) plus CSV/pickle
round-trips of intermediates (S2/S3). Here the primary format is
parquet (columnar, predicate pushdown, column pruning); CSV/JSON
readers are provided for parity.

Scale note: loaders return *lazy* DataFrames — no driver
materialization. At 100 TB these reads are partition-parallel scans
whose filters/projections Catalyst pushes into the parquet footers.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import weakref
from collections import OrderedDict
from urllib.parse import urlparse

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..session import NANOS_CONF, NTZ_CONF, ensure_engine_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Timestamp columns whose parquet physical type has varied across
# testdata generations: TIMESTAMP(NANOS) (read as nanosecond longs via
# session.NANOS_CONF) or TIMESTAMP(MICROS, isAdjustedToUTC=false)
# (read as TIMESTAMP_NTZ when a foreign session has NTZ inference on).
# Both are normalized here to plain UTC-instant TIMESTAMP — the same
# epoch interpretation DuckDB applies — so every downstream operator
# sees one stable dtype.
_TS_COLS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def normalize_ts(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """Normalize a timestamp column to UTC-instant TIMESTAMP regardless
    of which physical flavor the parquet reader surfaced."""
    dtypes = dict(df.dtypes)
    for col in cols:
        dt = dtypes.get(col)
        if dt == "bigint":
            # integer division: ts/1000 via `/` is DOUBLE and loses
            # sub-µs precision at 2024-epoch nano magnitudes (1.7e18
            # exceeds the 53-bit mantissa)
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif dt == "timestamp_ntz":
            # session tz is pinned to UTC (ensure_engine_confs), so the
            # cast treats the naive wall time as a UTC instant —
            # matching DuckDB's epoch_us on the same file
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# Parquet summary files: Spark's file index keeps them although they
# start with "_", and its schema inference reads one before any data file.
_SUMMARY_FILES = ("_metadata", "_common_metadata")


def _hidden(name: str) -> bool:
    """Whether Spark's file index skips a file or directory of this
    name (``HadoopFSUtils.shouldFilterOutPathName``): a leading ``.``,
    a leading ``_`` outside a ``k=v`` partition directory, or an
    in-flight ``._COPYING_`` copy. The summary files are never hidden."""
    hidden = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    return hidden and not name.startswith(_SUMMARY_FILES)


def file_signature(path: str) -> tuple[tuple[str, int, int], ...] | None:
    """``(relative path, size, mtime_ns)`` of every file Spark's reader
    sees at a local ``path``, in path order: the file itself (relative
    path ``""``) or every file under the directory that :func:`_hidden`
    lets through (a crashed write's _temporary parts must not count).
    A rewrite, an added or a removed part file changes the signature.
    None for a URI (hdfs://, s3a://) or a path that cannot be listed;
    callers then go to Spark unchanged."""
    if urlparse(path).scheme:
        return None
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (("", st.st_size, st.st_mtime_ns),)
        sig = []
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not _hidden(d)]
            for f in files:
                if not _hidden(f):
                    full = os.path.join(root, f)
                    st = os.stat(full)
                    sig.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
        return tuple(sorted(sig))
    except OSError:  # missing, unreadable, or a part removed mid-walk
        return None


_PARQUET = "org.apache.spark.sql.execution.datasources.parquet."


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema Spark's parquet inference gives for ``path``, read on
    the driver from one footer with no Spark job.

    With ``mergeSchema`` off, inference (``ParquetUtils.inferSchema``)
    reads a summary file if there is one, else the first data file in
    path order, and trusts every part file to agree; it does so inside
    a one-task job. This runs the same reader body here: Spark's footer
    reader, its converter built from the same confs, and the
    ``asNullable`` a file relation applies. The path is listed through
    Hadoop's ``FileSystem``, so local paths and URIs follow one rule.

    None wherever Spark would do more than read one data footer (schema
    merging on, a summary file present, a subdirectory that means
    partition discovery) or the driver-side read fails (a missing path,
    no data file, an unreadable footer), so that the caller takes
    Spark's own answer or error."""
    jvm = spark._jvm
    # one class lookup per name; attribute walks cost one failing
    # lookup (a classpath scan) per package segment
    cls = functools.partial(getattr, jvm)
    state = spark._jsparkSession.sessionState()
    conf = state.conf()
    if conf.isParquetSchemaMergingEnabled():
        return None
    hadoop_conf = state.newHadoopConf()
    try:
        root = cls("org.apache.hadoop.fs.Path")(path)
        fs = root.getFileSystem(hadoop_conf)
        status = fs.getFileStatus(root)
        if status.isDirectory():
            data = []
            for child in fs.listStatus(root):
                name = child.getPath().getName()
                if name.startswith(_SUMMARY_FILES):
                    return None
                if _hidden(name):
                    continue
                if child.isDirectory():
                    return None
                data.append((name, child))
            if not data:
                return None
            status = min(data, key=lambda nc: nc[0])[1]
        # ParquetFileFormat.mergeSchemasInParallel's converter: the
        # session's confs, and the constructor's defaults where it
        # passes none
        conv = cls(_PARQUET + "ParquetToSparkSchemaConverter")
        converter = conv(
            conf.isParquetBinaryAsString(),
            conf.isParquetINT96AsTimestamp(),
            getattr(conv, "$lessinit$greater$default$3")(),
            conf.parquetInferTimestampNTZEnabled(),
            conf.legacyParquetNanosAsLong(),
            getattr(conv, "$lessinit$greater$default$6")(),
            getattr(conv, "$lessinit$greater$default$7")(),
            conf.parquetReaderRespectUnknownTypeAnnotation(),
        )
        meta = cls(_PARQUET + "ParquetFooterReader").readFooter(
            cls("org.apache.parquet.hadoop.util.HadoopInputFile").fromStatus(status, hadoop_conf),
            cls("org.apache.parquet.format.converter.ParquetMetadataConverter").SKIP_ROW_GROUPS,
        )
        footer = cls("org.apache.parquet.hadoop.Footer")(status.getPath(), meta)
        schema = cls(_PARQUET + "ParquetFileFormat").readSchemaFromFooter(footer, converter)
        return StructType.fromJson(json.loads(schema.asNullable().json()))
    except Py4JJavaError:
        return None


# The confs Spark's parquet schema inference reads: the same files
# infer a different schema when one of them flips.
_SCHEMA_CONFS = (
    NANOS_CONF,
    NTZ_CONF,
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.caseSensitive",
)
_SCHEMA_CACHE_ENTRIES = 256
# SparkContext -> LRU of {(path, file signature, conf values): schema}.
# Weak keys: a stopped session's context takes its schemas with it, so
# a new session reads the footers again.
_schemas: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_schemas_lock = threading.Lock()


def _cached_schema(spark: SparkSession, path: str) -> StructType:
    """The parquet schema at ``path``: :func:`_footer_schema`'s, or
    Spark's inference job where that defers. A local path is read on
    the first call per session for each file signature and conf
    setting, then served from the session's cache; a path
    :func:`file_signature` cannot sign (a URI) is read on every call."""
    sig = file_signature(path)
    key = None if sig is None else (
        os.path.abspath(path),
        sig,
        tuple(spark.conf.get(k) for k in _SCHEMA_CONFS),
    )
    if key is not None:
        with _schemas_lock:
            cache = _schemas.setdefault(spark.sparkContext, OrderedDict())
            schema = cache.get(key)
            if schema is not None:
                cache.move_to_end(key)
                return schema
    schema = _footer_schema(spark, path)
    if schema is None:
        schema = spark.read.parquet(path).schema
    if key is not None:
        with _schemas_lock:
            cache[key] = schema
            if len(cache) > _SCHEMA_CACHE_ENTRIES:
                cache.popitem(last=False)
    return schema


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The parquet schema of table ``name`` in ``sf_dir`` as Spark's
    reader infers it under the session's current confs.

    The driver reads it from one parquet footer, with no Spark job;
    only schema merging, a summary file or partition directories leave
    it to Spark's inference job. A local table is read once per session
    for each version: the session keeps the schema keyed on the path,
    the :func:`file_signature` and the confs inference reads, so a
    rewrite, an added or removed part file, or a conf flip reads again.
    A URI (hdfs://, s3a://) is never cached and is read on every call."""
    return _cached_schema(spark, f"{sf_dir}/{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table from ``sf_dir`` as a lazy DataFrame.

    The schema comes from :func:`table_schema`, so a load runs no Spark
    job unless that defers to Spark's inference. Every call still builds a new relation (fresh attribute ids,
    Spark's own file listing), so self-joins and plans are those of a
    plain ``spark.read.parquet``."""
    ensure_engine_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    reader = spark.read.schema(_cached_schema(spark, path))
    return normalize_ts(reader.parquet(path), _TS_COLS.get(name, ()))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def spread_scan(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Input-parallelism guard for heavy per-row expression work over
    a scan (r16; guide §2.5's unsplittable-input remedy): when the
    scan yields FEWER partitions than the cluster's parallelism — a
    small single-row-group parquet file cannot split, so tens of
    cores sit idle while one task pays all the per-row compute, and
    every broadcast-join consumer downstream inherits that single
    partition — hash-repartition on ``key`` so per-row work uses
    every core. Decision is derived from the actual scan layout, not
    a constant: at 100 TB the scan has far more splits than cores and
    this returns ``df`` unchanged (zero added exchanges). The
    repartition is by a deterministic key, never round-robin
    (SPARK-38388 retry hazard + sort-before-repartition cost), and
    uses an explicit partition count so AQE cannot coalesce the tiny
    exchange back down to one partition (which would undo the spread
    exactly where it matters). Branches sharing the returned
    DataFrame reuse ONE exchange (ReusedExchange), so the cost at
    small scale is a single KB-size shuffle.

    Requirements and costs (r16 ADVICE): ``key`` must exist in ``df``
    (validated here so a bad caller fails at call site, not at use)
    and must be HIGH-CARDINALITY — the spread hashes it into
    ``defaultParallelism`` partitions, so a low-cardinality key would
    leave most of them empty. Probing the partition count goes
    through ``df.rdd`` (one driver-side DataFrame→RDD plan
    conversion per call — cheap for scan-rooted inputs, which is the
    only place this guard belongs; do not wrap deep plans in it)."""
    if key not in df.columns:
        raise ValueError(
            f"spread_scan key {key!r} not in DataFrame columns {df.columns}"
        )
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(key))


def parquet_row_count(sf_dir: str, name: str) -> int:
    """Table row count from parquet FOOTER metadata — zero Spark jobs
    (r15, r14 verdict item 6: dsir1's pin-vs-recompute gate used to run
    an eager ``d.count()`` inside the timed region on every
    invocation). Footers carry exact row counts, so this is the same
    number a count() job would return for an unfiltered scan. Handles
    both single-file and directory-of-parts layouts, over the files of
    :func:`file_signature` (Spark's hidden-file rule). Cached on that
    signature, the staleness rule :func:`table_schema` uses, so a
    rewritten table is counted again.
    LOCAL paths only — raises for URIs Spark could read but pyarrow
    can't (hdfs://, s3a://); callers gating an optimization should
    catch and fall back to a count() job."""
    path = f"{sf_dir}/{name}.parquet"
    sig = file_signature(path)
    if sig is None:
        raise FileNotFoundError(f"no local parquet table at {path}")
    return _row_count(os.path.abspath(path), sig)


@functools.lru_cache(maxsize=256)
def _row_count(path: str, sig: tuple[tuple[str, int, int], ...]) -> int:
    import pyarrow.parquet as pq

    if sig and sig[0][0] == "":  # a single file
        return pq.ParquetFile(path).metadata.num_rows
    return sum(
        pq.ParquetFile(os.path.join(path, rel)).metadata.num_rows
        for rel, _, _ in sig
        if rel.endswith(".parquet")
    )


def read_csv(spark: SparkSession, path: str, schema=None, header: bool = True) -> DataFrame:
    """S1: headered CSV scan (nb cell 4). Explicit schema preferred;
    inferSchema kept for parity with the reference's ``pd.read_csv``."""
    reader = spark.read.option("header", header)
    if schema is not None:
        return reader.schema(schema).csv(path)
    return reader.option("inferSchema", True).csv(path)


def write_append(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """S2: append sink (results-log pattern, nb cells 22/54/67/...)."""
    df.write.mode("append").format(fmt).save(path)


def write_overwrite(df: DataFrame, path: str, fmt: str = "parquet", partition_by: tuple[str, ...] = ()) -> None:
    """S3: intermediate-result round-trip (CSV/pickle caches in the
    reference, nb cells 27-28) — parquet here, optionally partitioned."""
    w = df.write.mode("overwrite").format(fmt)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def compact_files(
    spark: SparkSession,
    path: str,
    target_records_per_file: int = 1_000_000,
) -> int:
    """Small-file compaction — the maintenance pass every long-lived
    100 TB table needs: streaming/append sinks accrete thousands of
    KB-sized files, and scan cost becomes dominated by file-open and
    footer-read overhead rather than bytes. Rewrites the table into
    ceil(rows / target_records_per_file) files via one range-free
    repartition (coalesce can't grow file counts and skews when
    shrinking hard) + maxRecordsPerFile as the hard cap. Returns the
    new file count. Write is to a temp dir then swapped in, so a
    failed compaction never corrupts the table (the poor man's
    transactional rewrite; table formats do this with metadata)."""
    import math
    import shutil
    import tempfile

    df = spark.read.parquet(path)
    n = df.count()
    n_files = max(1, math.ceil(n / target_records_per_file))
    tmp = tempfile.mkdtemp(prefix="rds_compact_")
    (
        df.repartition(n_files)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", target_records_per_file)
        .parquet(tmp)
    )
    shutil.rmtree(path)
    shutil.move(tmp, path)
    return n_files
