"""Custom Python DataSource (format "jsonl") — round-trip vs the
built-in spark.read.json oracle, per-file scan parallelism, and
parse-time filter pushdown equivalence."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from reduction_dask_spark.sources.jsonl_source import (
    JsonlReader,
    _FilePartition,
    register_jsonl_source,
)

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def jsonl_dir(spark, tmp_path_factory):
    register_jsonl_source(spark)
    path = str(tmp_path_factory.mktemp("jsonl"))
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "lang", F.length("text").alias("n_chars"))
        .orderBy("doc_id")
        .limit(200)
    )
    docs.repartition(4).write.format("jsonl").mode("overwrite").save(path)
    return path, docs


def test_jsonl_roundtrip_matches_builtin_json(spark, jsonl_dir):
    path, docs = jsonl_dir
    schema = "doc_id long, lang string, n_chars long"
    ours = spark.read.format("jsonl").schema(schema).load(path)
    builtin = spark.read.schema(schema).json(os.path.join(path, "*.jsonl"))
    assert sorted(map(tuple, ours.collect())) == sorted(map(tuple, builtin.collect()))
    assert sorted(map(tuple, ours.collect())) == sorted(map(tuple, docs.collect()))


def test_jsonl_one_partition_per_file(spark, jsonl_dir):
    path, _ = jsonl_dir
    n_files = len(glob.glob(os.path.join(path, "*.jsonl")))
    assert n_files == 4  # repartition(4) → 4 shards
    df = spark.read.format("jsonl").schema("doc_id long, lang string").load(path)
    assert df.rdd.getNumPartitions() == n_files
    # transactional sink: commit manifest present and row-accurate
    manifest = json.load(open(os.path.join(path, "_SUCCESS")))
    assert manifest == {"files": 4, "rows": 200}


def test_jsonl_schema_inference_bounded(spark, jsonl_dir):
    path, _ = jsonl_dir
    df = spark.read.format("jsonl").load(path)
    assert sorted(df.columns) == ["doc_id", "lang", "n_chars"]
    assert dict(df.dtypes)["n_chars"] == "bigint"


def test_jsonl_filter_pushdown_equivalence(spark, jsonl_dir):
    path, docs = jsonl_dir
    schema = "doc_id long, lang string, n_chars long"
    got = (
        spark.read.format("jsonl").schema(schema).load(path)
        .filter((F.col("lang") == "en") & (F.col("n_chars") > 100))
        .collect()
    )
    want = docs.filter((F.col("lang") == "en") & (F.col("n_chars") > 100)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0


def test_jsonl_pushdown_drops_rows_at_parse_time(spark, jsonl_dir, tmp_path):
    """Unit-level: a pushed EqualTo filters inside read(), an OR stays
    with Spark (pushFilters yields it back)."""
    from pyspark.sql.datasource import EqualTo, IsNull
    from pyspark.sql.types import StructType as ST

    p = tmp_path / "x.jsonl"
    p.write_text('{"a": 1, "b": "k"}\n{"a": 2, "b": "k"}\n{"a": 1, "b": "m"}\n')
    schema = ST.fromDDL("a long, b string")
    r = JsonlReader(schema, {"path": str(p)})
    unsupported = list(r.pushFilters([EqualTo(("a",), 1), IsNull(("b",))]))
    assert [type(f).__name__ for f in unsupported] == ["IsNull"]
    rows = list(r.read(_FilePartition(str(p))))
    assert rows == [(1, "k"), (1, "m")]  # a=2 dropped before Spark sees it


def test_jsonl_stream_tails_new_files(spark, tmp_path):
    """Micro-batch streaming from the jsonl source: files landing
    after the stream starts are picked up in later batches; the
    checkpoint offset is O(1)."""
    register_jsonl_source(spark)
    src = tmp_path / "landing"
    src.mkdir()
    (src / "a.jsonl").write_text('{"k": 1}\n{"k": 2}\n')

    stream = (
        spark.readStream.format("jsonl")
        .schema("k long")
        .load(str(src))
        .groupBy()
        .sum("k")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("jsonl_stream_t")
        .outputMode("complete")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM jsonl_stream_t").collect()[0][0] == 3
        (src / "b.jsonl").write_text('{"k": 10}\n')
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM jsonl_stream_t").collect()[0][0] == 13
    finally:
        q.stop()


def test_jsonl_stream_writer_exactly_once_via_manifests(spark, tmp_path):
    """Streaming write through the custom DSv2 python sink: every input
    row lands exactly once ACCORDING TO THE MANIFESTS (the sink's
    commit protocol), and orphan files outside any manifest — the
    at-least-once residue a replay would leave — are logically
    invisible to the manifest reader."""
    import json

    from reduction_dask_spark.sources import load_table
    from reduction_dask_spark.sources.jsonl_source import (
        read_jsonl_manifests,
        register_jsonl_source,
    )
    from reduction_dask_spark.streaming import _stage_dir

    register_jsonl_source(spark)
    sf = SF_SMALL
    out = str(tmp_path / "sink")
    schema = spark.read.parquet(f"{sf}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(_stage_dir(sf))
        .select("event_id", "user_id", "event_type")
    )
    q = (
        stream.writeStream.format("jsonl")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(timeout=300)

    # plant an orphan file simulating a replayed epoch's residue
    orphan = tmp_path / "sink" / "part-orphan.jsonl"
    orphan.write_text(json.dumps({"event_id": -1, "user_id": -1, "event_type": "x"}) + "\n")

    files = read_jsonl_manifests(out)
    assert files and str(orphan) not in files
    got = set()
    for f in files:
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    got.add(json.loads(line)["event_id"])
    want = {r["event_id"] for r in load_table(spark, sf, "events").select("event_id").collect()}
    assert got == want


# ---------------------------------------------------------- spread_scan


def test_spread_scan_validates_key(spark):
    """r17 (r16 ADVICE item 2): a missing key column fails AT CALL
    SITE with a ValueError naming the key, not at use with an
    AnalysisException deep in a funnel plan."""
    import pytest as _pytest

    from reduction_dask_spark.sources import spread_scan

    df = spark.range(10).withColumnRenamed("id", "not_doc_id")
    with _pytest.raises(ValueError, match="doc_id"):
        spread_scan(df)


def test_spread_scan_spreads_single_partition_and_preserves_rows(spark):
    """A 1-partition input spreads to defaultParallelism partitions;
    an input already at/above that parallelism is returned unchanged
    (the scale no-op guarantee); row multiset is preserved."""
    from pyspark.sql import functions as F

    from reduction_dask_spark.sources import spread_scan

    target = spark.sparkContext.defaultParallelism
    one = spark.range(1000).select(F.col("id").alias("doc_id")).coalesce(1)
    spread = spread_scan(one)
    assert spread.rdd.getNumPartitions() == target
    assert sorted(r["doc_id"] for r in spread.collect()) == list(range(1000))

    wide = spark.range(1000).select(F.col("id").alias("doc_id")).repartition(target)
    assert spread_scan(wide) is wide
