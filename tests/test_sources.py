"""Table schemas (sources.table_schema): read on the driver from one
parquet footer with Spark's own converter, equal to Spark's inference
and running no Spark job; schema merging, a summary file and partition
directories still take Spark's inference job. The session caches each
local table's schema per version and conf setting: a rewrite, a conf
flip or a new part file reads again, and a URI is never cached."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import BinaryType, StringType

from perfbench.spans import spark_jobs
from reduction_dask_spark.registry import REGISTRY, load_all_operators
from reduction_dask_spark.session import NANOS_CONF, NTZ_CONF
from reduction_dask_spark.sources import (
    TABLES,
    _footer_schema,
    file_signature,
    load_table,
    table_schema,
)

from .conftest import SF_MED, SF_SMALL

BUILDS = ("q1_pricing_summary", "q9_product_type_profit", "w3_lead_lag_frames")


def _jobs(spark, group: str, fn) -> list[str]:
    """Names of the Spark jobs ``fn()`` runs, counted by job group."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return [j["name"] for j in spark_jobs(sc, group)]


def test_rewrite_with_added_column_is_seen(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    assert _jobs(spark, "rewrite:warm", lambda: load_table(spark, str(tmp_path), "t")) == []

    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_added_part_file_is_seen(spark, tmp_path):
    out = str(tmp_path / "p.parquet")
    spark.range(3).toDF("a").write.parquet(out)
    conf = "spark.sql.parquet.mergeSchema"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "true")
        assert load_table(spark, str(tmp_path), "p").columns == ["a"]
        spark.range(3).selectExpr("id AS a", "id * 2 AS b").write.mode("append").parquet(out)
        assert load_table(spark, str(tmp_path), "p").columns == ["a", "b"]
    finally:
        spark.conf.set(conf, old)


def test_conf_flip_gives_the_other_schema(spark, tmp_path):
    pq.write_table(pa.table({"k": pa.array([b"ab", b"cd"], pa.binary())}), str(tmp_path / "b.parquet"))
    conf = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert table_schema(spark, str(tmp_path), "b")["k"].dataType == BinaryType()
        spark.conf.set(conf, "true")
        assert table_schema(spark, str(tmp_path), "b")["k"].dataType == StringType()
        spark.conf.set(conf, "false")
        assert table_schema(spark, str(tmp_path), "b")["k"].dataType == BinaryType()
    finally:
        spark.conf.set(conf, old)


def test_second_build_runs_no_job(spark):
    """q1, q9 and w3 run no job of their own while they build, so with
    their schemas cached their second builds run none."""
    load_all_operators()
    for name in BUILDS:
        fn = REGISTRY[name].fn
        _jobs(spark, f"{name}:first", lambda: fn(spark, SF_SMALL))
        assert _jobs(spark, f"{name}:second", lambda: fn(spark, SF_SMALL)) == [], name


def test_uri_is_never_cached(spark, tmp_path):
    path = str(tmp_path / "u.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    uri = "file://" + str(tmp_path)
    assert file_signature(f"{uri}/u.parquet") is None
    assert _jobs(spark, "uri:first", lambda: load_table(spark, uri, "u")) == []
    assert load_table(spark, uri, "u").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert _jobs(spark, "uri:second", lambda: load_table(spark, uri, "u")) == []
    df = load_table(spark, uri, "u")
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_signature_follows_spark_hidden_file_rule(tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d / "part-0.parquet"))
    sig = file_signature(str(d))
    assert [rel for rel, _, _ in sig] == ["part-0.parquet"]
    # hidden to Spark's reader: files and directories starting _ or .
    (d / "_SUCCESS").write_bytes(b"")
    (d / ".part-0.parquet.crc").write_bytes(b"x")
    (d / "_temporary").mkdir()
    pq.write_table(pa.table({"a": [2]}), str(d / "_temporary" / "part-1.parquet"))
    assert file_signature(str(d)) == sig
    (d / "k=1").mkdir()
    pq.write_table(pa.table({"a": [3]}), str(d / "k=1" / "part-2.parquet"))
    assert [rel for rel, _, _ in file_signature(str(d))] == [
        os.path.join("k=1", "part-2.parquet"),
        "part-0.parquet",
    ]
    assert file_signature(str(tmp_path / "missing.parquet")) is None


# The conf settings the parity test covers: this engine's, a foreign
# session's timestamp inference, and binary columns read as strings.
CONF_SETTINGS = {
    "engine": {NANOS_CONF: "true", NTZ_CONF: "false"},
    "ntz": {NANOS_CONF: "false", NTZ_CONF: "true"},
    "binary_as_string": {"spark.sql.parquet.binaryAsString": "true"},
}


@pytest.fixture(scope="module")
def multi_part_dir(spark, tmp_path_factory):
    """lineitem as a Spark-written directory of several part files, with
    the _SUCCESS marker and .crc files Spark's reader hides."""
    out = str(tmp_path_factory.mktemp("multipart") / "lineitem.parquet")
    spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").repartition(4).write.parquet(out)
    assert len([f for f in os.listdir(out) if f.endswith(".parquet")]) == 4
    return out


@pytest.mark.parametrize("setting", sorted(CONF_SETTINGS))
def test_footer_schema_matches_spark_inference(spark, multi_part_dir, setting):
    confs = CONF_SETTINGS[setting]
    old = {k: spark.conf.get(k) for k in confs}
    paths = [f"{sf}/{t}.parquet" for sf in (SF_SMALL, SF_MED) for t in TABLES]
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        for path in [*paths, multi_part_dir]:
            schema = _footer_schema(spark, path)
            assert schema is not None, path
            assert schema == spark.read.parquet(path).schema, path
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_first_load_and_builds_run_no_job(spark, tmp_path):
    """A table this session has not seen loads with no job, and the
    first builds of q1, q9 and w3 over it run none either."""
    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMALL, sf)
    assert _jobs(spark, "fresh:load", lambda: load_table(spark, sf, "region")) == []
    load_all_operators()
    for name in BUILDS:
        fn = REGISTRY[name].fn
        assert _jobs(spark, f"fresh:{name}", lambda: fn(spark, sf)) == [], name


def _inference_jobs(spark, group: str, fn) -> list[str]:
    return [n for n in _jobs(spark, group, fn) if n.startswith("parquet at")]


def test_schema_merging_defers_to_spark(spark, tmp_path):
    d = tmp_path / "m.parquet"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d / "part-0.parquet"))
    pq.write_table(pa.table({"a": [2], "b": ["x"]}), str(d / "part-1.parquet"))
    conf = "spark.sql.parquet.mergeSchema"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "true")
        assert _footer_schema(spark, str(d)) is None
        assert _inference_jobs(spark, "merge", lambda: table_schema(spark, str(tmp_path), "m"))
        assert table_schema(spark, str(tmp_path), "m") == spark.read.parquet(str(d)).schema
        assert table_schema(spark, str(tmp_path), "m").names == ["a", "b"]
    finally:
        spark.conf.set(conf, old)


def test_summary_file_defers_to_spark(spark, tmp_path):
    """Spark reads _common_metadata before any data file; here it names
    a column the part file lacks, so only Spark's reading gives it."""
    d = tmp_path / "s.parquet"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d / "part-0.parquet"))
    pq.write_metadata(pa.schema([("a", pa.int64()), ("c", pa.string())]), str(d / "_common_metadata"))
    assert _footer_schema(spark, str(d)) is None
    assert _inference_jobs(spark, "summary", lambda: table_schema(spark, str(tmp_path), "s"))
    assert table_schema(spark, str(tmp_path), "s") == spark.read.parquet(str(d)).schema
    assert table_schema(spark, str(tmp_path), "s").names == ["a", "c"]


def test_partition_directory_defers_to_spark(spark, tmp_path):
    d = tmp_path / "k.parquet"
    (d / "k=1").mkdir(parents=True)
    pq.write_table(pa.table({"a": [1]}), str(d / "k=1" / "part-0.parquet"))
    assert _footer_schema(spark, str(d)) is None
    assert _inference_jobs(spark, "partition", lambda: table_schema(spark, str(tmp_path), "k"))
    assert table_schema(spark, str(tmp_path), "k") == spark.read.parquet(str(d)).schema
    assert table_schema(spark, str(tmp_path), "k").names == ["a", "k"]
    assert load_table(spark, str(tmp_path), "k").collect() == [(1, 1)]


def test_unreadable_footer_gives_spark_error(spark, tmp_path):
    """A file the driver cannot read as parquet fails with Spark's own
    error, from its inference job."""
    (tmp_path / "bad.parquet").write_bytes(b"not a parquet file")
    assert _footer_schema(spark, str(tmp_path / "bad.parquet")) is None
    with pytest.raises(Exception, match="CANNOT_READ_FILE_FOOTER"):
        table_schema(spark, str(tmp_path), "bad")
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        table_schema(spark, str(tmp_path), "missing")
