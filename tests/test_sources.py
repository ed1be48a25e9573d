"""The session's table-schema cache (sources.table_schema): one footer
inference per table version, conf setting and session; a rewrite, a
conf flip or a new part file infers again, and a URI is never cached."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import BinaryType, StringType

from perfbench.spans import spark_jobs
from reduction_dask_spark.registry import REGISTRY, load_all_operators
from reduction_dask_spark.sources import file_signature, load_table, table_schema

from .conftest import SF_SMALL


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
    """Each load_table of the parent ran a footer-inference job; q1, q9
    and w3 build with no other job, so their second builds run none."""
    load_all_operators()
    for name in ("q1_pricing_summary", "q9_product_type_profit", "w3_lead_lag_frames"):
        fn = REGISTRY[name].fn
        _jobs(spark, f"{name}:first", lambda: fn(spark, SF_SMALL))
        assert _jobs(spark, f"{name}:second", lambda: fn(spark, SF_SMALL)) == [], name


def test_uri_is_never_cached(spark):
    uri = "file://" + SF_SMALL
    assert file_signature(f"{uri}/region.parquet") is None
    for rep in range(2):
        names = _jobs(spark, f"uri:{rep}", lambda: load_table(spark, uri, "region"))
        assert [n for n in names if n.startswith("parquet at")], rep
    assert table_schema(spark, uri, "region") == load_table(spark, SF_SMALL, "region").schema


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
