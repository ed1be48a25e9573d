"""Shared harness for running registered queries on test corpora.

``run_query`` runs a registered query over a directory of parquet
tables and always releases its pins and barrier blocks.
``run_registered`` first writes the corpus as single-file parquet;
the r16 replica suites use it.
``assert_oracle_parity`` also runs the query's DuckDB oracle over the
same directory and requires exact equality after
``tools.compare.canon``; the r15 and cap-binding suites use it on
corpora they write themselves (r15 with plain multi-file writes, so
Spark reads several partitions).

The r15 technique (tests/test_r15_oracle_parity.py) drove the seven
rows-only→oracle conversions against synthetic corpora that hit the
branches the shipped testdata never reaches. The r16 suites extend
that treatment to the highest-traffic queries that remain rows-only
(no SQL oracle is possible — iterative float fits, sketch bytes,
engine-native hashes), so the ground truth is an INDEPENDENT
numpy/pure-python replica evaluated on the same branch-forcing corpus
instead of DuckDB.

Determinism note: several replicas (IRLS, Lloyd) must reproduce the
engine's float-addition order. Every r16 corpus is written as ONE
parquet file (coalesce(1)) small enough for one Arrow batch, so the
engine's per-partition partial is a single numpy pass in row order —
exactly what the replica computes. Outputs additionally round (6 dp
coefs, 5 dp distances), so the comparisons are robust as well as
bit-faithful at this size.
"""

from __future__ import annotations

from pathlib import Path

import duckdb
import pandas as pd

from reduction_dask_spark.caching import release_pinned
from reduction_dask_spark.registry import REGISTRY, load_all_operators
from tools.compare import canon


def run_query(spark, sf_dir, name) -> pd.DataFrame:
    """The REGISTERED query `name` over the tables in sf_dir, as pandas."""
    load_all_operators()
    try:
        return REGISTRY[name].fn(spark, str(sf_dir)).toPandas()
    finally:
        release_pinned()
        spark.catalog.clearCache()


def run_registered(spark, tmp_path, name, tables):
    """Write `tables` (name -> list-of-rows + schema str, or a Spark
    DF) as single-file parquet under tmp_path and run the REGISTERED
    query on them. Returns the result as a pandas frame."""
    for t, df in tables.items():
        if isinstance(df, tuple):
            df = spark.createDataFrame(*df)
        df.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"{t}.parquet")
        )
    return run_query(spark, tmp_path, name)


def duck_views(sf_dir) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per `<table>.parquet` file or Spark output
    directory in sf_dir."""
    con = duckdb.connect()
    for p in sorted(Path(sf_dir).glob("*.parquet")):
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{src}')")
    return con


def assert_oracle_parity(spark, sf_dir, name) -> pd.DataFrame:
    """Run the registered query and its DuckDB oracle over sf_dir and
    assert exact equality. Returns the Spark result, rows as produced."""
    sdf = run_query(spark, sf_dir, name)
    s = canon(sdf)
    d = canon(duck_views(sf_dir).execute(REGISTRY[name].oracle).fetchdf())
    assert list(s.columns) == list(d.columns), name
    assert len(s) == len(d), (name, len(s), len(d))
    pd.testing.assert_frame_equal(s, d, check_exact=True, obj=name)
    return sdf


def docs_table(rows):
    """(doc_id, text, lang) rows -> createDataFrame args."""
    return (rows, "doc_id long, text string, lang string")


def emb_table(rows):
    """(vec_id, embedding float-list) rows -> createDataFrame args."""
    return (rows, "vec_id long, embedding array<float>")
