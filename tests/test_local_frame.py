"""Driver-built tables (session.local_frame): parity with
``createDataFrame(list)`` and the LocalRelation plan shape.

Every table the engine builds from driver-side Python values (model
coefficients, fold maps, parameter grids, small result tables) goes
through ``local_frame``, so no scan of one starts a Python worker.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import types as T

from reduction_dask_spark.plans import broadcast_leaves, python_rdd_scans
from reduction_dask_spark.session import local_frame

from .conftest import SF_SMALL

PACKAGE = Path(__file__).resolve().parent.parent / "reduction_dask_spark"

SHAPES = [
    ([(1, 2**40, 0.5, "a", True)], "i int, l bigint, d double, s string, b boolean"),
    ([(0, [1, 2], [0.25, 1e-300]), (1, [], [])], "k int, ai array<int>, ad array<double>"),
    (
        [(None, None, None, None, None), (3, 4, -0.0, "", False)],
        "i int, l bigint, d double, s string, b boolean",
    ),
    ([(0, [1, None], [None, 2.0]), (1, None, None)], "k int, ai array<int>, ad array<double>"),
    ([(i, float(i) / 3) for i in range(22)], "fold int, x double"),
]


@pytest.mark.parametrize("rows,ddl", SHAPES)
def test_parity_with_create_dataframe(spark, rows, ddl):
    ref = spark.createDataFrame(rows, ddl)
    got = local_frame(spark, rows, ddl)
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()
    assert got._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
    assert (python_rdd_scans(ref), python_rdd_scans(got)) == (1, 0)


def test_struct_type_keeps_nullability(spark):
    schema = T.StructType(
        [T.StructField("era", T.IntegerType(), True), T.StructField("fold", T.IntegerType(), False)]
    )
    rows = [(e, e % 5) for e in range(20)]
    got = local_frame(spark, rows, schema)
    assert got.schema == spark.createDataFrame(rows, schema).schema == schema
    assert got.collect() == spark.createDataFrame(rows, schema).collect()


def test_column_names_infer_like_create_dataframe(spark):
    rows = [(0, 3, 100), (1, 13, 1000)]
    ref = spark.createDataFrame(rows, ["param_id", "max_depth", "n_estimators"])
    got = local_frame(spark, rows, ["param_id", "max_depth", "n_estimators"])
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()


def test_empty_rows(spark):
    got = local_frame(spark, [], "shard bigint, v double")
    assert got.schema == spark.createDataFrame([], "shard bigint, v double").schema
    assert got.collect() == []
    assert "LocalTableScan <empty>" in got._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "rows,schema",
    [
        ([(1, None)], T.StructType([T.StructField("a", T.IntegerType()), T.StructField("b", T.IntegerType(), False)])),
        ([("x",)], "a int"),
        ([(1,)], "a double"),
    ],
    ids=["none_in_non_null", "str_in_int", "int_in_double"],
)
def test_verifier_rejects_like_create_dataframe(spark, rows, schema):
    with pytest.raises(Exception) as ref:
        spark.createDataFrame(rows, schema)
    with pytest.raises(type(ref.value)):
        local_frame(spark, rows, schema)


def test_no_create_dataframe_outside_helper():
    """Every driver-built table in the package goes through local_frame."""
    calls = [
        (path.relative_to(PACKAGE).as_posix(), line.strip())
        for path in sorted(PACKAGE.rglob("*.py"))
        for line in path.read_text().splitlines()
        if "createDataFrame(" in line
    ]
    assert calls == [("session.py", "return spark.createDataFrame(table, schema)")]


def test_t2_broadcast_sides_are_local_tables(spark):
    from reduction_dask_spark.operators.tuning import t2_kfold_cv_eval

    q = t2_kfold_cv_eval(spark, SF_SMALL)
    leaves = broadcast_leaves(q)
    assert leaves and set(leaves) == {"LocalTableScan"}
    assert python_rdd_scans(q) == 0


def test_x1c_broadcast_sides_have_no_python_rdd(spark):
    """x1c broadcasts its driver-built fold map inside the barrier job;
    the final plan's only RDD leaf is that barrier (a checkpoint, not
    a Python RDD)."""
    from reduction_dask_spark.ml import cv_frame
    from reduction_dask_spark.operators.importance import x1c_mda_importance_gbt

    head = cv_frame(spark, SF_SMALL)
    assert set(broadcast_leaves(head)) == {"LocalTableScan"}
    assert python_rdd_scans(x1c_mda_importance_gbt(spark, SF_SMALL)) == 0
