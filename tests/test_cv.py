"""C1 kfold_era invariants (SURVEY.md §5.3, reference utils.py:11-48)."""

from __future__ import annotations

from pyspark.sql import functions as F

from reduction_dask_spark.functions import era_events
from reduction_dask_spark.operators.cv import cross_folds, kfold_era, lhs_param_table
from reduction_dask_spark.sources import load_table

from .conftest import SF_SMALL

K = 5


def _folded(spark):
    ev = load_table(spark, SF_SMALL, "events").select("event_id", era_events().alias("era"))
    return kfold_era(ev, "era", k=K)


def test_each_era_in_exactly_one_fold(spark):
    df = _folded(spark)
    per_era = df.groupBy("era").agg(F.countDistinct("fold").alias("nf")).collect()
    assert all(r["nf"] == 1 for r in per_era)


def test_folds_cover_all_rows_and_partition(spark):
    ev = load_table(spark, SF_SMALL, "events")
    df = _folded(spark)
    assert df.count() == ev.count()
    # train = eras outside the fold, test = eras inside (utils.py:34-41)
    train, test = df.filter(F.col("fold") != 0), df.filter(F.col("fold") == 0)
    assert train.count() + test.count() == ev.count()
    # train ∩ test = ∅ on the key
    assert train.join(test, "event_id", "inner").count() == 0


def test_fold_balance(spark):
    sizes = [r["n"] for r in _folded(spark).select("era", "fold").distinct()
             .groupBy("fold").agg(F.count("*").alias("n")).collect()]
    assert len(sizes) == K
    assert max(sizes) - min(sizes) <= 1  # ntile near-equal split


def test_determinism(spark):
    a = {(r["era"], r["fold"]) for r in _folded(spark).select("era", "fold").distinct().collect()}
    b = {(r["era"], r["fold"]) for r in _folded(spark).select("era", "fold").distinct().collect()}
    assert a == b


def test_lhs_covers_axes(spark):
    grid = {"a": [1, 2, 3], "b": [10.0, 20.0]}
    pdf = lhs_param_table(spark, grid, num_samples=6).toPandas()
    assert len(pdf) == 6
    assert set(pdf["a"]) == {1, 2, 3}  # every level visited
    assert set(pdf["b"]) == {10.0, 20.0}
    tasks = cross_folds(lhs_param_table(spark, grid, 4), 3)
    assert tasks.count() == 12
