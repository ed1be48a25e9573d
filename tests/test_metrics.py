"""W1/M1 semantics vs pandas ground truth (the reference's kernel,
metrics.py:5-22: groupby('era').rank(pct=True, method='first') then
pooled np.corrcoef)."""

from __future__ import annotations

import numpy as np

from reduction_dask_spark.operators.metrics import (
    m1_spearman_by_era,
    scored_events,
    w1_pct_rank_by_era,
)

from .conftest import SF_SMALL


def _pandas_ref(spark):
    pdf = scored_events(spark, SF_SMALL).toPandas()
    ranked = pdf.groupby("era")["pred"].rank(pct=True, method="first")
    return pdf, ranked


def test_w1_matches_pandas_rank_first(spark):
    pdf, ranked = _pandas_ref(spark)
    spark_rank = (
        w1_pct_rank_by_era(spark, SF_SMALL).toPandas().set_index("event_id")["pred_rank"]
    )
    got = spark_rank.loc[pdf["event_id"]].to_numpy()
    np.testing.assert_allclose(got, ranked.to_numpy(), rtol=0, atol=1e-12)


def test_m1_matches_pandas_pooled_corr(spark):
    pdf, ranked = _pandas_ref(spark)
    expected = np.corrcoef(pdf["y_true"], ranked)[0, 1]
    got = m1_spearman_by_era(spark, SF_SMALL).collect()[0]["spearman_era_corr"]
    assert abs(got - round(expected, 6)) < 2e-6


def test_m1_invariant_under_monotone_transform(spark):
    """Rank-based: exp() of predictions must not change the score."""
    from pyspark.sql import functions as F

    from reduction_dask_spark.operators.metrics import spearman_by_era

    scored = scored_events(spark, SF_SMALL)
    base = spearman_by_era(scored).collect()[0][0]
    warped = spearman_by_era(scored.withColumn("pred", F.exp(F.col("pred") / 100.0)))
    assert warped.collect()[0][0] == base
