"""``ml.sum_partials``: the one merge of per-partition additive
statistics, and the GBT split rule its histograms are chosen under.

Both sides of the 256-partition switch add the same vectors in
partition-id order from 0.0, so each must equal numpy's partition-order
sum of the same vectors bit for bit.
"""

from __future__ import annotations

import ast
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from reduction_dask_spark.ml import SUM_PARTIALS_DRIVER_MAX, sum_partials

PACKAGE = Path(__file__).resolve().parent.parent / "reduction_dask_spark"


def _vectors(ids: np.ndarray) -> dict[tuple, np.ndarray]:
    """One partition's partials: key (id % 3,) has width 2 + id % 3, and
    the values round, so the sum depends on the order of addition."""
    out: dict[tuple, np.ndarray] = {}
    for k in range(3):
        x = ids[ids % 3 == k].astype(np.float64)
        if len(x):
            v = out.setdefault((k,), np.zeros(2 + k))
            v[0] += (x * 0.1 + 1.0 / (x + 3.0)).sum()
            v[1] += len(x)
            v[2:] += np.sqrt(x).sum() / 7.0
    return out


def _partial(batches):
    ids = [rb.column("id").to_numpy() for rb in batches]
    return _vectors(np.concatenate(ids)) if ids else {}


@pytest.mark.parametrize("n_parts", [4, 300])
def test_sum_matches_partition_order_numpy(spark, n_parts):
    assert (n_parts <= SUM_PARTIALS_DRIVER_MAX) == (n_parts == 4)  # one per side
    # every third partition is emptied by the filter
    df = spark.range(0, 20 * n_parts, numPartitions=n_parts).filter(
        F.spark_partition_id() % 3 != 1
    )
    rows = df.select(F.spark_partition_id().alias("pid"), "id").toPandas()
    assert rows["pid"].nunique() < n_parts  # empty partitions exist
    expected: dict[tuple, np.ndarray] = {}
    for _, sub in sorted(rows.groupby("pid"), key=lambda t: t[0]):
        for key, v in _vectors(sub["id"].to_numpy()).items():
            expected[key] = expected.get(key, np.zeros(len(v))) + v

    got = sum_partials(df, _partial)
    assert set(got) == set(expected) == {(0,), (1,), (2,)}
    for key, v in expected.items():
        assert len(got[key]) == 2 + key[0]  # per-key widths
        assert np.array_equal(got[key], v), key
    again = sum_partials(df, _partial)
    assert all(np.array_equal(again[key], got[key]) for key in got)


def test_empty_input_sums_to_nothing(spark):
    assert sum_partials(spark.range(0, 10, numPartitions=4).filter("id < 0"), _partial) == {}


# ------------------------------------------------------ GBT split rule

def test_gbt_bin_and_threshold_agree_on_quantized_levels(spark):
    """On the reference's quantized levels {0, .25, .5, .75, 1}, three of
    the five values sit exactly on a bin edge. The engine's bins must
    send every row the same way as the thresholds every consumer scores
    with: (bin <= b) == (x <= thr) for every row and boundary."""
    from reduction_dask_spark.ml import (
        GBT_BINS,
        feature_bounds,
        fit_gbt_fold_models,
        gbt_bin_frame,
        gbt_edges,
    )

    dim = 4
    # feature f is the id's f-th base-5 digit / 4: every level combination once
    levels = [((F.col("id") / 5**f).cast("long") % 5) / 4.0 for f in range(dim)]
    df = spark.range(0, 5**dim, numPartitions=4).select(
        "id",
        ((F.col("id") / 7).cast("long") % 5).cast("int").alias("fold"),
        F.array(*levels).alias("features"),
        (levels[0] * 2.0 + levels[1] - levels[2] * levels[3]).alias("y"),
    )
    mn, mx = feature_bounds(df, dim)
    assert (mn.tolist(), mx.tolist()) == ([0.0] * dim, [1.0] * dim)
    edges = gbt_edges(mn, mx, GBT_BINS)
    pdf = gbt_bin_frame(df, edges).toPandas()
    X = np.stack(df.select("features").toPandas()["features"].to_numpy())
    bins = np.stack(pdf["bins"].to_numpy())
    assert np.isin(X, edges).sum() > 0  # values on edges are present

    for f in range(dim):
        for b in range(GBT_BINS - 1):
            assert np.array_equal(bins[:, f] <= b, X[:, f] <= edges[f, b]), (f, b)

    models = fit_gbt_fold_models(df, k=5, n_rounds=6, dim=dim)
    for stumps in models.values():
        for f, thr, _vl, _vr in stumps:
            b = int(np.flatnonzero(edges[f] == thr)[0])
            assert np.array_equal(bins[:, f] <= b, X[:, f] <= thr)


# ------------------------------------------------- one merge, pinned

def _calls(node: ast.AST) -> set[str]:
    return {
        n.func.attr if isinstance(n.func, ast.Attribute) else getattr(n.func, "id", "")
        for n in ast.walk(node)
        if isinstance(n, ast.Call)
    }


def test_partials_merge_only_in_sum_partials():
    """Outside ml.sum_partials no package function adds partial arrays
    with an F.aggregate over a collect_list (a zip_with add inside the
    aggregate's merge lambda); ml.py has no np.add.at and no
    sc.broadcast; reduction.py has no (idx, val) scalar-row merge."""
    merges = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if "vendor" in path.parts:
            continue
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if "collect_list" not in _calls(fn):
                continue
            for call in ast.walk(fn):
                if (
                    isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Attribute)
                    and call.func.attr == "aggregate"
                    and len(call.args) >= 3
                    and "zip_with" in _calls(call.args[2])
                ):
                    merges.append((path.relative_to(PACKAGE).as_posix(), fn.name))
    assert sorted(set(merges)) == [("ml.py", "sum_partials")]

    ml_src = (PACKAGE / "ml.py").read_text()
    assert "np.add.at" not in ml_src
    assert "sc.broadcast" not in ml_src and "sparkContext.broadcast" not in ml_src
    assert 'groupBy("idx")' not in (PACKAGE / "operators" / "reduction.py").read_text()
