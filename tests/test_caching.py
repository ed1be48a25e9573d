"""caching.barrier() semantics — the r11 lineage-truncation seam.

barrier() is relied on by every funnel composition and the iterative
ML fits; these tests pin its three contract points: (1) the returned
plan is a leaf (lineage actually truncated), (2) values are identical
to the un-barriered relation, (3) release_pinned() frees the
checkpoint storage so a multi-hundred-query sweep cannot accumulate
blocks (the r11 bench showed leftover blocks evicting later queries'
caches).
"""

from __future__ import annotations

import inspect

import pytest
from pyspark.sql import functions as F

from perfbench.spans import spark_jobs
from reduction_dask_spark.caching import _PINNED, barrier, pin, release_pinned


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_barrier_truncates_lineage_and_preserves_values(spark):
    base = spark.range(500).select(
        "id", (F.col("id") % 7).alias("k"), (F.col("id") * 3).alias("v")
    )
    deep = (
        base.groupBy("k")
        .agg(F.sum("v").alias("s"))
        .join(base, "k")
        .filter(F.col("s") > 0)
    )
    want = sorted(deep.collect())
    b = barrier(deep)
    # leaf plan: the analyzed tree is a single scan-of-existing-RDD
    # node — no Range/Aggregate/Join operators survive
    plan = b._jdf.queryExecution().analyzed().toString()
    assert "Join" not in plan and "Aggregate" not in plan, plan
    assert sorted(b.collect()) == want
    release_pinned()


def test_release_pinned_frees_barrier_blocks(spark):
    release_pinned()
    spark.catalog.clearCache()
    before = _persistent_rdd_count(spark)
    b = barrier(spark.range(100).select("id"))
    assert b.count() == 100
    assert _persistent_rdd_count(spark) == before + 1
    released = release_pinned()
    assert released >= 1
    assert _persistent_rdd_count(spark) == before


def test_release_counts_pins_and_barriers(spark):
    release_pinned()
    p = pin(spark.range(10))
    p.count()
    b = barrier(spark.range(10))
    b.count()
    assert len(_PINNED) == 1
    assert release_pinned() == 2
    assert len(_PINNED) == 0
    # a released PIN recomputes silently (documented contract)
    assert p.count() == 10


def test_barrier_noop_mode_keeps_full_plan(spark, monkeypatch):
    """SPARK_GRAFT_BARRIER=noop makes barrier() the identity: nothing
    materializes and the FULL lineage stays visible — the mode
    tools/plan_audit.py uses so its red-flag scan sees upstream of
    every funnel hub (r11 ADVICE item)."""
    monkeypatch.setenv("SPARK_GRAFT_BARRIER", "noop")
    deep = (
        spark.range(100)
        .select("id", (F.col("id") % 5).alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("c"))
    )
    b = barrier(deep)
    assert b is deep  # no checkpoint, no registration
    assert release_pinned() == 0


def test_barrier_reliable_mode_value_equality(spark, monkeypatch, tmp_path):
    """SPARK_GRAFT_BARRIER=reliable routes every barrier site through
    reliable checkpoint() files — the 100 TB fault-tolerance mode
    (blocks survive executor loss). A funnel composition (pipe4: the
    fail-closed gated funnel, 2 barrier hubs via pipe1's interior)
    must produce IDENTICAL values to the default localCheckpoint
    mode, and the checkpoint dir must actually hold files."""
    from reduction_dask_spark.registry import REGISTRY, load_all_operators

    load_all_operators()
    fn = REGISTRY["pipe4_gated_funnel"].fn
    sf = "/root/testdata/sf0.001"

    want = sorted(map(tuple, fn(spark, sf).collect()))
    release_pinned()
    spark.catalog.clearCache()

    ckpt = tmp_path / "ckpt"
    monkeypatch.setenv("SPARK_GRAFT_BARRIER", "reliable")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckpt))
    got = sorted(map(tuple, fn(spark, sf).collect()))
    assert got == want
    assert any(ckpt.rglob("part-*")), "reliable mode wrote no checkpoint files"
    release_pinned()
    spark.catalog.clearCache()


def test_release_pinned_deletes_reliable_checkpoint_files(spark, monkeypatch, tmp_path):
    """r12 ADVICE: barrier_mode() is read per call, so a session built
    WITHOUT spark.cleaner.referenceTracking.cleanCheckpoints can still
    be flipped to reliable mode mid-run — release_pinned() must then
    delete the checkpoint FILES itself (unpersist only frees blocks),
    or a multi-hundred-query sweep leaks files under
    SPARK_GRAFT_CHECKPOINT_DIR."""
    release_pinned()  # drain pins/barriers other tests may have leaked
    ckpt = tmp_path / "ckpt_release"
    monkeypatch.setenv("SPARK_GRAFT_BARRIER", "reliable")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckpt))
    # force the dir even if an earlier test already set one
    spark.sparkContext.setCheckpointDir(str(ckpt))

    b = barrier(spark.range(1000).select("id", (F.col("id") * 2).alias("v")))
    assert b.count() == 1000
    assert any(ckpt.rglob("part-*")), "reliable barrier wrote no files"
    assert release_pinned() == 1
    assert not any(ckpt.rglob("part-*")), (
        "release_pinned leaked reliable checkpoint files"
    )


@pytest.mark.parametrize("mode, op", [("local", "localCheckpoint"), ("reliable", "checkpoint")])
def test_barrier_names_jobs_after_caller(spark, monkeypatch, tmp_path, mode, op):
    """A barrier's jobs, its AQE stage jobs included, are named after
    the line that called barrier(), so a profile tells a funnel's
    barriers apart; the caller's own call site is restored after."""
    release_pinned()
    monkeypatch.setenv("SPARK_GRAFT_BARRIER", mode)
    if mode == "reliable":
        spark.sparkContext.setCheckpointDir(str(tmp_path))
    sc = spark.sparkContext
    group = f"test_barrier_names_{mode}"
    sc.setLocalProperty("callSite.short", "caller site")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        line = inspect.currentframe().f_lineno + 1
        b = barrier(spark.range(300).groupBy((F.col("id") % 3).alias("k")).count())
        assert sc.getLocalProperty("callSite.short") == "caller site"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("callSite.short", None)
    assert b.count() == 3
    names = {j["name"] for j in spark_jobs(sc, group)}
    assert names == {f"{op} at test_caching.py:{line}"}
    release_pinned()
