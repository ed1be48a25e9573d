"""Physical-plan shape assertions (the 100 TB design contract).

Correct results with a wrong plan shape fail at scale — these tests pin
the properties SURVEY.md §4 calls out: pushdown, pruning, broadcast
dims, map-side partial aggregation, codegen coverage.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from reduction_dask_spark.plans import (
    EMPTY_PARTITION_WINDOW,
    codegen_stages,
    has_partial_aggregation,
    pushed_filters,
    read_schemas,
    shape,
)
from reduction_dask_spark.sources import load_table

from .conftest import SF_SMALL


def test_filter_pushdown_reaches_parquet(spark):
    li = load_table(spark, SF_SMALL, "lineitem")
    q = li.filter(F.col("l_quantity") > 25).select("l_orderkey", "l_quantity")
    pf = pushed_filters(q)
    assert "l_quantity" in pf and "GreaterThan" in pf


def test_column_pruning(spark):
    """A 2-column projection must not read the other 9 columns."""
    li = load_table(spark, SF_SMALL, "lineitem")
    q = li.select("l_orderkey", "l_quantity")
    schemas = read_schemas(q)
    assert schemas and all("l_extendedprice" not in s for s in schemas)
    assert all("l_returnflag" not in s for s in schemas)


def test_star_join_broadcasts_dims(spark):
    from reduction_dask_spark.operators.relational import j4_star_broadcast

    q = j4_star_broadcast(spark, SF_SMALL)
    assert shape(q)["BroadcastHashJoin"]


def test_j1_broadcast_no_fact_shuffle(spark):
    from reduction_dask_spark.operators.relational import j1_index_align_join

    q = j1_index_align_join(spark, SF_SMALL)
    assert shape(q)["BroadcastHashJoin"]
    # broadcast join ⇒ at most the broadcast exchange, no fact shuffle
    assert shape(q)["Exchange"] <= 1


def test_groupby_has_partial_aggregation(spark):
    from reduction_dask_spark.operators.relational import a3_grouped_mean

    q = a3_grouped_mean(spark, SF_SMALL)
    assert has_partial_aggregation(q)


def test_topk_uses_take_ordered(spark):
    from reduction_dask_spark.operators.relational import o3_argmax
    from reduction_dask_spark.plans import simple_plan

    q = o3_argmax(spark, SF_SMALL)
    assert "TakeOrderedAndProject" in simple_plan(q)


def test_expression_pipelines_are_codegen(spark):
    from reduction_dask_spark.operators.metrics import m1_spearman_by_era

    # the AQE wrapper reports codegen only after execution — inspect
    # the static plan with AQE off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        q = m1_spearman_by_era(spark, SF_SMALL)
        assert codegen_stages(q) >= 2  # scan+window span, agg span
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_flagship_single_era_shuffle(spark):
    """M1: one exchange for the era window + aggregation tree — no
    extra shuffles sneak in."""
    from reduction_dask_spark.operators.metrics import m1_spearman_by_era

    q = m1_spearman_by_era(spark, SF_SMALL)
    assert shape(q)["Exchange"] <= 2  # era hash partitioning + final agg


def test_global_sort_uses_range_partitioning(spark):
    """O1 global sort → Exchange rangepartitioning (total order across
    partitions, not a single-partition sort)."""
    from reduction_dask_spark.plans import simple_plan

    li = load_table(spark, SF_SMALL, "lineitem")
    q = li.orderBy(F.desc("l_extendedprice"), "l_orderkey").select("l_orderkey", "l_extendedprice")
    assert "rangepartitioning" in simple_plan(q)


def test_salted_join_spreads_hot_keys(spark):
    """sk2: the join key becomes (hot_key, salt) — partition count on
    the fact side grows by the salt fan-out."""
    from reduction_dask_spark.operators.relational import sk2_salted_join

    q = sk2_salted_join(spark, SF_SMALL)
    out = q.toPandas()
    ev = load_table(spark, SF_SMALL, "events").toPandas()
    assert len(out) == len(ev)  # every fact row matched exactly once


def test_q10_topk_is_take_ordered(spark):
    """Q10's LIMIT 20 over a sort must plan per-partition heaps, never
    a global sort — the difference between O(n log k) and a full
    range-partitioned shuffle at 100 TB."""
    from reduction_dask_spark.operators.tpch import q10_returned_items
    from reduction_dask_spark.plans import simple_plan

    q = q10_returned_items(spark, SF_SMALL)
    assert "TakeOrderedAndProject" in simple_plan(q)
    assert shape(q)["BroadcastHashJoin"]


def test_q19_disjunction_keeps_hash_join(spark):
    """The 3-branch OR predicate must not degrade the part join to a
    nested loop: the equi-key is common to all branches."""
    from reduction_dask_spark.operators.tpch import q19_disjunctive_revenue
    from reduction_dask_spark.plans import simple_plan

    q = q19_disjunctive_revenue(spark, SF_SMALL)
    plan = simple_plan(q)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q17_decorrelated_avg_shares_partkey_exchange(spark):
    """Q17's probe and its per-part average must both hash-partition on
    partkey; the broadcast part filter must not force a third fact
    shuffle."""
    from reduction_dask_spark.operators.tpch import q17_small_quantity_revenue

    q = q17_small_quantity_revenue(spark, SF_SMALL)
    assert shape(q)["BroadcastHashJoin"]


def test_no_empty_partition_windows_in_rank_family(spark):
    """The r01 WindowExec warning emitters: global_rank's offset prefix
    sum (w2), x3's top-8 feature cut, and ss6's PQ codebook indexer.
    Catalyst constant-folds partitionBy(lit(0)), so the only safe shapes
    are orderBy+limit, triangular metadata joins, or driver-side model
    construction — pin all three plans to zero empty-partition windows."""
    from reduction_dask_spark.operators.importance import x3_projection_by_rank
    from reduction_dask_spark.operators.relational import w2_rank_importance
    from reduction_dask_spark.operators.similarity import ss6_pq_adc_topk
    from reduction_dask_spark.plans import simple_plan

    x3 = x3_projection_by_rank(spark, SF_SMALL)
    assert shape(x3)[EMPTY_PARTITION_WINDOW] == 0
    assert "TakeOrderedAndProject" in simple_plan(x3)

    assert shape(w2_rank_importance(spark, SF_SMALL))[EMPTY_PARTITION_WINDOW] == 0
    assert shape(ss6_pq_adc_topk(spark, SF_SMALL))[EMPTY_PARTITION_WINDOW] == 0


def test_shape_counts_a_pinned_shuffle_once(spark):
    """A pinned relation scanned three times is ONE materialization: its
    shuffle is counted once, not once per InMemoryTableScan (the plan
    string prints the cached plan under every scan)."""
    from reduction_dask_spark.caching import pin, release_pinned

    agg = pin(
        spark.range(0, 1000)
        .groupBy((F.col("id") % 7).alias("k"))
        .agg(F.sum("id").alias("s"))
    )
    try:
        q = agg.alias("a").join(agg.alias("b"), "k").join(agg.alias("c"), "k")
        counts = shape(q)
        assert counts["InMemoryTableScan"] == 3
        assert counts["Exchange"] == 1
    finally:
        release_pinned()


def test_shape_sees_global_windows_in_pins_and_subqueries(spark):
    """Single-partition windows hidden inside a pinned relation and
    inside a scalar subquery both count toward the empty-partition key."""
    from pyspark.sql import Window

    from reduction_dask_spark.caching import pin, release_pinned

    base = spark.range(0, 1000).withColumnRenamed("id", "v")
    ranked = pin(base.withColumn("r", F.row_number().over(Window.orderBy("v"))))
    top = base.select(
        F.row_number().over(Window.orderBy(F.desc("v"))).alias("r2")
    ).agg(F.max("r2"))
    try:
        counts = shape(ranked.select("v", "r", top.scalar().alias("top")))
        assert counts["InMemoryTableScan"] == 1 and counts["Subquery"] == 1
        assert counts["Window"] == 2
        assert counts[EMPTY_PARTITION_WINDOW] == 2
    finally:
        release_pinned()


def test_plan_shape_file_covers_the_registry():
    """PLAN_SHAPE.json (written by tools/plan_audit.py --write) has one
    entry per registered query: a new query cannot land without a
    regenerated shape record."""
    import json

    from reduction_dask_spark.registry import REGISTRY, load_all_operators

    from .conftest import REPO

    load_all_operators()
    recorded = json.loads((REPO / "PLAN_SHAPE.json").read_text())
    assert set(recorded["queries"]) == set(REGISTRY)


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Runtime row-level filtering (Spark's bloom-filter join pruning):
    with a selective filter on the dim side of a shuffled fact join,
    the optimizer injects might_contain(<bloom of dim keys>) into the
    FACT scan, dropping non-joining rows before the shuffle. At real
    scale this fires with default thresholds (fact scan > 10 GB); the
    test lowers the application-side scan threshold so the same
    mechanism is demonstrable at sf0.001, and restores every conf."""
    from reduction_dask_spark.plans import simple_plan

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_SMALL, "lineitem")
        o = load_table(spark, SF_SMALL, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        q = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = simple_plan(q)
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_prefix_agg_single_materialized_range_exchange(spark):
    """global_prefix_agg / global_rank pid-consistency contract: range
    boundaries are SAMPLED per exchange instance, so the local-window
    branch and the offset branch must read ONE materialized exchange —
    plan-level reuse does not happen under AQE (each branch compiles
    its own ShuffleQueryStage, observed in round 5 as three independent
    rangepartitioning exchanges in auc1's final plan). Pin that every
    consumer's executed plan contains exactly one rangepartitioning
    exchange (the persisted one) and reads it through InMemoryTableScan
    in both branches."""
    import contextlib
    import io
    import re

    from reduction_dask_spark.operators.metrics import auc1_roc_auc, ks1_two_sample
    from reduction_dask_spark.operators.relational import (
        sky1_pareto_front,
        w2_rank_importance,
    )

    for q in (auc1_roc_auc, ks1_two_sample, sky1_pareto_front, w2_rank_importance):
        spark.catalog.clearCache()
        df = q(spark, SF_SMALL)
        df.collect()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(True)
        plan = buf.getvalue()
        final = plan[plan.index("== Physical Plan =="):]
        range_ex = len(set(re.findall(r"Exchange rangepartitioning[^,]*, REPARTITION_BY_NUM, \[plan_id=(\d+)\]", final)))
        scans = final.count("InMemoryTableScan")
        assert range_ex <= 1, f"{q.__name__}: {range_ex} distinct range exchanges"
        assert scans >= 2, f"{q.__name__}: branches do not share the cached exchange ({scans} scans)"
    spark.catalog.clearCache()


def test_global_prefix_agg_matches_pandas_on_random_data(spark):
    """Randomized ground truth for the two-pass prefix machinery: for
    seeded random relations (duplicate keys, negative values, skewed
    distributions) and several partition counts, global_prefix_agg's
    sums/mins equal pandas cumulative ops on the sorted frame — the
    property that breaks if the branches ever observe different
    partition ids."""
    import numpy as np
    import pandas as pd

    from reduction_dask_spark.operators.relational import global_prefix_agg

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for seed, n_part in ((0, 7), (1, 32), (2, 3)):
            rng = np.random.default_rng(seed)
            n = 500
            pdf = pd.DataFrame(
                {
                    "k": rng.integers(-50, 50, n),  # heavy duplicate keys
                    "uid": np.arange(n),
                    "v": rng.integers(-1000, 1000, n),
                }
            )
            spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
            df = spark.createDataFrame(pdf)
            out = (
                global_prefix_agg(
                    df, ["k", "uid"], [("v", "sum", "ps"), ("v", "min", "pm")]
                )
                .toPandas()
                .sort_values(["k", "uid"])
                .reset_index(drop=True)
            )
            ref = pdf.sort_values(["k", "uid"]).reset_index(drop=True)
            exp_sum = ref["v"].cumsum().shift(1).fillna(0).astype(int)
            exp_min = ref["v"].cummin().shift(1)
            assert (out["ps"].to_numpy() == exp_sum.to_numpy()).all(), (seed, n_part)
            got_min = out["pm"].to_numpy(dtype=float)
            exp_min_np = exp_min.to_numpy(dtype=float)
            both_nan = np.isnan(got_min) & np.isnan(exp_min_np)
            assert (both_nan | (got_min == exp_min_np)).all(), (seed, n_part)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


class TestCacheHygiene:
    def test_release_pinned_returns_storage_to_baseline(self, spark):
        """global_rank/global_prefix_agg (and the dedup rep tables) pin
        their persisted relations through caching.pin; release_pinned()
        returns executor storage to baseline after the result is
        materialized — the in-session analog of the batch runners'
        clearCache between queries."""
        from reduction_dask_spark.caching import pinned_count, release_pinned
        from reduction_dask_spark.operators.relational import (
            pr1_global_pct_rank,
        )

        release_pinned()
        spark.catalog.clearCache()
        baseline = spark.sparkContext._jsc.getPersistentRDDs().size()
        rows = pr1_global_pct_rank(spark, SF_SMALL).collect()
        assert rows
        assert pinned_count() >= 1
        assert spark.sparkContext._jsc.getPersistentRDDs().size() > baseline
        released = release_pinned()
        assert released >= 1
        assert pinned_count() == 0
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == baseline

    def test_min_label_components_unpersists_edges(self, spark):
        """The iterative CC loop fully materializes its edge relation
        before returning (the result is an eager localCheckpoint), so
        it unpersists at exit: any storage it leaves behind is
        checkpoint storage only."""
        from reduction_dask_spark.operators.dedup import min_label_components

        spark.catalog.clearCache()
        before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)],
            "doc_a bigint, doc_b bigint",
        )
        labels = {
            (r["doc_id"], r["cluster_id"])
            for r in min_label_components(pairs).collect()
        }
        assert labels == {
            (1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
            (20, 20), (21, 20), (22, 20),
        }
        m = spark.sparkContext._jsc.getPersistentRDDs()
        for rdd_id in set(m.keySet().toArray()) - before:
            jrdd = m.get(rdd_id)
            assert jrdd.rdd().isLocallyCheckpointed(), (
                f"non-checkpoint RDD {rdd_id} leaked from min_label_components"
            )


def test_dynamic_partition_pruning_on_star_join(spark, tmp_path):
    """Dynamic Partition Pruning — the Spark 3 star-join scale feature
    this engine leans on at 100 TB: a fact table partitioned on the
    join key is pruned at RUNTIME by the filtered dimension's key set
    (a broadcast-reused subquery in the scan's PartitionFilters), so a
    month-of-dates dim filter touches only that month's fact
    partitions without any static predicate on the fact side."""
    from pyspark.sql import functions as F

    from reduction_dask_spark.sources import load_table

    from .conftest import SF_SMALL

    fact_path = str(tmp_path / "fact")
    orders = load_table(spark, SF_SMALL, "orders")
    fact = orders.select(
        "o_orderkey", "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
    )
    fact.write.partitionBy("order_month").mode("overwrite").parquet(fact_path)
    n_months = fact.select("order_month").distinct().count()
    assert n_months > 3  # pruning must have something to prune

    # the dim filter is on a NON-join column (month-of-year), so the
    # fact-side restriction cannot be inferred statically — only the
    # runtime subquery over the filtered dim can prune fact partitions
    dim_path = str(tmp_path / "dim")
    (
        fact.select("order_month").distinct()
        .withColumn("moy", F.substring("order_month", 6, 2).cast("int"))
        .write.mode("overwrite").parquet(dim_path)
    )
    dim = spark.read.parquet(dim_path)
    f = spark.read.parquet(fact_path)
    joined = f.join(dim.filter(F.col("moy") == 3), "order_month").agg(
        F.sum("o_totalprice").alias("s")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the answer matches the statically-filtered computation
    want = fact.filter(F.substring("order_month", 6, 2).cast("int") == 3).agg(
        F.sum("o_totalprice")
    ).collect()[0][0]
    got = joined.collect()[0]["s"]
    assert abs(got - want) < 1e-6


def test_global_rank_survives_cache_eviction(spark):
    """The pid-consistency contract's cache-loss leg: range boundaries
    are fixed driver-side when the partitioner is created, so
    RE-materializing the pinned relation after its cache is dropped
    (executor eviction / release_pinned) must reproduce identical
    ranks — not just a valid ranking."""
    from pyspark.sql import functions as F

    from reduction_dask_spark.caching import release_pinned
    from reduction_dask_spark.operators.relational import global_rank

    release_pinned()
    base = spark.range(0, 5000).select(
        F.col("id"),
        ((F.col("id") * 2654435761) % 1000).alias("k"),
    )
    ranked = global_rank(base, F.desc("k"), F.asc("id"), out="rnk")
    r1 = sorted((r["id"], r["rnk"]) for r in ranked.collect())
    # drop the pinned exchange; the SAME DataFrame must recompute to
    # the SAME ranks (total order => unique answer, but the local
    # window + offset branches must also agree on pids during the
    # recompute for the answer to come out right)
    released = release_pinned()
    assert released >= 1
    r2 = sorted((r["id"], r["rnk"]) for r in ranked.collect())
    assert r1 == r2
    # ranks are a permutation of 1..n
    assert sorted(rk for _, rk in r1) == list(range(1, 5001))
    release_pinned()
