"""Physical-plan shape assertions (the 100 TB design contract).

Correct results with a wrong plan shape fail at scale — these tests pin
the properties SURVEY.md §4 calls out: pushdown, pruning, broadcast
dims, map-side partial aggregation, codegen coverage.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from reduction_dask_spark.caching import release_pinned
from reduction_dask_spark.plans import (
    EMPTY_PARTITION_WINDOW,
    codegen_stages,
    has_partial_aggregation,
    pushed_filters,
    read_schemas,
    shape,
    simple_plan,
)
from reduction_dask_spark.sources import load_table

from .conftest import SF_SMALL

JOINS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


def hash_keys(df) -> list[str]:
    """The leading key of every ``Exchange hashpartitioning`` in the plan
    string, top-down. The string repeats a pinned relation's cached plan
    under every scan of it, so use this on plans without pins."""
    return re.findall(r"Exchange hashpartitioning\((\w+)#", simple_plan(df))


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
    # the hinted nation/region joins and the 2-column customer
    # projection broadcast; lineitem⋈orders is left to the planner
    # (a shuffle at scale, a broadcast at test scale) and not asserted
    assert shape(q)["BroadcastHashJoin"] >= 3
    bhj = [ln for ln in simple_plan(q).splitlines() if "BroadcastHashJoin" in ln]
    assert any("n_nationkey" in ln for ln in bhj)
    assert any("r_regionkey" in ln for ln in bhj)


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
    """M1: ONE hash exchange, on era, feeds both era windows; the only
    other exchange is the pooled corr's single-partition final agg."""
    from reduction_dask_spark.operators.metrics import m1_spearman_by_era

    q = m1_spearman_by_era(spark, SF_SMALL)
    assert shape(q)["Exchange"] == 2
    assert hash_keys(q) == ["era"]


def test_global_sort_uses_range_partitioning(spark):
    """O1 global sort → Exchange rangepartitioning (total order across
    partitions, not a single-partition sort)."""

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

    q = q10_returned_items(spark, SF_SMALL)
    assert "TakeOrderedAndProject" in simple_plan(q)
    assert shape(q)["BroadcastHashJoin"]


def test_q19_disjunction_keeps_hash_join(spark):
    """The 3-branch OR predicate must not degrade the part join to a
    nested loop: the equi-key is common to all branches."""
    from reduction_dask_spark.operators.tpch import q19_disjunctive_revenue

    q = q19_disjunctive_revenue(spark, SF_SMALL)
    plan = simple_plan(q)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q17_decorrelated_avg_shares_partkey_exchange(spark):
    """Q17's decorrelated per-part average is the one partkey shuffle:
    the brand-filtered part side broadcasts into the probe, and at test
    scale the average broadcasts back, so no fact shuffle is added."""
    from reduction_dask_spark.operators.tpch import q17_small_quantity_revenue

    q = q17_small_quantity_revenue(spark, SF_SMALL)
    assert shape(q)["BroadcastHashJoin"] == 2
    assert hash_keys(q) == ["l_partkey"]


def test_q1_pushes_shipdate_and_combines_map_side(spark):
    """Q1: the shipdate predicate reaches the parquet reader, and the
    partial aggregates run below the one group-key shuffle."""
    from reduction_dask_spark.operators.udf_surface import q1_pricing_summary

    q = q1_pricing_summary(spark, SF_SMALL)
    assert "LessThanOrEqual(l_shipdate," in pushed_filters(q)
    assert has_partial_aggregation(q)
    counts = shape(q)
    assert counts["Exchange"] == 1 and counts["HashAggregate"] == 2
    plan = simple_plan(q)  # top-down: the partial agg prints below the exchange
    assert plan.index("Exchange hashpartitioning") < plan.index("partial_")


def test_s1_reads_only_its_four_columns(spark):
    from reduction_dask_spark.operators.relational import s1_scan_projection

    assert read_schemas(s1_scan_projection(spark, SF_SMALL)) == [
        "struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double>"
    ]


def test_j7_asof_is_one_user_keyed_window(spark):
    """j7's as-of join is a carry-forward window over one user_id
    shuffle — no nested-loop or range join."""
    from reduction_dask_spark.operators.temporal import j7_asof_join

    q = j7_asof_join(spark, SF_SMALL)
    counts = shape(q)
    assert counts["Exchange"] == 1 and counts["Window"] == 1
    assert counts["BroadcastNestedLoopJoin"] == 0
    assert counts[EMPTY_PARTITION_WINDOW] == 0
    assert hash_keys(q) == ["user_id"]


def test_q21_semi_anti_joins_and_top20(spark):
    """Q21's exists / not-exists are a LeftSemi and a LeftAnti join, the
    order-status filter reaches the scan and the top-20 is per-partition
    heaps."""
    from reduction_dask_spark.operators.tpch import q21_suppliers_kept_waiting

    try:
        q = q21_suppliers_kept_waiting(spark, SF_SMALL)
        plan = simple_plan(q)
        assert "LeftSemi" in plan and "LeftAnti" in plan
        assert "EqualTo(o_orderstatus,F)" in pushed_filters(q)
        assert shape(q)["TakeOrderedAndProject"] == 1
    finally:
        release_pinned()


def test_q11_threshold_reuses_pinned_groups(spark):
    """Q11's scalar HAVING: the pinned per-part relation is read twice —
    by the 1-row total and by the filter side of one broadcast cross
    join — and compared by integer cross-multiplication."""
    from reduction_dask_spark.operators.tpch import q11_important_stock

    try:
        q = q11_important_stock(spark, SF_SMALL)
        counts = shape(q)
        assert counts["InMemoryTableScan"] == 2
        assert counts["BroadcastNestedLoopJoin"] == 1
        assert re.search(r"\(val_cents#\d+L \* 1000\) > t#", simple_plan(q))
    finally:
        release_pinned()


def test_t6_topk_window_partitioned_by_term(spark):
    """t6: the per-term top-k window is partitioned by tok, never a
    global sort; the query, df and stats sides broadcast."""
    from reduction_dask_spark.operators.text import t6_bm25_topk

    q = t6_bm25_topk(spark, SF_SMALL)
    counts = shape(q)
    assert counts["Window"] == 1 and counts[EMPTY_PARTITION_WINDOW] == 0
    assert counts["SortMergeJoin"] == 0
    assert counts["BroadcastNestedLoopJoin"] == 1  # the 1-row stats
    plan = simple_plan(q)
    assert "windowspecdefinition(tok#" in plan
    assert re.search(r"Exchange hashpartitioning\(doc_id#\d+L, tok#", plan)


def test_pack1_one_lang_shuffle(spark):
    """pack1: one shuffle on lang feeds the running-sum window AND the
    pack aggregate; no global window."""
    from reduction_dask_spark.operators.pipeline import pack1_sequence_pack

    q = pack1_sequence_pack(spark, SF_SMALL)
    counts = shape(q)
    assert counts["Exchange"] == 1 and counts["Window"] == 1
    assert counts[EMPTY_PARTITION_WINDOW] == 0
    assert hash_keys(q) == ["lang"]


def test_dd3_shingle_arrays_built_once(spark):
    """dd3: ONE collect_list aggregate builds the per-doc shingle arrays,
    and both the band build and the verify stage read that pinned
    relation through InMemoryTableScan."""
    from reduction_dask_spark.operators.dedup import dd3_minhash_lsh_dedup

    try:
        counts = shape(dd3_minhash_lsh_dedup(spark, SF_SMALL))
        assert counts["ObjectHashAggregate"] == 2  # partial + final
        assert counts["InMemoryTableScan"] >= 2
    finally:
        release_pinned()


def test_rrf1_fuses_only_the_rank_lists(spark):
    """rrf1: every join but the fusion broadcasts; the fusion is the one
    shuffled join, a full outer join of the two rank lists, each cut to
    its top-L inside its window before the shuffle."""
    from reduction_dask_spark.operators.retrieval import rrf1_hybrid_retrieval

    q = rrf1_hybrid_retrieval(spark, SF_SMALL)
    counts = shape(q)
    assert counts["SortMergeJoin"] == 1
    assert re.search(r"SortMergeJoin \[qid#\d+L, doc_id#\d+L\], \[qid#\d+L, doc_id#\d+L\], FullOuter", simple_plan(q))
    # lexical, vector and fused windows, each with a partial + final limit
    assert counts["Window"] == 3 and counts["WindowGroupLimit"] == 6
    assert counts[EMPTY_PARTITION_WINDOW] == 0


def test_ts1_gap_fill_window_keyed_by_user(spark):
    """ts1: the LOCF window is keyed by user_id, the hourly spine explodes
    map-side (no shuffle after it) and joins back once."""
    from reduction_dask_spark.operators.temporal import ts1_gap_fill_locf

    q = ts1_gap_fill_locf(spark, SF_SMALL)
    counts = shape(q)
    assert counts["Window"] == 1 and counts[EMPTY_PARTITION_WINDOW] == 0
    assert sum(counts[j] for j in JOINS) == 1
    assert counts["Exchange"] == 2  # spine bounds + hourly grain
    assert "windowspecdefinition(user_id#" in simple_plan(q)


def test_ts2_no_window_over_densified_rows(spark):
    """ts2: one user-keyed lead() window over the SPARSE hourly relation;
    the interval explode runs above it, with no window, join or shuffle
    over the densified output."""
    from reduction_dask_spark.operators.temporal import ts2_linear_interpolate

    q = ts2_linear_interpolate(spark, SF_SMALL)
    counts = shape(q)
    assert counts["Window"] == 1 and counts[EMPTY_PARTITION_WINDOW] == 0
    assert sum(counts[j] for j in JOINS) == 0
    assert counts["Exchange"] == 2 and counts["Generate"] == 1
    plan = simple_plan(q)  # top-down: the explode prints above the window
    assert plan.index("Generate explode") < plan.index("Window [")


def test_dd6_components_enter_as_one_checkpoint(spark):
    """dd6: exact duplicates collapse on ONE md5 fingerprint shuffle
    (the pinned member map's window), the pinned capped shingle index
    is read through InMemoryTableScan, the label-propagation rounds run
    at build time and enter the plan as ONE checkpointed leaf, and a
    join of the member map on rep_id expands labels back to every
    member."""
    from reduction_dask_spark.operators.dedup import dd6_dup_clusters

    try:
        q = dd6_dup_clusters(spark, SF_SMALL)
        counts = shape(q)
        assert counts["Scan ExistingRDD"] == 1
        # the member map at the expansion and twice inside the rep
        # index (its rep restriction and its df weights), the pinned
        # rep index once, and the raw rep shingle explode it is cut
        # from twice inside it
        assert counts["InMemoryTableScan"] == 6
        assert counts["Window"] == 1
        plan = simple_plan(q)
        assert len(set(re.findall(r"Exchange hashpartitioning\(fp#(\d+)", plan))) == 1
        assert re.search(
            r"Join \[rep_id#\d+L?\], \[rep_id#\d+L?\], LeftOuter", plan
        )
    finally:
        release_pinned()


def test_pipe5_composition_stays_in_the_jvm(spark, monkeypatch):
    """pipe5: no Python evaluation anywhere in the composed funnel →
    excision → export plan, no global window, and the export window is
    partitioned by shard. Built with no-op barriers, so the plan holds
    the whole funnel rather than a checkpointed leaf."""
    from reduction_dask_spark.operators.pipeline import pipe5_clean_export

    monkeypatch.setenv("SPARK_GRAFT_BARRIER", "noop")
    try:
        q = pipe5_clean_export(spark, SF_SMALL)
        counts = shape(q)
        assert counts["BatchEvalPython"] == 0 and counts["ArrowEvalPython"] == 0
        assert counts[EMPTY_PARTITION_WINDOW] == 0
        plan = simple_plan(q)
        assert "Exchange hashpartitioning(shard#" in plan
        assert "windowspecdefinition(shard#" in plan
    finally:
        release_pinned()


def test_no_empty_partition_windows_in_rank_family(spark):
    """The r01 WindowExec warning emitters: global_rank's offset prefix
    sum (w2), x3's top-8 feature cut, and ss6's PQ codebook indexer.
    Catalyst constant-folds partitionBy(lit(0)), so the only safe shapes
    are orderBy+limit, triangular metadata joins, or driver-side model
    construction — pin all three plans to zero empty-partition windows."""
    from reduction_dask_spark.operators.importance import x3_projection_by_rank
    from reduction_dask_spark.operators.relational import w2_rank_importance
    from reduction_dask_spark.operators.similarity import ss6_pq_adc_topk

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
        from reduction_dask_spark.caching import _PINNED, release_pinned
        from reduction_dask_spark.operators.relational import (
            pr1_global_pct_rank,
        )

        release_pinned()
        spark.catalog.clearCache()
        baseline = spark.sparkContext._jsc.getPersistentRDDs().size()
        rows = pr1_global_pct_rank(spark, SF_SMALL).collect()
        assert rows
        assert len(_PINNED) >= 1
        assert spark.sparkContext._jsc.getPersistentRDDs().size() > baseline
        released = release_pinned()
        assert released >= 1
        assert len(_PINNED) == 0
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
