"""Bucketing: pre-shuffled storage so joins on the bucket key need no
exchange — the co-located-join technique the brief calls out for
100 TB fact⋈fact joins (lineitem⋈orders on orderkey)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reduction_dask_spark.plans import shape, simple_plan
from reduction_dask_spark.sources import load_table

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def bucketed(spark):
    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF_SMALL, "orders").select("o_orderkey", "o_totalprice")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_b")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("o_b")
    yield spark.table("li_b"), spark.table("o_b")
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")


def test_bucketed_join_has_no_shuffle(spark, bucketed):
    li_b, o_b = bucketed
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        j = li_b.join(o_b, li_b.l_orderkey == o_b.o_orderkey)
        assert shape(j)["Exchange"] == 0, simple_plan(j)
        # and the result is still right
        plain = load_table(spark, SF_SMALL, "lineitem").join(
            load_table(spark, SF_SMALL, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        assert j.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_unbucketed_join_does_shuffle(spark):
    """Control: the same join without bucketing exchanges both sides."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
        o = load_table(spark, SF_SMALL, "orders").select("o_orderkey", "o_totalprice")
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        assert shape(j)["Exchange"] == 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_bucketed_fingerprint_index_antijoin_dedup(spark):
    """ROADMAP item: the dedup-path co-location story. The corpus
    fingerprint index (dd9's incremental-dedup base) lives as a table
    bucketed by fingerprint; the daily batch anti-joins against it
    with the CORPUS side read in place — zero exchange above its scan
    — so only the (small) batch moves through the shuffle."""
    from reduction_dask_spark.operators.dedup import prefix_fingerprint

    d = load_table(spark, SF_SMALL, "documents")
    f = d.select("doc_id", prefix_fingerprint(F.col("text")).alias("fingerprint"))
    corpus = f.filter(F.col("doc_id") % 5 != 0).select("fingerprint").distinct()
    corpus.write.mode("overwrite").bucketBy(8, "fingerprint").sortBy(
        "fingerprint"
    ).saveAsTable("corpus_fp_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        batch = f.filter(F.col("doc_id") % 5 == 0)
        fresh = batch.join(spark.table("corpus_fp_b"), "fingerprint", "left_anti")
        plan = simple_plan(fresh)
        # exactly ONE exchange: the batch side; the bucketed corpus scan
        # feeds the sort-merge anti-join directly
        assert shape(fresh)["Exchange"] == 1, plan
        # and semantics match the unbucketed dd9 shape
        plain = batch.join(corpus, "fingerprint", "left_anti")
        assert fresh.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS corpus_fp_b")


def test_join_strategy_hints_are_honored(spark):
    """Strategy-control surface: shuffle_hash and merge hints select
    ShuffledHashJoin / SortMergeJoin over the planner's default — the
    knob used when the build side fits executor (not driver) memory,
    or when sort order should be preserved."""
    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF_SMALL, "orders").select("o_orderkey", "o_totalprice")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shj = li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
        assert "ShuffledHashJoin" in simple_plan(shj)
        smj = li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
        assert "SortMergeJoin" in simple_plan(smj)
        assert shj.count() == smj.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_bucketed_shingle_index_pair_join_no_input_shuffle(spark):
    """The dedup family's hottest join — the shingle inverted-index
    self-join that generates candidate pairs (dd2/dd6's Σ_shingle df²
    stage) — co-located: with the index stored bucketed+sorted by
    shingle, BOTH sides of the pair join read in place and the join
    itself needs no exchange; the only shuffle left in the full
    pipeline is the per-pair aggregation, which is output-mass, not
    index-mass. At 100 TB this is the difference between re-shuffling
    the whole exploded index per dedup run and shuffling it once at
    index-build time."""
    from reduction_dask_spark.operators.dedup import shingle_table

    sh = shingle_table(spark, SF_SMALL)
    sh.write.mode("overwrite").bucketBy(8, "shingle").sortBy("shingle").saveAsTable("sh_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shb = spark.table("sh_b")
        a, b = shb.alias("a"), shb.alias("b")
        pairs = a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        assert shape(pairs)["Exchange"] == 0, simple_plan(pairs)
        # same pair count as the unbucketed plan
        ua, ub = sh.alias("a"), sh.alias("b")
        upairs = ua.join(
            ub,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        assert pairs.count() == upairs.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS sh_b")
