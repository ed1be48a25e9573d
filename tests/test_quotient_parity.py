"""Exact-duplicate quotient ≡ direct computation (r12).

The quotient rewrites (jaccard_pairs_collapsed behind dd2/dd7, the
combinatorial triangle counts behind gr2, and every other consumer of
dedup.exact_members) are EXECUTION quotients — their contract is
bit-identical output to the uncollapsed plans. The
×12 replica gates pin that on the shipped corpora; these tests pin it
on an adversarial synthetic corpus that hits every branch at pytest
speed: multi-way duplicate groups of several sizes (2/3/5), singleton
near-dup neighbors, chain AND clique shapes in the near-dup graph, a
>DF_CAP duplicate group (its shingles are capped away, so its members
must NOT self-pair — the full-corpus-df subtlety), and ≤2-token docs
(no shingles ⇒ no intra pairs despite being duplicates).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.parity_util import assert_oracle_parity


def _corpus(spark):
    from reduction_dask_spark.operators.dedup import DF_CAP

    base = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "alpha beta gamma delta epsilon zeta eta theta iota lambda",  # near-dup of 0
        "alpha beta gamma delta epsilon zeta eta theta mu nu",        # near-dup chain
        "one two three four five six seven eight nine ten",
        "one two three four five six seven eight nine eleven",        # near-dup of 3
        "totally different words here nothing shared with others at all",
        "short doc",                                                   # < K_SHINGLE tokens
    ]
    rows = []
    doc_id = 0
    # dup multiplicities per base text: clique/chain shapes survive
    for text, mult in zip(base, (3, 2, 1, 5, 1, 2, 4)):
        for _ in range(mult):
            rows.append((doc_id, text))
            doc_id += 1
    # a duplicate group bigger than DF_CAP: every one of its shingles
    # has full-corpus df > cap, so the capped index drops them and the
    # group must not self-pair in EITHER plan
    hot_text = "hot boiler plate sentence repeated across the whole crawl forever"
    for _ in range(DF_CAP + 20):
        rows.append((doc_id, hot_text))
        doc_id += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


# every registered consumer of the md5(text) quotient that has a DuckDB
# oracle: each must reproduce its uncollapsed oracle on _corpus
QUOTIENT_CONSUMERS = (
    "dd2_shingle_jaccard",
    "dd3_minhash_lsh_dedup",
    "dd4_simhash_dedup",
    "dd6_dup_clusters",
    "dd7_domain_dedup_stats",
    "dd2b_containment_pairs",
    "er2_golden_record",
    "deval1_dedup_quality",
    "dd11_exact_substring_spans",
    "dd11b_substring_removal",
    "dc3_span_decontam",
    "gr2_triangle_count",
    "gr3_kcore",
    "gr4_star_components",
    "canon1_canonical_selection",
    "lsplit1_leakage_safe_split",
)


@pytest.fixture(scope="module")
def quotient_dir(spark, tmp_path_factory):
    """_corpus plus three NULL-text docs (the quotient puts every NULL
    text in one group; each consumer must still match its oracle) as a
    documents table, with the metadata columns the consumers read
    (lang, source, n_chars) derived from doc_id/text."""
    path = tmp_path_factory.mktemp("quotient")
    d = _corpus(spark)
    top = d.agg(F.max("doc_id")).collect()[0][0]
    nulls = spark.createDataFrame(
        [(top + 1 + i, None) for i in range(3)], "doc_id long, text string"
    )
    d.unionByName(nulls).select(
        "doc_id",
        "text",
        F.when(F.col("doc_id") % 2 == 0, "en").otherwise("de").alias("lang"),
        F.concat(F.lit("src"), (F.col("doc_id") % 3).cast("string")).alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    ).coalesce(1).write.parquet(str(path / "documents.parquet"))
    return path


@pytest.mark.parametrize("name", QUOTIENT_CONSUMERS)
def test_quotient_consumer_matches_oracle(spark, quotient_dir, name):
    assert_oracle_parity(spark, quotient_dir, name)


def test_er1_null_texts_match_oracle(spark, quotient_dir):
    """er1 reads the raw corpus, not the quotient, but the same NULL
    texts reach its blocking: they must never pair, as in DuckDB."""
    assert_oracle_parity(spark, quotient_dir, "er1_blocked_fuzzy_match")


def _direct_pairs(d, tau):
    from reduction_dask_spark.operators.dedup import (
        jaccard_pairs,
        shingle_table_of,
    )

    return jaccard_pairs(shingle_table_of(d), tau)


def test_jaccard_pairs_collapsed_matches_direct(spark):
    from reduction_dask_spark.caching import release_pinned
    from reduction_dask_spark.operators.dedup import jaccard_pairs_collapsed

    d = _corpus(spark)
    tau = 0.5
    want = sorted(map(tuple, _direct_pairs(d, tau).collect()))
    got = sorted(map(tuple, jaccard_pairs_collapsed(d, tau).collect()))
    assert len(want) >= 30  # dup groups actually expanded
    assert sum(1 for r in want if r[2] == 1.0) >= 10  # intra-dup pairs present
    assert got == want
    release_pinned()
    spark.catalog.clearCache()


def test_rep_capped_shingles_matches_full_restrict(spark):
    """r14: the weighted-df rep quotient must reproduce the full-pass
    capped index restricted to representatives EXACTLY — including the
    >DF_CAP duplicate group, whose shingles reach the cap only through
    multiplicity weighting (each appears in just one distinct
    content)."""
    from reduction_dask_spark.caching import release_pinned
    from reduction_dask_spark.operators.dedup import (
        exact_members,
        rep_capped_shingles,
        representatives,
        shingle_table_of,
    )

    d = _corpus(spark)
    members = exact_members(d)
    grp = representatives(members)
    want = sorted(
        map(tuple, shingle_table_of(d).join(grp, "doc_id", "left_semi").collect())
    )
    got = sorted(map(tuple, rep_capped_shingles(d, members).collect()))
    assert want  # non-degenerate
    assert got == want
    # the hot group's shingles must be capped away in BOTH plans
    hot_rep = (
        grp.orderBy(F.desc("m")).limit(1).collect()[0]["doc_id"]
    )
    assert all(r[0] != hot_rep for r in got)
    release_pinned()
    spark.catalog.clearCache()


def test_minhash_collapsed_matches_direct(spark):
    """r14: dd3's minhash-LSH pipeline through the exact-dup quotient
    (jaccard_pairs_collapsed with pair_fn=minhash pipeline) must equal
    the uncollapsed run over the full corpus — same candidate buckets
    (band keys are content functions), same verified pairs, same
    jaccard values, intra-dup pairs at 1.0 with the has-a-signature
    membership rule (the >DF_CAP group must self-pair in NEITHER)."""
    from reduction_dask_spark.caching import release_pinned
    from reduction_dask_spark.operators.dedup import (
        JACCARD_TAU,
        jaccard_pairs_collapsed,
        minhash_lsh_pairs_of,
        shingle_table_of,
    )

    d = _corpus(spark)
    want = sorted(
        map(tuple, minhash_lsh_pairs_of(shingle_table_of(d)).collect())
    )
    got = sorted(
        map(
            tuple,
            jaccard_pairs_collapsed(
                d, JACCARD_TAU, pair_fn=lambda sh, tau: minhash_lsh_pairs_of(sh)
            ).collect(),
        )
    )
    assert len(want) >= 10  # dup groups expanded through the LSH path
    assert got == want
    release_pinned()
    spark.catalog.clearCache()


def test_simhash_collapsed_matches_direct(spark, tmp_path):
    """r14: dd4 (now quotient-executed) must equal the uncollapsed
    simhash run over the full corpus — fingerprints are content
    functions, every non-null doc gets one (membership unconditional
    after the NULL filter), intra pairs at hamming 0. Drives the
    REGISTERED operator against a temp parquet dir so the test covers
    dd4's actual body. r15 (r14 ADVICE): the corpus gains THREE
    NULL-text docs — the uncollapsed plan drops them (split(NULL)
    explodes to nothing, no fingerprint), while md5(NULL) would glue
    them into one phantom exact group self-pairing at hamming 0 if
    dd4 didn't filter them; this pins the fix."""
    from reduction_dask_spark.caching import release_pinned
    from reduction_dask_spark.operators.dedup import (
        dd4_simhash_dedup,
        simhash_pairs_of,
    )

    d = _corpus(spark)
    top = d.agg(F.max("doc_id")).collect()[0][0]
    nulls = spark.createDataFrame(
        [(top + 1 + i, None) for i in range(3)], "doc_id long, text string"
    )
    d = d.unionByName(nulls)
    want = sorted(map(tuple, simhash_pairs_of(d).collect()))
    d.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = sorted(map(tuple, dd4_simhash_dedup(spark, str(tmp_path)).collect()))
    assert len(want) >= 10
    assert got == want
    release_pinned()
    spark.catalog.clearCache()


def test_triangle_quotient_matches_direct(spark):
    from reduction_dask_spark.caching import release_pinned
    from reduction_dask_spark.operators.graph import triangle_counts_of

    d = _corpus(spark)
    tau = 0.5
    # direct: enumerate triangles on the FULL expanded pair graph
    e = _direct_pairs(d, tau).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    wedges = e1.join(e2, F.col("e1.b") == F.col("e2.a")).select(
        F.col("e1.a").alias("wa"), F.col("e1.b").alias("wb"), F.col("e2.b").alias("wc")
    )
    tri = wedges.join(
        e3, (F.col("e3.a") == F.col("wa")) & (F.col("e3.b") == F.col("wc"))
    ).select("wa", "wb", "wc")
    nodes = (
        tri.select(F.col("wa").alias("doc_id"))
        .unionAll(tri.select(F.col("wb").alias("doc_id")))
        .unionAll(tri.select(F.col("wc").alias("doc_id")))
    )
    want = sorted(
        map(
            tuple,
            nodes.groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_triangles"))
            .collect(),
        )
    )
    got = sorted(map(tuple, triangle_counts_of(d, tau).collect()))
    assert len(want) >= 8  # triangles actually exist
    assert got == want
    release_pinned()
    spark.catalog.clearCache()
