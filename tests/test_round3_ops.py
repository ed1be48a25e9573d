"""Semantic tests for the round-3 operators: hybrid retrieval fusion,
time-series gap fill, trailing range windows, unpivot reshaping.
(Oracle equality is covered by tools/compare.py; these pin the
operator-specific invariants a value hash can't express.)"""

from __future__ import annotations

import sys

import pandas as pd
import pytest
from pyspark import cloudpickle
from pyspark.sql import DataFrame, functions as F

from reduction_dask_spark.operators.retrieval import (
    RRF_K,
    RRF_L,
    RRF_TOPK,
    _lex_ranked,
    _vec_ranked,
    rrf1_hybrid_retrieval,
)
from reduction_dask_spark.operators.temporal import (
    ts1_gap_fill_locf,
    w7_trailing_range_window,
)
from reduction_dask_spark.operators.relational import unpivot1_melt_measures
from reduction_dask_spark.sources import load_table

SF = "/root/testdata/sf0.001"

# bpe_encode's mapper calls this module's py_apply_merge. Pickled by
# value, it runs in a Python worker that need not import the tests.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


class TestRRF:
    def test_fused_score_is_rrf_of_component_ranks(self, spark):
        out = rrf1_hybrid_retrieval(spark, SF).toPandas()
        for _, r in out.iterrows():
            expect = 0.0
            if pd.notna(r.lex_rank):
                expect += 1.0 / (RRF_K + r.lex_rank)
            if pd.notna(r.vec_rank):
                expect += 1.0 / (RRF_K + r.vec_rank)
            assert abs(r.rrf - round(expect, 6)) < 1e-9

    def test_topk_per_query_and_rank_bounds(self, spark):
        out = rrf1_hybrid_retrieval(spark, SF).toPandas()
        assert out.groupby("qid").size().max() <= RRF_TOPK
        assert out.lex_rank.dropna().between(1, RRF_L).all()
        assert out.vec_rank.dropna().between(1, RRF_L).all()
        # no self-hits in either list
        assert (out.qid != out.doc_id).all()

    def test_dual_evidence_outranks_single_list(self, spark):
        """A doc in BOTH lists at rank r beats a doc in one list at r:
        fusion's defining property."""
        lex = _lex_ranked(load_table(spark, SF, "documents")).toPandas()
        vec = _vec_ranked(load_table(spark, SF, "embeddings")).toPandas()
        both = lex.merge(vec, on=["qid", "doc_id"])
        out = rrf1_hybrid_retrieval(spark, SF).toPandas()
        if len(both):
            q, d = both.iloc[0].qid, both.iloc[0].doc_id
            fused_q = out[out.qid == q]
            only = fused_q[fused_q.lex_rank.isna() | fused_q.vec_rank.isna()]
            hit = fused_q[(fused_q.doc_id == d)]
            if len(hit) and len(only):
                worst_single = only.rrf.max()
                r = max(both.iloc[0].lex_rank, both.iloc[0].vec_rank)
                if 2.0 / (RRF_K + r) > worst_single:
                    assert hit.rrf.iloc[0] >= worst_single


class TestGapFill:
    def test_spine_is_contiguous_per_user(self, spark):
        out = ts1_gap_fill_locf(spark, SF).toPandas()
        for uid, g in out.groupby("user_id"):
            hours = g.sort_values("hour").hour
            deltas = hours.diff().dropna()
            assert (deltas == pd.Timedelta(hours=1)).all(), uid

    def test_locf_fills_every_gap_after_first_hour(self, spark):
        out = ts1_gap_fill_locf(spark, SF).toPandas()
        # bounds run min..max of ACTIVE hours, so the first spine row is
        # always observed → filled_value never null
        assert out.filled_value.notna().all()
        for _, g in out.groupby("user_id"):
            g = g.sort_values("hour")
            last = None
            for _, r in g.iterrows():
                if not r.is_gap:
                    last = r.filled_value
                else:
                    assert r.filled_value == last

    def test_gap_flag_matches_counts(self, spark):
        out = ts1_gap_fill_locf(spark, SF).toPandas()
        assert ((out.n_events == 0) == out.is_gap).all()


class TestTrailingRange:
    def test_matches_pandas_rolling(self, spark):
        ev = load_table(spark, SF, "events").select("event_id", "user_id", "ts", "value").toPandas()
        out = w7_trailing_range_window(spark, SF).toPandas().set_index("event_id")
        one = ev[ev.user_id == ev.user_id.iloc[0]].sort_values("ts")
        for _, r in one.iterrows():
            win = one[(one.ts <= r.ts) & (one.ts >= r.ts - pd.Timedelta(hours=1))]
            assert out.loc[r.event_id, "n_1h"] == len(win)
            assert abs(out.loc[r.event_id, "sum_1h"] - round(win.value.sum(), 2)) < 1e-6

    def test_self_always_included(self, spark):
        out = w7_trailing_range_window(spark, SF).toPandas()
        assert (out.n_1h >= 1).all()


class TestUnpivot:
    def test_shape_and_roundtrip(self, spark):
        li = load_table(spark, SF, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
        n = li.count()
        out = unpivot1_melt_measures(spark, SF)
        assert out.count() == 4 * n
        cols = ["l_orderkey", "l_linenumber",
                "l_discount", "l_extendedprice", "l_quantity", "l_tax"]
        back = (
            out.groupBy("l_orderkey", "l_linenumber")
            .pivot("measure")
            .agg(F.first("val"))
            .select(*cols)
        )
        wide = li.select(
            "l_orderkey", "l_linenumber",
            *[F.round(c, 6).alias(c) for c in cols[2:]],
        )
        assert back.exceptAll(wide).count() == 0


class TestGroupedQuantiles:
    def test_monotone_and_bounded_per_group(self, spark):
        from reduction_dask_spark.operators.relational import f15_grouped_quantiles

        out = f15_grouped_quantiles(spark, SF).toPandas()
        assert set(out.q.unique()) == {0.25, 0.5, 0.75, 0.9}
        for _, g in out.groupby("event_type"):
            vals = g.sort_values("q").val.to_numpy()
            assert (vals[:-1] <= vals[1:]).all()


class TestEmbeddingProfile:
    def test_one_row_per_dim_with_consistent_stats(self, spark):
        from reduction_dask_spark.operators.similarity import emb1_embedding_profile

        out = emb1_embedding_profile(spark, SF).toPandas()
        n_vec = load_table(spark, SF, "embeddings").count()
        assert len(out) == 64
        assert (out.n == n_vec).all()
        assert (out.min_v <= out.mean_v).all() and (out.mean_v <= out.max_v).all()
        assert (out.std_v >= 0).all()


class TestLabelCentroids:
    def test_upper_triangle_of_label_pairs_with_valid_cosines(self, spark):
        from reduction_dask_spark.operators.similarity import emb2_label_centroid_sim

        out = emb2_label_centroid_sim(spark, SF).toPandas()
        labels = sorted(
            r.label for r in load_table(spark, SF, "embeddings").select("label").distinct().collect()
        )
        k = len(labels)
        assert len(out) == k * (k - 1) // 2
        assert (out.label_a < out.label_b).all()
        assert out.cos.between(-1.0, 1.0).all()

    def test_matches_numpy_centroids(self, spark):
        import numpy as np

        from reduction_dask_spark.operators.similarity import emb2_label_centroid_sim

        pdf = load_table(spark, SF, "embeddings").toPandas()
        cents = {
            lab: np.mean(np.stack(g.embedding.to_numpy()), axis=0).astype(float)
            for lab, g in pdf.groupby("label")
        }
        out = emb2_label_centroid_sim(spark, SF).toPandas()
        for _, r in out.iterrows():
            a, b = cents[r.label_a], cents[r.label_b]
            expect = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
            assert abs(r.cos - round(expect, 5)) < 1e-4


class TestBPE:
    def test_matches_pure_python_bpe(self, spark):
        from collections import Counter

        from reduction_dask_spark.operators.tokenizer import (
            BPE_MERGES,
            bpe1_train_merges,
        )

        pdf = load_table(spark, SF, "documents").select("text").toPandas()
        wc = Counter(w for t in pdf.text for w in t.split(" ") if w)
        vocab = {w: list(w) for w in wc}

        expect = []
        for rank in range(BPE_MERGES):
            pairs = Counter()
            for w, syms in vocab.items():
                for a, b in zip(syms, syms[1:]):
                    pairs[(a, b)] += wc[w]
            if not pairs:
                break
            # tie-break (count desc, a asc, b asc) — the operator's rule
            (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
            expect.append((rank, a, b, a + b, n))
            for w, syms in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                vocab[w] = out

        got = [
            (r["rank"], r.sym_a, r.sym_b, r.merged, r.pair_count)
            for r in bpe1_train_merges(spark, SF).orderBy("rank").collect()
        ]
        assert got == expect

    def test_merge_fold_greedy_semantics(self, spark):
        from reduction_dask_spark.operators.tokenizer import _apply_merge

        df = spark.createDataFrame([(["a", "a", "a"],), (["x", "a", "a", "y"],)], "s array<string>")
        out = [r.m for r in df.select(_apply_merge(F.col("s"), "a", "a").alias("m")).collect()]
        assert out == [["aa", "a"], ["x", "aa", "y"]]


class TestSplitAndQuality:
    def test_split_fracs_sum_to_one_per_lang(self, spark):
        from reduction_dask_spark.operators.text import spl1_stratified_split

        out = spl1_stratified_split(spark, SF).toPandas()
        assert set(out.split.unique()) <= {"train", "val", "test"}
        sums = out.groupby("lang").frac.sum()
        assert ((sums - 1.0).abs() < 1e-5).all()
        # train dominates at the 80/10/10 design point
        tr = out[out.split == "train"].set_index("lang").frac
        assert (tr > 0.5).all()

    def test_split_assignment_stable_under_corpus_growth(self, spark):
        """phash assignment depends only on doc_id: the same id maps to
        the same split at every sf (frozen eval sets as crawls grow)."""
        from reduction_dask_spark.functions import KNUTH
        from reduction_dask_spark.operators.text import SPLIT_MOD, TEST_LO, VAL_LO

        def split_of(doc_id):
            h = ((doc_id % SPLIT_MOD) * KNUTH) % SPLIT_MOD
            return "train" if h < VAL_LO else ("val" if h < TEST_LO else "test")

        assert split_of(123) == split_of(123)
        assert {split_of(i) for i in range(200)} == {"train", "val", "test"}

    def test_loglik_quality_best_lang_matches_t3(self, spark):
        from reduction_dask_spark.operators.text import (
            lp1_nb_loglik_quality,
            t3_lang_id_naive_bayes,
        )

        lp = lp1_nb_loglik_quality(spark, SF).toPandas().set_index("doc_id")
        t3 = t3_lang_id_naive_bayes(spark, SF).toPandas().set_index("doc_id")
        joined = lp.join(t3)
        assert (joined.best_lang == joined.pred_lang).all()
        # per-token log-likelihood is a log-probability: strictly negative
        assert (lp.per_token_ll < 0).all()


class TestForwardAsof:
    def test_matches_pandas_forward_scan(self, spark):
        from reduction_dask_spark.operators.temporal import (
            ASOF_TOL_US,
            j8_asof_forward_tolerance,
        )

        ev = load_table(spark, SF, "events").select(
            "event_id", "user_id", "ts", "event_type"
        ).toPandas()
        ev["us"] = ev.ts.astype("int64") // 1000
        out = j8_asof_forward_tolerance(spark, SF).toPandas().set_index("event_id")
        one = ev[ev.user_id == ev.user_id.iloc[0]].sort_values("us")
        purchases = one[one.event_type == "purchase"]
        for _, r in one.iterrows():
            later = purchases[purchases.us > r.us]
            got = out.loc[r.event_id]
            if len(later) and later.us.iloc[0] - r.us <= ASOF_TOL_US:
                assert got.next_purchase_id == later.event_id.iloc[0]
                assert got.gap_us == later.us.iloc[0] - r.us
            else:
                assert pd.isna(got.next_purchase_id)

    def test_gap_positive_and_within_tolerance(self, spark):
        from reduction_dask_spark.operators.temporal import (
            ASOF_TOL_US,
            j8_asof_forward_tolerance,
        )

        out = j8_asof_forward_tolerance(spark, SF).toPandas()
        hit = out.dropna(subset=["gap_us"])
        assert (hit.gap_us > 0).all()
        assert (hit.gap_us <= ASOF_TOL_US).all()


class TestOutliers:
    def test_flags_are_consistent_with_numpy_stats(self, spark):
        import numpy as np

        from reduction_dask_spark.operators.relational import Z_TAU, or1_grouped_outliers

        ev = load_table(spark, SF, "events").select("event_id", "event_type", "value").toPandas()
        out = or1_grouped_outliers(spark, SF).toPandas()
        for et, g in ev.groupby("event_type"):
            mu, sigma = g.value.mean(), g.value.std(ddof=1)
            q1, q3 = np.quantile(g.value, 0.25), np.quantile(g.value, 0.75)
            iqr = q3 - q1
            expect = g[
                (abs((g.value - mu) / sigma) > Z_TAU)
                | (g.value < q1 - 1.5 * iqr)
                | (g.value > q3 + 1.5 * iqr)
            ].event_id
            got = out[out.event_type == et].event_id
            assert set(got) == set(expect), et

    def test_every_row_has_at_least_one_flag(self, spark):
        from reduction_dask_spark.operators.relational import or1_grouped_outliers

        out = or1_grouped_outliers(spark, SF).toPandas()
        assert (out.z_outlier | out.iqr_outlier).all()


class TestIVM:
    def test_merge_handles_delta_only_groups(self, spark):
        """A group present only in one side must survive the full-outer
        merge with the other side's combiners treated as identity."""
        from reduction_dask_spark.operators.relational import (
            ivm1_incremental_agg_merge,
        )

        ev = load_table(spark, SF, "events").toPandas()
        out = ivm1_incremental_agg_merge(spark, SF).toPandas().set_index("event_type")
        direct = ev.groupby("event_type").value.agg(["count", "sum", "min", "max"])
        assert set(out.index) == set(direct.index)
        for et, r in direct.iterrows():
            assert out.loc[et, "n"] == r["count"]
            assert abs(out.loc[et, "sum_value"] - round(r["sum"], 2)) < 1e-6
            assert abs(out.loc[et, "min_value"] - round(r["min"], 6)) < 1e-9
            assert abs(out.loc[et, "max_value"] - round(r["max"], 6)) < 1e-9


class TestFusionProperties:
    def _reference_rrf(self, lex, vec, k, topk):
        """Pure-python RRF over {(qid, doc): rank} dicts."""
        from collections import defaultdict

        score = defaultdict(float)
        for (q, d), r in lex.items():
            score[(q, d)] += 1.0 / (k + r)
        for (q, d), r in vec.items():
            score[(q, d)] += 1.0 / (k + r)
        out = {}
        byq = defaultdict(list)
        for (q, d), s in score.items():
            byq[q].append((round(s, 6), d))
        for q, items in byq.items():
            items.sort(key=lambda t: (-t[0], t[1]))
            out[q] = [(d, s) for s, d in items[:topk]]
        return out

    def test_fuse_rankings_matches_reference_on_adversarial_lists(self, spark):
        """Disjoint lists, overlapping lists, ties on fused score, and a
        doc present in only one list — the fusion corner cases."""
        from reduction_dask_spark.operators.retrieval import fuse_rankings

        lex = {(1, 10): 1, (1, 11): 2, (1, 12): 3, (2, 20): 1, (3, 30): 1}
        vec = {(1, 11): 1, (1, 13): 2, (2, 21): 1, (3, 30): 1}
        lex_df = spark.createDataFrame(
            [(q, d, r) for (q, d), r in lex.items()], "qid long, doc_id long, lex_rank int"
        )
        vec_df = spark.createDataFrame(
            [(q, d, r) for (q, d), r in vec.items()], "qid long, doc_id long, vec_rank int"
        )
        got = fuse_rankings(lex_df, vec_df, k=60, topk=3).toPandas()
        expect = self._reference_rrf(lex, vec, 60, 3)
        for q, items in expect.items():
            g = got[got.qid == q].sort_values(["rrf", "doc_id"], ascending=[False, True])
            assert list(g.doc_id) == [d for d, _ in items], (q, list(g.doc_id), items)
            for (d, s), (_, r) in zip(items, g.iterrows()):
                assert abs(r.rrf - s) < 1e-9
        # doc 11 (in both lists at ranks 2 and 1) must beat every
        # single-list doc for query 1
        g1 = got[got.qid == 1]
        assert g1.sort_values("rrf", ascending=False).doc_id.iloc[0] == 11


class TestBPEAdversarial:
    def _python_bpe(self, wc, n_merges):
        from collections import Counter

        vocab = {w: list(w) for w in wc}
        out = []
        for rank in range(n_merges):
            pairs = Counter()
            for w, syms in vocab.items():
                for a, b in zip(syms, syms[1:]):
                    pairs[(a, b)] += wc[w]
            if not pairs:
                break
            (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
            out.append((rank, a, b, a + b, n))
            for w, syms in vocab.items():
                res, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        res.append(a + b)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                vocab[w] = res
        return out

    @pytest.mark.parametrize(
        "corpus",
        [
            {"aaaa": 3, "aa": 5},                  # overlapping self-merges
            {"ab": 2, "ba": 2, "aba": 2},          # tied pair counts
            {"x": 7, "y": 7},                      # nothing mergeable after chars
            {"abcabc": 1, "bca": 4, "cab": 4},     # rotating contexts
        ],
        ids=["self-overlap", "ties", "singletons", "rotations"],
    )
    def test_matches_python_on_adversarial_corpora(self, spark, corpus):
        from reduction_dask_spark.operators.tokenizer import bpe_train

        words = spark.createDataFrame(list(corpus.items()), "w string, wc long")
        got = bpe_train(words, n_merges=4)
        assert got == self._python_bpe(corpus, 4)


class TestPageRank:
    def test_matches_numpy_power_iteration(self, spark):
        import numpy as np

        from reduction_dask_spark.operators.graph import (
            PR_DAMPING,
            PR_ITERS,
            pagerank,
        )

        # small deterministic digraph with a dangling node (3) and a hub
        edges = [(0, 1), (0, 2), (1, 2), (2, 0), (4, 2), (4, 0)]
        n = 5
        nodes_df = spark.createDataFrame([(i,) for i in range(n)], "id long")
        edges_df = spark.createDataFrame(edges, "src long, dst long")
        got = {r.id: r.rank for r in pagerank(nodes_df, edges_df).collect()}

        r = np.full(n, 1.0 / n)
        deg = np.zeros(n)
        for s, _ in edges:
            deg[s] += 1
        for _ in range(PR_ITERS):
            dm = r[deg == 0].sum()
            inflow = np.zeros(n)
            for s, d in edges:
                inflow[d] += r[s] / deg[s]
            r = (1 - PR_DAMPING) / n + PR_DAMPING * (inflow + dm / n)
        for i in range(n):
            assert abs(got[i] - round(r[i], 8)) < 1e-7

    def test_registered_query_conserves_mass(self, spark):
        from reduction_dask_spark.operators.graph import gr1_neardup_pagerank

        out = gr1_neardup_pagerank(spark, SF).toPandas()
        n_vec = load_table(spark, SF, "embeddings").count()
        assert len(out) == n_vec
        assert abs(out["rank"].sum() - 1.0) < 1e-4
        assert (out["rank"] > 0).all()


class TestRollupAndDQ:
    def test_rollup_grains_are_consistent(self, spark):
        from reduction_dask_spark.operators.temporal import roll1_time_rollup

        out = roll1_time_rollup(spark, SF).toPandas()
        total = out[out.gid == 7]
        days = out[out.gid == 0]
        months = out[out.gid == 1]
        assert len(total) == 1
        assert total.n.iloc[0] == days.n.sum() == months.n.sum()
        assert abs(days.sum_value.sum() - total.sum_value.iloc[0]) < 1.0

    def test_w9_positions_match_pandas(self, spark):
        from reduction_dask_spark.operators.temporal import w9_first_last_nth

        ev = load_table(spark, SF, "events").select("event_id", "user_id", "ts", "event_type").toPandas()
        out = w9_first_last_nth(spark, SF).toPandas().set_index("event_id")
        g = ev[ev.user_id == ev.user_id.iloc[0]].sort_values(["ts", "event_id"])
        first, last = g.event_type.iloc[0], g.event_type.iloc[-1]
        second = g.event_type.iloc[1] if len(g) > 1 else None
        for eid in g.event_id:
            assert out.loc[eid, "first_type"] == first
            assert out.loc[eid, "last_type"] == last
            assert out.loc[eid, "second_type"] == second

    def test_dq2_clean_star_schema(self, spark):
        from reduction_dask_spark.operators.relational import dq2_referential_integrity

        out = dq2_referential_integrity(spark, SF).toPandas().set_index("check_name")
        # the synthetic star schema is FK-consistent by construction
        assert (out.n_bad == 0).all(), out


class TestAggVariants:
    def test_o2b_equals_window_form(self, spark):
        from reduction_dask_spark.operators.relational import (
            o2_topk_per_group,
            o2b_topk_per_group_agg,
        )

        a = set(map(tuple, o2_topk_per_group(spark, SF).collect()))
        b = set(map(tuple, o2b_topk_per_group_agg(spark, SF).collect()))
        assert a == b and len(a) > 0

    def test_o2b_plan_has_no_window(self, spark):
        from reduction_dask_spark.operators.relational import o2b_topk_per_group_agg
        from reduction_dask_spark.plans import simple_plan

        plan = simple_plan(o2b_topk_per_group_agg(spark, SF))
        assert "Window" not in plan
        assert "partial" in plan.lower() or "HashAggregate" in plan

    def test_a12_mode_matches_pandas(self, spark):
        from reduction_dask_spark.operators.relational import a12_mode_per_group

        ev = load_table(spark, SF, "events").select("event_type", "ts").toPandas()
        ev["dy"] = ev.ts.dt.day
        out = a12_mode_per_group(spark, SF).toPandas().set_index("event_type")
        for et, g in ev.groupby("event_type"):
            counts = g.groupby("dy").size().sort_index()
            best = counts[counts == counts.max()].index.min()
            assert out.loc[et, "mode_day"] == best
            assert out.loc[et, "n"] == counts.max()


class TestSketchRollup:
    def test_hll1_union_equals_direct_sketch(self, spark):
        """HLL union is lossless: the rolled-up (daily sketches →
        union) estimate EXACTLY equals the direct whole-column sketch
        estimate — the invariant that makes materialized sketch
        rollups safe to query instead of raw data."""
        from pyspark.sql import functions as F

        from reduction_dask_spark.operators.relational import hll1_sketch_rollup

        ev = load_table(spark, SF, "events")
        direct = {
            r["event_type"]: r["est"]
            for r in ev.groupBy("event_type")
            .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
            .collect()
        }
        rolled = {
            r["event_type"]: r["est_users"]
            for r in hll1_sketch_rollup(spark, SF).collect()
        }
        assert rolled == direct

    def test_hll1_estimate_within_tolerance(self, spark):
        """Estimates land within 5% of the exact distinct count
        (HLL lgK=12 rse ≈ 1.6%; 5% is a safe deterministic bound at
        these cardinalities)."""
        from pyspark.sql import functions as F

        from reduction_dask_spark.operators.relational import hll1_sketch_rollup

        ev = load_table(spark, SF, "events")
        exact = {
            r["event_type"]: r["n"]
            for r in ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        for et, est in (
            (r["event_type"], r["est_users"])
            for r in hll1_sketch_rollup(spark, SF).collect()
        ):
            assert abs(est - exact[et]) <= max(2, 0.05 * exact[et]), (et, est, exact[et])


class TestSnapshotDiff:
    def test_cdc1_change_counts_match_construction(self, spark):
        """The I/U/D partition of the changelog matches the synthetic
        snapshot transform exactly: D = keys %13==0, I = keys %31==0
        (cloned +10M), U = surviving keys with %7==0."""
        from reduction_dask_spark.operators.pipeline import cdc1_snapshot_diff

        keys = [
            r["c_custkey"]
            for r in load_table(spark, SF, "customer").select("c_custkey").collect()
        ]
        want = {
            "D": sum(1 for k in keys if k % 13 == 0),
            "I": sum(1 for k in keys if k % 31 == 0),
            "U": sum(1 for k in keys if k % 13 != 0 and k % 7 == 0),
        }
        out = cdc1_snapshot_diff(spark, SF).collect()
        got = {}
        for r in out:
            got[r["change_type"]] = got.get(r["change_type"], 0) + 1
        assert got == want
        for r in out:
            if r["change_type"] == "I":
                assert r["old_acctbal"] is None and r["new_acctbal"] is not None
            elif r["change_type"] == "D":
                assert r["new_acctbal"] is None and r["old_acctbal"] is not None
            else:
                assert abs(r["new_acctbal"] - r["old_acctbal"] - 100.0) < 1e-9


def py_apply_merge(sym: list, a: str, b: str) -> list:
    """Greedy left-to-right merge of adjacent (a, b) → a+b — the pure-
    Python twin of tokenizer._apply_merge (same semantics)."""
    out: list = []
    for x in sym:
        if out and out[-1] == a and x == b:
            out[-1] = a + b
        else:
            out.append(x)
    return out


def bpe_encode(d: DataFrame, merges: list[tuple], text_col: str = "text") -> DataFrame:
    """The per-occurrence reference encoder the JVM vocab-quotient
    encoder is pinned to: split to words → chars, apply the merges in
    rank order (Sennrich apply semantics, matching bpe_train's fold)
    to every word occurrence, emit per-doc token stats. One
    mapInPandas pass with the merge table broadcast."""
    table = [(m[1], m[2]) for m in sorted(merges, key=lambda m: m[0])]
    sc = d.sparkSession.sparkContext
    bc = sc.broadcast(table)

    def encode(batches):
        import pandas as pd

        tbl = bc.value
        for pdf in batches:
            n_tokens, n_chars = [], []
            for text in pdf[text_col]:
                total = 0
                chars = 0
                for w in (text or "").split(" "):
                    if not w:
                        continue
                    s = list(w)
                    chars += len(s)
                    for a, b in tbl:
                        s = py_apply_merge(s, a, b)
                    total += len(s)
                n_tokens.append(total)
                n_chars.append(chars)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "n_tokens": n_tokens, "n_chars": n_chars}
            )

    return d.select("doc_id", text_col).mapInPandas(
        encode, schema="doc_id bigint, n_tokens bigint, n_chars bigint"
    )


class TestBPEEncode:
    def test_encoder_total_matches_jvm_fold_vocab(self, spark):
        """Two independent implementations of the merge semantics must
        agree corpus-wide: the PYTHON per-occurrence encoder's
        (bpe_encode — py_apply_merge) token total equals
        sum(wc × |final symbols|) where the final symbol arrays come
        from the JVM _apply_merge expression fold. (r13: targets
        bpe_encode directly — the registered bpe2 now rides the JVM
        fold's vocab itself, so testing it here would be circular.)"""
        from reduction_dask_spark.operators.tokenizer import _apply_merge, bpe_train

        d = load_table(spark, SF, "documents")
        words = (
            d.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
            .filter(F.length("w") > 0)
            .groupBy("w")
            .agg(F.count("*").alias("wc"))
        )
        merges = bpe_train(words)
        vocab = words.select("wc", F.split("w", "").alias("s"))
        for _, a, b, _m, _n in merges:
            vocab = vocab.select(
                "wc", _apply_merge(F.col("s"), a, b).alias("s")
            ).localCheckpoint(eager=True)
        jvm_total = vocab.select(
            F.sum(F.col("wc") * F.size("s")).alias("t")
        ).collect()[0]["t"]
        enc_total = (
            bpe_encode(d, merges)
            .agg(F.sum("n_tokens").alias("t"))
            .collect()[0]["t"]
        )
        assert enc_total == jvm_total

    def test_vocab_quotient_matches_direct_encoder(self, spark):
        """r13 perf rewrite pin: the vocab-quotient encoder
        (bpe_encode_vocab — JVM fold vocab + explode/join/sum) must be
        value-identical PER DOC to the direct per-occurrence Python
        encoder (bpe_encode) on the real corpus."""
        from reduction_dask_spark.operators.tokenizer import (
            bpe_encode_vocab,
            bpe_train_full,
        )

        d = load_table(spark, SF, "documents")
        words = (
            d.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
            .filter(F.length("w") > 0)
            .groupBy("w")
            .agg(F.count("*").alias("wc"))
        )
        merges, final_vocab = bpe_train_full(words)
        direct = {
            r["doc_id"]: (r["n_tokens"], r["n_chars"])
            for r in bpe_encode(d, merges).collect()
        }
        quotient = {
            r["doc_id"]: (r["n_tokens"], r["n_chars"])
            for r in bpe_encode_vocab(d, final_vocab, check_coverage=True).collect()
        }
        assert direct == quotient

    def test_vocab_quotient_coverage_guard(self, spark):
        """r13 ADVICE pin: a vocab that does NOT cover the corpus must
        raise under check_coverage=True instead of silently
        undercounting via the inner join (and the default path keeps
        the documented silent-drop contract)."""
        from reduction_dask_spark.operators.tokenizer import (
            bpe_encode_vocab,
            bpe_train_full,
            word_counts,
        )

        d = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "alpha delta zzznovel")],
            "doc_id bigint, text string",
        )
        # train on doc 1 only -> vocab misses doc 2's unseen words
        _, partial_vocab = bpe_train_full(word_counts(d.filter("doc_id = 1")))
        with pytest.raises(ValueError, match="coverage contract"):
            bpe_encode_vocab(d, partial_vocab, check_coverage=True).collect()
        # matching corpus passes the guard
        _, full_vocab = bpe_train_full(word_counts(d))
        out = bpe_encode_vocab(d, full_vocab, check_coverage=True)
        assert out.count() == d.count()

    def test_tokens_concatenate_back_to_words(self):
        """py_apply_merge never loses or reorders characters."""
        for w in ("banana", "aaaa", "mississippi", "x"):
            s = list(w)
            for a, b in (("a", "n"), ("an", "an"), ("s", "s"), ("a", "a")):
                s = py_apply_merge(s, a, b)
            assert "".join(s) == w
