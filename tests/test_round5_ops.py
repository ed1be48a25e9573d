"""Property tests for the round-5 operator batch (dd10, bf1, emb3, gq1).

Oracle equality is covered by test_oracle.py (every registered oracle
runs against DuckDB at sf0.001); these tests pin the ALGORITHMIC claims
the oracles can't see — prefix-filter recall/pruning, Bloom candidate
bounds, quantization error bounds, rule-attribution invariants.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from reduction_dask_spark.operators.dedup import (
    JACCARD_TAU,
    dd10_prefix_filter_pairs,
    jaccard_pairs,
    shingle_table,
)
from reduction_dask_spark.operators.relational import (
    _bloom_word_expr,
    bf1_bloom_prune_join,
)
from reduction_dask_spark.operators.similarity import emb3_int8_quantize
from reduction_dask_spark.operators.text import gq1_gopher_rules
from reduction_dask_spark.sources import load_table

from .conftest import SF_SMALL


class TestDd10PrefixFilter:
    def test_matches_full_inverted_index_join(self, spark):
        """Prefix filtering is exact-recall: identical pair set to the
        full-index Jaccard join at the same tau."""
        got = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in dd10_prefix_filter_pairs(spark, SF_SMALL).collect()
        }
        want = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in jaccard_pairs(
                shingle_table(spark, SF_SMALL).persist(), tau=JACCARD_TAU
            ).collect()
        }
        assert got == want
        spark.catalog.clearCache()

    def test_prefix_index_is_smaller(self, spark):
        """The joined prefix slice must be well under the full index —
        that's the whole point (pair mass ~ sum df^2 over joined keys)."""
        sh = shingle_table(spark, SF_SMALL).persist()
        full = sh.count()
        n = sh.groupBy("doc_id").count().selectExpr("sum(count - ((7*count+9) div 10) + 1)").first()[0]
        assert n < 0.45 * full, (n, full)
        spark.catalog.clearCache()


class TestBf1Bloom:
    def test_bloom_candidates_superset_and_small(self, spark):
        orders = load_table(spark, SF_SMALL, "orders")
        keys = (
            load_table(spark, SF_SMALL, "customer")
            .filter(F.col("c_acctbal") > 9000)
            .select("c_custkey")
        )
        bucket, word = _bloom_word_expr("c_custkey")
        bloom = keys.select(bucket, word.alias("w")).groupBy("bf_bucket").agg(
            F.bit_or("w").alias("bf_word")
        )
        pbucket, pword = _bloom_word_expr("o_custkey")
        cand = (
            orders.select("*", pbucket)
            .join(F.broadcast(bloom), "bf_bucket")
            .filter(pword.bitwiseAND(F.col("bf_word")) != 0)
        )
        n_cand = cand.count()
        n_exact = orders.join(
            keys, orders.o_custkey == keys.c_custkey, "left_semi"
        ).count()
        n_total = orders.count()
        # no false negatives, and the filter actually prunes
        assert n_exact <= n_cand
        assert n_cand < n_total

    def test_bf1_runs(self, spark):
        rows = bf1_bloom_prune_join(spark, SF_SMALL).collect()
        assert sum(r.n_orders for r in rows) > 0


class TestEmb3Quantize:
    def test_code_range_and_error_bound(self, spark):
        rows = emb3_int8_quantize(spark, SF_SMALL).collect()
        assert rows
        for r in rows:
            assert -127 <= r.q_min <= r.q_max <= 127
            # round-to-nearest => per-element error <= scale/2
            assert r.mse <= (r.scale / 2) ** 2 + 1e-9, r


class TestGq1Rules:
    def test_attribution_invariants(self, spark):
        rows = {r.rule: r for r in gq1_gopher_rules(spark, SF_SMALL).collect()}
        assert set(rows) == {"n_words", "mean_word_len", "stopwords", "alpha_ratio"}
        n_docs = load_table(spark, SF_SMALL, "documents").count()
        survivors = next(iter(rows.values())).n_survivors
        for r in rows.values():
            assert 0 <= r.n_sole_fail <= r.n_fail <= n_docs
            assert r.n_survivors == survivors
        # survivors + union-of-fails == total
        assert survivors <= n_docs
        assert survivors + max(r.n_fail for r in rows.values()) <= n_docs + sum(
            r.n_fail for r in rows.values()
        )


class TestGr3Kcore:
    def test_python_peeling_parity(self, spark):
        """Exact parity with driver-side python peeling at sf0.001."""
        from reduction_dask_spark.operators.dedup import (
            JACCARD_TAU,
            jaccard_pairs,
            shingle_table,
        )
        from reduction_dask_spark.operators.graph import KCORE_K, gr3_kcore

        pairs = [
            (r.doc_a, r.doc_b)
            for r in jaccard_pairs(
                shingle_table(spark, SF_SMALL).persist(), tau=JACCARD_TAU
            ).collect()
        ]
        adj: dict[int, set[int]] = {}
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        changed = True
        while changed:
            changed = False
            for n in [n for n, ns in adj.items() if len(ns) < KCORE_K]:
                for m in adj.pop(n):
                    if m in adj:
                        adj[m].discard(n)
                changed = True
        want = {(n, len(ns)) for n, ns in adj.items()}
        got = {(r.doc_id, r.deg) for r in gr3_kcore(spark, SF_SMALL).collect()}
        assert got == want
        spark.catalog.clearCache()

    def test_kcore_subset_of_nodes(self, spark):
        from reduction_dask_spark.operators.graph import KCORE_K, gr3_kcore

        rows = gr3_kcore(spark, SF_SMALL).collect()
        for r in rows:
            assert r.deg >= KCORE_K
        spark.catalog.clearCache()


class TestRs1Kmv:
    def test_sharded_bottomk_equals_global(self, spark):
        """Mergeability: bottom-k of per-shard bottom-k's == global
        bottom-k (the property that lets per-day sketches roll up)."""
        from reduction_dask_spark.functions import md5i
        from reduction_dask_spark.operators.relational import KMV_K, rs1_kmv_bottomk

        ev = load_table(spark, SF_SMALL, "events")
        hk = (md5i("event_id") * F.lit(268435456) + F.col("event_id") % 268435456).alias("hk")
        direct = [
            r.event_id
            for r in ev.select("event_id", hk).orderBy("hk", "event_id").limit(KMV_K).collect()
        ]
        got = sorted(r.event_id for r in rs1_kmv_bottomk(spark, SF_SMALL).collect())
        assert got == sorted(direct)

    def test_kmv_estimate_reasonable(self, spark):
        """KMV rse ~ 1/sqrt(k-1) ≈ 13% at k=64; allow 4 sigma."""
        from reduction_dask_spark.operators.relational import rs1_kmv_bottomk

        rows = rs1_kmv_bottomk(spark, SF_SMALL).collect()
        est = rows[0].kmv_est
        true = load_table(spark, SF_SMALL, "events").select("event_id").distinct().count()
        assert abs(est - true) / true < 0.52, (est, true)


class TestKll1Sketch:
    def test_forced_compaction_error_bound(self):
        """With capacity forced far below n, the deterministic
        compactor's median rank error stays within the per-pass
        bound (sum of max item weight per pass <= n/cap * cap-ish;
        assert a generous 2*n/cap ranks)."""
        import numpy as np

        from reduction_dask_spark.operators.relational import _qsk_compact

        rng = np.random.default_rng(42)
        n, cap = 20000, 256
        x = rng.uniform(0, 1, n)
        v, w = _qsk_compact(x.copy(), np.ones(n, dtype=np.int64), cap)
        assert len(v) <= cap
        assert int(w.sum()) == n
        cum = np.cumsum(w)
        est = v[int(np.searchsorted(cum, (50 * n + 99) // 100))]
        true_rank = int(np.searchsorted(np.sort(x), est))
        assert abs(true_rank - n // 2) <= 2 * n / cap * 8, (true_rank, n // 2)

    def test_exact_below_capacity(self, spark):
        """At sf0.001 no compaction triggers: sketch quantiles equal
        exact nearest-rank quantiles of the raw column."""
        import numpy as np

        from reduction_dask_spark.operators.relational import (
            QSK_PCTS,
            kll1_quantile_sketch_rollup,
        )

        vals = np.sort(
            np.array(
                [r.value for r in load_table(spark, SF_SMALL, "events").select("value").collect()]
            )
        )
        n = len(vals)
        got = {r.q_pct: r.est for r in kll1_quantile_sketch_rollup(spark, SF_SMALL).collect()}
        for pct in QSK_PCTS:
            assert got[pct] == round(vals[(pct * n + 99) // 100 - 1], 6)


class TestRs2Overlap:
    def test_estimate_tracks_true_overlap(self, spark):
        """KMV intersection estimate within 4-sigma-ish of truth for
        every segment pair (rse ~ sqrt(est)/rho-scaled; generous)."""
        from reduction_dask_spark.operators.relational import rs2_kmv_overlap

        ev = load_table(spark, SF_SMALL, "events")
        rows = rs2_kmv_overlap(spark, SF_SMALL).collect()
        assert rows
        truth = {}
        for r in rows:
            a = {
                x.user_id
                for x in ev.filter(F.col("event_type") == r.type_a)
                .select("user_id").distinct().collect()
            }
            b = {
                x.user_id
                for x in ev.filter(F.col("event_type") == r.type_b)
                .select("user_id").distinct().collect()
            }
            truth[(r.type_a, r.type_b)] = len(a & b)
        for r in rows:
            t = truth[(r.type_a, r.type_b)]
            assert abs(r.est_inter - t) <= max(10, 0.6 * t), (r, t)


class TestMm5Phash:
    def test_numpy_end_to_end_parity(self, spark):
        """Hashes AND the hd<=3 pair set match a pure-numpy all-pairs
        computation (banded pigeonhole is lossless for hd <= bands-1)."""
        from reduction_dask_spark.operators.multimodal import (
            PHASH_TAU,
            blob_table,
            mm5_image_phash_neardup,
            phash64,
        )

        blobs = blob_table(spark, SF_SMALL).filter(F.col("kind") == "image").collect()
        want_h = {r.doc_id: phash64(bytes(r.payload)) for r in blobs}
        ids = sorted(want_h)
        want_pairs = set()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                hd = bin((want_h[a] ^ want_h[b]) & 0xFFFFFFFFFFFFFFFF).count("1")
                if hd <= PHASH_TAU:
                    want_pairs.add((a, b, hd))
        got = {
            (r.doc_a, r.doc_b, r.hd)
            for r in mm5_image_phash_neardup(spark, SF_SMALL).collect()
        }
        assert got == want_pairs
        spark.catalog.clearCache()


class TestPit1:
    def test_no_leakage(self, spark):
        """Every joined feature day is STRICTLY before the label day."""
        from reduction_dask_spark.operators.temporal import pit1_point_in_time_join

        ev = load_table(spark, SF_SMALL, "events")
        lab_day = {
            r.event_id: r.d
            for r in ev.filter(F.col("event_type") == "purchase")
            .select(
                "event_id",
                F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("d"),
            )
            .collect()
        }
        rows = pit1_point_in_time_join(spark, SF_SMALL).collect()
        assert rows
        n_matched = 0
        for r in rows:
            if r.feat_day is not None:
                assert r.feat_day < lab_day[r.event_id], r
                n_matched += 1
        assert n_matched > 0


class TestSky1:
    def test_brute_force_dominance_parity(self, spark):
        """Front equals the O(n^2) dominance definition at sf0.001."""
        from reduction_dask_spark.operators.relational import sky1_pareto_front

        parts = [
            (r.p_partkey, r.p_retailprice, r.p_size)
            for r in load_table(spark, SF_SMALL, "part")
            .select("p_partkey", "p_retailprice", "p_size")
            .collect()
        ]
        want = set()
        for k, pr, sz in parts:
            dominated = any(
                (qr <= pr and qs <= sz and (qr < pr or qs < sz))
                for _, qr, qs in parts
            )
            if not dominated:
                want.add((k, pr, sz))
        got = {
            (r.p_partkey, r.price, r.size)
            for r in sky1_pareto_front(spark, SF_SMALL).collect()
        }
        assert got == want


class TestIvl1:
    def test_coverage_bounds(self, spark):
        """Covered time per user is bounded by n_events*len and by the
        observed span plus one interval length."""
        from reduction_dask_spark.operators.temporal import (
            IVL_LEN_S,
            ivl1_interval_union,
        )

        ev = load_table(spark, SF_SMALL, "events")
        spans = {
            r.user_id: (r.n, r.span_us)
            for r in ev.groupBy("user_id")
            .agg(
                F.count("*").alias("n"),
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("span_us"),
            )
            .collect()
        }
        rows = ivl1_interval_union(spark, SF_SMALL).collect()
        assert rows
        for r in rows:
            n, span = spans[r.user_id]
            assert 1 <= r.n_islands <= n
            assert IVL_LEN_S * 1_000_000 <= r.covered_us <= n * IVL_LEN_S * 1_000_000
            assert r.covered_us <= span + IVL_LEN_S * 1_000_000


class TestAuc1:
    def test_sklearn_free_numpy_parity(self, spark):
        """Midrank AUC equals the direct numpy rank-sum computation."""
        import numpy as np

        from reduction_dask_spark.operators.metrics import auc1_roc_auc

        rows = (
            load_table(spark, SF_SMALL, "events")
            .select("value", "event_type")
            .collect()
        )
        score = np.array([r.value for r in rows])
        y = np.array([1 if r.event_type == "purchase" else 0 for r in rows])
        order = np.argsort(score, kind="mergesort")
        ranks = np.empty(len(score))
        sorted_s = score[order]
        i = 0
        rank_val = np.empty(len(score))
        while i < len(sorted_s):
            j = i
            while j < len(sorted_s) and sorted_s[j] == sorted_s[i]:
                j += 1
            rank_val[i:j] = (i + 1 + j) / 2.0
            i = j
        ranks[order] = rank_val
        npos, nneg = int(y.sum()), int((1 - y).sum())
        want = (ranks[y == 1].sum() - npos * (npos + 1) / 2) / (npos * nneg)
        got = auc1_roc_auc(spark, SF_SMALL).collect()[0]
        assert got.npos == npos and got.nneg == nneg
        assert abs(got.auc - want) < 1e-6, (got.auc, want)


class TestMg1:
    def test_candidate_bound(self, spark):
        """The MG candidate union is bounded by shards x k regardless
        of vocabulary size."""
        from reduction_dask_spark.operators.text import MG_K, MG_SHARDS, mg1_heavy_hitters
        from reduction_dask_spark.operators.text import tokens as _toks

        d = load_table(spark, SF_SMALL, "documents")
        vocab = d.select(F.explode(_toks(F.col("text"))).alias("t")).distinct().count()
        rows = mg1_heavy_hitters(spark, SF_SMALL).collect()
        assert len(rows) <= MG_SHARDS * MG_K
        # the op returns heavy hitters only; sanity: far fewer than vocab
        assert len(rows) < vocab


class TestT13SoftDedup:
    def test_unique_contents_always_kept(self, spark):
        """n_dups==1 rows keep probability 1; kept count per group is
        at most the group size."""
        from reduction_dask_spark.operators.dedup import t13_dedup_weighted_sample
        from reduction_dask_spark.operators.text import normalized_fingerprint

        d = load_table(spark, SF_SMALL, "documents")
        groups = {
            r.fingerprint: r.n
            for r in d.select(normalized_fingerprint(F.col("text")).alias("fingerprint"))
            .groupBy("fingerprint")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        n_unique_contents = sum(1 for n in groups.values() if n == 1)
        rows = t13_dedup_weighted_sample(spark, SF_SMALL).collect()
        kept_unique = sum(1 for r in rows if r.n_dups == 1)
        assert kept_unique == n_unique_contents
        assert len(rows) <= sum(groups.values())


def test_ndcg1_matches_python_reimplementation(spark):
    """ndcg1's metrics equal an independent python computation over the
    collected exact/approx rankings; perfect-retrieval queries score
    exactly 1.0 everywhere."""
    import math

    from reduction_dask_spark.operators.similarity import (
        TOP_K,
        brute_force_topk,
        ndcg1_ann_quality,
        ss4_cosine_topk_ivf,
    )

    def ranking(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["qid"], []).append((-r["cos"], r["neighbor_id"]))
        return {q: [nid for _, nid in sorted(v)] for q, v in out.items()}

    exact = ranking(brute_force_topk(spark, SF_SMALL))
    approx = ranking(ss4_cosine_topk_ivf(spark, SF_SMALL))
    got = {r["qid"]: r for r in ndcg1_ann_quality(spark, SF_SMALL).collect()}
    idcg = sum((TOP_K - r + 1) / math.log2(r + 1) for r in range(1, TOP_K + 1))
    assert set(got) == set(exact)
    for q, ex in exact.items():
        ap = approx.get(q, [])
        ex_rank = {nid: i + 1 for i, nid in enumerate(ex)}
        recall = sum(1 for nid in ap if nid in ex_rank) / TOP_K
        mrr = max((1.0 / (i + 1) for i, nid in enumerate(ap) if ex_rank.get(nid) == 1), default=0.0)
        dcg = sum(
            (TOP_K - ex_rank[nid] + 1) / math.log2(i + 2)
            for i, nid in enumerate(ap) if nid in ex_rank
        )
        row = got[q]
        assert abs(row["recall_at_k"] - round(recall, 6)) <= 1e-9
        assert abs(row["mrr"] - round(mrr, 6)) <= 1e-9
        assert abs(row["ndcg"] - round(dcg / idcg, 6)) <= 1e-6
        if ap == ex:
            assert (row["recall_at_k"], row["mrr"], row["ndcg"]) == (1.0, 1.0, 1.0)
    # the testdata IVF setup must retrieve SOMETHING real
    assert any(r["recall_at_k"] > 0 for r in got.values())


def test_cur1_schedule_invariants(spark):
    from reduction_dask_spark.operators.text import CUR_PHASES, cur1_curriculum_sample

    rows = cur1_curriculum_sample(spark, SF_SMALL).collect()
    assert len(rows) == 30
    by_phase = {}
    for r in rows:
        assert 1 <= r["decile"] <= 10
        assert 0 <= r["n_sampled"] <= r["n_docs"]
        if r["rate"] == 1.0:
            assert r["n_sampled"] == r["n_docs"]
        by_phase.setdefault(r["phase"], {})[r["decile"]] = r
    assert set(by_phase) == set(CUR_PHASES)
    # decile populations are phase-independent (same corpus partition)
    for d in range(1, 11):
        counts = {p: by_phase[p][d]["n_docs"] for p in CUR_PHASES}
        assert len(set(counts.values())) == 1
    # warmup is clean-heavy: decile-10 keep-rate 1.0 vs bottom 0.02
    assert by_phase["warmup"][10]["rate"] == 1.0
    assert by_phase["warmup"][1]["rate"] == 0.02
    n1, s1 = by_phase["warmup"][1]["n_docs"], by_phase["warmup"][1]["n_sampled"]
    assert s1 < n1  # low decile actually thinned


def test_deval1_invariants(spark):
    from reduction_dask_spark.operators.dedup import deval1_dedup_quality

    rows = {r["method"]: r for r in deval1_dedup_quality(spark, SF_SMALL).collect()}
    assert set(rows) == {"minhash_lsh", "simhash", "prefix_filter"}
    n_true = {r["n_true"] for r in rows.values()}
    assert len(n_true) == 1 and n_true.pop() > 0
    pf = rows["prefix_filter"]
    assert (pf["precision"], pf["recall"], pf["f1"]) == (1.0, 1.0, 1.0)
    for r in rows.values():
        assert r["tp"] <= min(r["n_pred"], r["n_true"])
        assert 0.0 <= r["precision"] <= 1.0 and 0.0 <= r["recall"] <= 1.0
        assert r["f1"] <= max(r["precision"], r["recall"]) + 1e-9
    # dd3's banded LSH + exact verify: precision is 1 by construction
    assert rows["minhash_lsh"]["precision"] == 1.0


def test_zipf1_matches_numpy(spark):
    import numpy as np

    from reduction_dask_spark.operators.text import zipf1_token_zipf
    from reduction_dask_spark.sources import load_table
    from pyspark.sql import functions as F

    got = zipf1_token_zipf(spark, SF_SMALL).collect()[0]
    toks = (
        load_table(spark, SF_SMALL, "documents")
        .select(F.explode(F.split("text", " ")).alias("t"))
        .groupBy("t").count().toPandas()
    )
    f = np.sort(toks["count"].to_numpy())[::-1].astype(float)
    lx, ly = np.log(np.arange(1, len(f) + 1)), np.log(f)
    slope = np.cov(lx, ly, ddof=1)[0, 1] / np.var(lx, ddof=1)
    assert got["n_types"] == len(f)
    assert abs(got["zipf_slope"] - slope) < 1e-5


def test_wnw1_winnowing_guarantees(spark):
    """Winnowing contract (SIGMOD'03): every window of w consecutive
    k-gram hashes contributes a selected print, and two documents
    sharing a token run of >= w + k - 1 share a fingerprint VALUE."""
    from reduction_dask_spark.operators.dedup import WNW_K, WNW_W, wnw1_winnow_fingerprints
    from reduction_dask_spark.sources import load_table

    sel = wnw1_winnow_fingerprints(spark, SF_SMALL).toPandas()
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text").toPandas()
    by_doc = {d: set(g["pos"]) for d, g in sel.groupby("doc_id")}
    fps = {d: set(g["fp"]) for d, g in sel.groupby("doc_id")}
    # window coverage: every w-window of each doc contains a selection
    for _, row in docs.head(30).iterrows():
        n_tok = len(row["text"].split(" "))
        ng = n_tok - WNW_K + 1
        if ng < 1:
            continue
        pos = by_doc[row["doc_id"]]
        for start in range(1, max(ng - WNW_W + 1, 1) + 1):
            assert any(start <= p <= start + WNW_W - 1 for p in pos), (row["doc_id"], start)
        # density well below the full k-gram set on long docs
        if ng > 5 * WNW_W:
            assert len(pos) < ng
    # shared-substring guarantee across two real docs that share a run:
    # construct it by checking pairs with identical 6-token windows
    tok_runs = {}
    run = WNW_W + WNW_K - 1
    for _, row in docs.iterrows():
        toks = row["text"].split(" ")
        for i in range(len(toks) - run + 1):
            tok_runs.setdefault(tuple(toks[i:i + run]), set()).add(row["doc_id"])
    shared = [ds for ds in tok_runs.values() if len(ds) > 1]
    assert shared, "testdata has no shared runs; guarantee untestable"
    for ds in shared[:50]:
        ds = sorted(ds)
        for other in ds[1:]:
            assert fps[ds[0]] & fps[other], (ds[0], other)


def test_match1_matches_pandas_reimplementation(spark):
    """ATT/matching equal an independent pandas implementation over
    the same per-user aggregates (oracle independence mitigation:
    this ground truth shares no SQL with either engine)."""
    from reduction_dask_spark.operators.metrics import (
        MATCH_CALIPER,
        match1_caliper_matching,
    )
    from reduction_dask_spark.sources import load_table
    from pyspark.sql import functions as F

    got = match1_caliper_matching(spark, SF_SMALL).collect()[0]
    ev = load_table(spark, SF_SMALL, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    ).toPandas().sort_values(["user_id", "ts", "event_id"])
    first = ev.groupby("user_id").first()
    agg = ev.groupby("user_id").apply(
        lambda g: __import__("pandas").Series({
            "s": int(g["event_type"].isin(["click", "view"]).sum()),
            "y": round(float(g.loc[g["event_type"] == "purchase", "value"].sum()), 2),
        }),
        include_groups=False,
    )
    agg["t"] = (first["event_type"] == "signup").astype(int)
    u = agg.reset_index()
    treated = u[u["t"] == 1]
    controls = u[u["t"] == 0].sort_values(["s", "user_id"]).reset_index(drop=True)
    diffs = []
    for _, row in treated.iterrows():
        cand = controls[(controls["s"] - row["s"]).abs() <= MATCH_CALIPER].copy()
        if cand.empty:
            continue
        cand["d"] = (cand["s"] - row["s"]).abs()
        best = cand.sort_values(["d", "user_id"]).iloc[0]
        diffs.append(row["y"] - best["y"])
    assert got["n_treated"] == len(treated)
    assert got["n_matched"] == len(diffs)
    import numpy as np

    if diffs:
        assert abs(got["att"] - round(float(np.mean(diffs)), 6)) <= 1e-6
    else:
        assert got["att"] is None  # avg over empty matched set, both engines
    naive = treated["y"].mean() - u[u["t"] == 0]["y"].mean()
    assert abs(got["naive_diff"] - round(float(naive), 6)) <= 1e-6


def test_calib1_matches_numpy(spark):
    import numpy as np

    from reduction_dask_spark.operators.metrics import CALIB_BINS, calib1_reliability_table
    from reduction_dask_spark.sources import load_table

    got = {r["bin"]: r for r in calib1_reliability_table(spark, SF_SMALL).collect()}
    ev = load_table(spark, SF_SMALL, "events").select("value", "event_type").toPandas()
    score = np.minimum(1.0, ev["value"].to_numpy() / 200.0)
    y = (ev["event_type"] == "purchase").to_numpy().astype(float)
    bins = np.minimum(CALIB_BINS - 1, np.floor(score * CALIB_BINS).astype(int))
    n = len(score)
    ece = 0.0
    for b in np.unique(bins):
        m = bins == b
        r = got[int(b)]
        assert r["n"] == int(m.sum())
        assert abs(r["mean_score"] - float(score[m].mean())) <= 1.1e-6
        assert abs(r["frac_pos"] - float(y[m].mean())) <= 1.1e-6
        ece += abs(score[m].mean() - y[m].mean()) * m.sum() / n
    total = sum(r["ece_contrib"] for r in got.values())
    assert abs(total - ece) <= 1e-5


def test_f17_oof_encoding_excludes_own_fold(spark):
    """Leakage check: a row's encoding equals the target mean over the
    OTHER folds of its category — never including its own fold."""
    from reduction_dask_spark.operators.relational import TE_FOLDS, f17_target_encode_oof
    from reduction_dask_spark.functions import KNUTH
    from reduction_dask_spark.sources import load_table

    got = f17_target_encode_oof(spark, SF_SMALL).toPandas()
    ev = load_table(spark, SF_SMALL, "events").select("event_id", "event_type", "value").toPandas()
    ev["fold"] = (ev["event_id"] % TE_FOLDS) * KNUTH % TE_FOLDS
    for (etype, fold), g in got.groupby(["event_type", "fold"]):
        other = ev[(ev["event_type"] == etype) & (ev["fold"] != fold)]
        assert len(other) > 0
        expect = round(float(other["value"].mean()), 6)
        assert (g["te"] - expect).abs().max() <= 2e-6, (etype, fold)
        # and it differs from the WITH-leak (full-category) mean
    full = ev.groupby("event_type")["value"].mean()
    merged = got.merge(full.rename("full_mean"), left_on="event_type", right_index=True)
    assert (merged["te"] != merged["full_mean"].round(6)).any()


def test_emb4_matches_numpy_end_to_end(spark):
    """The distributed co-occurrence + driver PPMI-SVD equals a pure
    pandas/numpy implementation over the raw text, end to end."""
    import numpy as np

    from reduction_dask_spark.operators.text import (
        EMB4_DIM,
        EMB4_VOCAB,
        EMB4_WINDOW,
        emb4_pmi_svd_embeddings,
    )
    from reduction_dask_spark.sources import load_table

    got = {r["token"]: np.array(r["vector"]) for r in emb4_pmi_svd_embeddings(spark, SF_SMALL).collect()}
    docs = load_table(spark, SF_SMALL, "documents").select("text").toPandas()["text"]
    from collections import Counter

    freq = Counter()
    for t in docs:
        freq.update(t.split(" "))
    vocab = set([w for w, _ in sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:EMB4_VOCAB]])
    co = Counter()
    for t in docs:
        toks = t.split(" ")
        for i, x in enumerate(toks):
            for k in range(1, EMB4_WINDOW + 1):
                if i + k < len(toks):
                    y = toks[i + k]
                    if x in vocab and y in vocab:
                        co[(x, y)] += 1
    words = sorted({x for x, _ in co} | {y for _, y in co})
    idx = {w: i for i, w in enumerate(words)}
    C = np.zeros((len(words), len(words)))
    for (x, y), n in co.items():
        C[idx[x], idx[y]] += n
    C = C + C.T
    pa = C.sum(axis=1) / C.sum()
    with np.errstate(divide="ignore", invalid="ignore"):
        pmi = np.log((C / C.sum()) / np.outer(pa, pa))
    ppmi = np.where(np.isfinite(pmi), np.maximum(pmi, 0.0), 0.0)
    np.testing.assert_allclose(ppmi, ppmi.T, atol=1e-12)  # symmetry invariant
    vals, vecs = np.linalg.eigh(ppmi)
    order = np.argsort(vals)[::-1][:EMB4_DIM]
    vals, vecs = np.maximum(vals[order], 0.0), vecs[:, order]
    for i in range(vecs.shape[1]):
        j = int(np.argmax(np.abs(vecs[:, i])))
        if vecs[j, i] < 0:
            vecs[:, i] = -vecs[:, i]
    emb = vecs * np.sqrt(vals)[None, :]
    assert set(got) == set(words)
    for w in words:
        np.testing.assert_allclose(got[w], np.round(emb[idx[w]], 6), atol=2e-6)


def test_star_components_matches_minlabel_and_unionfind(spark):
    """The two distributed CC algorithms (min-label propagation and
    large-star/small-star) and a python union-find must agree on
    random graphs, including adversarial CHAINS (large diameter) where
    min-label needs O(diameter) rounds."""
    import numpy as np

    from reduction_dask_spark.operators.dedup import min_label_components
    from reduction_dask_spark.operators.graph import star_components

    rng = np.random.default_rng(13)

    def union_find(pairs, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # min-label convention: component id = min member
        comp = {}
        for n in nodes:
            comp.setdefault(find(n), []).append(n)
        return {n: min(m) for r, m in comp.items() for n in m}

    cases = []
    # random sparse graph
    e1 = {(int(a), int(b)) for a, b in rng.integers(0, 60, (80, 2)) if a != b}
    cases.append(e1)
    # adversarial chain 0-1-2-...-99 (diameter 99)
    cases.append({(i, i + 1) for i in range(99)})
    for pairs in cases:
        pairs = sorted((min(a, b), max(a, b)) for a, b in pairs)
        nodes = sorted({x for p in pairs for x in p})
        df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        want = union_find(pairs, nodes)
        got_star = {r["doc_id"]: r["cluster_id"] for r in star_components(df).collect()}
        got_ml = {r["doc_id"]: r["cluster_id"] for r in min_label_components(df).collect()}
        assert got_star == want
        assert got_ml == want


def test_probit_accuracy_and_rank_gauss(spark):
    """Acklam probit within 1e-7 of the erf-inverted normal CDF across
    all three branches; p14's output is standard-normal shaped
    (mean ~0, std ~1, symmetric)."""
    import math

    import numpy as np

    from reduction_dask_spark.functions import probit
    from reduction_dask_spark.operators.relational import p14_rank_gauss
    from pyspark.sql import functions as F

    ps = [1e-4, 0.001, 0.0242, 0.0243, 0.3, 0.5, 0.7, 0.9757, 0.9758, 0.999, 1 - 1e-4]
    df = spark.createDataFrame([(p,) for p in ps], "p double")
    got = [r["z"] for r in df.select(probit(F.col("p")).alias("z")).collect()]

    def ncdf(x):
        return 0.5 * (1 + math.erf(x / math.sqrt(2)))

    for p, g in zip(ps, got):
        lo, hi = -10.0, 10.0
        for _ in range(80):
            mid = (lo + hi) / 2
            if ncdf(mid) < p:
                lo = mid
            else:
                hi = mid
        assert abs(g - lo) < 1e-7, (p, g, lo)

    z = np.array([r["z"] for r in p14_rank_gauss(spark, SF_SMALL).collect()])
    assert abs(z.mean()) < 0.01
    assert abs(z.std() - 1.0) < 0.05
    assert abs(z.max() + z.min()) < 1e-6  # rank symmetry


def test_mm6_matches_numpy_end_to_end(spark):
    """Cross-modal alignment equals a pure numpy recomputation from
    the raw text payloads and embeddings."""
    import hashlib

    import numpy as np

    from reduction_dask_spark.operators.multimodal import (
        N_FEAT,
        _fake_decode,
        mm6_crossmodal_alignment,
    )
    from reduction_dask_spark.sources import load_table

    got = {r["doc_id"]: r for r in mm6_crossmodal_alignment(spark, SF_SMALL).collect()}
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text").toPandas()
    emb = load_table(spark, SF_SMALL, "embeddings").toPandas()
    tv = {r["vec_id"]: np.array(r["embedding"], dtype=float) for _, r in emb.iterrows()}
    dim_out = 64
    P = np.array([
        [
            (int.from_bytes(hashlib.md5(f"mm6:{i}:{j}".encode()).digest()[:4], "big") % 2001 - 1000) / 1000.0
            for j in range(dim_out)
        ]
        for i in range(N_FEAT)
    ])
    cos = {}
    for _, row in docs.iterrows():
        if row["doc_id"] not in tv:
            continue
        mv = _fake_decode(row["text"].encode("utf-8")) @ P
        t = tv[row["doc_id"]]
        cos[row["doc_id"]] = float(mv @ t / (np.linalg.norm(mv) * np.linalg.norm(t)))
    mu = np.mean(list(cos.values()))
    sd = np.std(list(cos.values()), ddof=1)
    assert set(got) == set(cos)
    for d, c in cos.items():
        z = (c - mu) / sd
        assert abs(got[d]["align_z"] - round(z, 6)) <= 2e-6
        assert got[d]["keep"] == (z > 0.0)


def test_pack2_ffd_invariants_and_beats_streaming(spark):
    from reduction_dask_spark.operators.pipeline import (
        PACK_BUDGET,
        pack1_sequence_pack,
        pack2_ffd_packing,
    )
    from reduction_dask_spark.sources import load_table
    from pyspark.sql import functions as F

    ffd = pack2_ffd_packing(spark, SF_SMALL).collect()
    assert all(r["fill"] <= PACK_BUDGET for r in ffd)
    # every doc placed exactly once: total tokens match the source
    total = sum(r["fill"] for r in ffd)
    n_docs = sum(r["n_docs"] for r in ffd)
    src = (
        load_table(spark, SF_SMALL, "documents")
        .select(F.least(F.lit(PACK_BUDGET), F.size(F.split("text", " "))).alias("n"))
        .agg(F.sum("n").alias("s"), F.count("*").alias("c"))
        .collect()[0]
    )
    assert (total, n_docs) == (src["s"], src["c"])
    # FFD guarantee per language: OPT <= packs <= 11/9*OPT + 1 where
    # OPT >= ceil(total/budget) (pack1's stream-chunking, which SPLITS
    # documents, achieves exactly that lower bound and is the other
    # side of the atomicity trade)
    import math
    from collections import defaultdict

    per = defaultdict(lambda: [0, 0])
    for r in ffd:
        per[r["lang"]][0] += 1
        per[r["lang"]][1] += r["fill"]
    for lang, (packs, tokens) in per.items():
        lower = math.ceil(tokens / PACK_BUDGET)
        assert lower <= packs <= math.ceil(11 / 9 * lower) + 1, (lang, packs, lower)
    # mean fill is high (the point of FFD over naive first-fit)
    assert total / len(ffd) > 0.9 * PACK_BUDGET
    # and the streaming chunker exists as the split-documents baseline
    assert pack1_sequence_pack(spark, SF_SMALL).count() >= 1


def test_pack2_sharded_domain(spark):
    """Forcing a tiny shard cap exercises the bounded (lang, shard)
    packing domain: invariants hold, the tail-merge pass keeps fill
    near the single-shard quality, and the plan groups by the shard
    key (no whole-language single task)."""
    import math
    from collections import defaultdict

    from reduction_dask_spark.operators.pipeline import (
        PACK_BUDGET,
        pack2_ffd_packing,
    )
    from reduction_dask_spark.sources import load_table
    from pyspark.sql import functions as F

    df = pack2_ffd_packing(spark, SF_SMALL, shard_cap=40)
    ffd = df.collect()
    assert all(r["fill"] <= PACK_BUDGET for r in ffd)
    src = (
        load_table(spark, SF_SMALL, "documents")
        .select(F.least(F.lit(PACK_BUDGET), F.size(F.split("text", " "))).alias("n"))
        .agg(F.sum("n").alias("s"), F.count("*").alias("c"))
        .collect()[0]
    )
    assert (sum(r["fill"] for r in ffd), sum(r["n_docs"] for r in ffd)) == (
        src["s"],
        src["c"],
    )
    # after the tail merge at most one bin per language is <= half
    # full, so packs < 2*lower + 1 per language; empirically the data
    # (docs << budget) keeps fill near the unsharded level
    per = defaultdict(lambda: [0, 0])
    for r in ffd:
        per[r["lang"]][0] += 1
        per[r["lang"]][1] += r["fill"]
    for lang, (packs, tokens) in per.items():
        lower = math.ceil(tokens / PACK_BUDGET)
        assert packs <= 2 * lower + 1, (lang, packs, lower)
        under_half = sum(
            1 for r in ffd if r["lang"] == lang and 2 * r["fill"] <= PACK_BUDGET
        )
        assert under_half <= 1, (lang, under_half)
    assert sum(r["fill"] for r in ffd) / len(ffd) > 0.85 * PACK_BUDGET
    # shard key visible in the physical plan's group-by (FlatMapGroupsInPandas)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "shard" in plan


def test_tw1_coranking_numpy_parity_and_pca_judgment(spark):
    """tw1's coranking relation, pointed at the REAL t7 PCA embedding,
    must match a pure-numpy trustworthiness/continuity computation
    exactly (same rounding, same vec_id tie-break) — and PCA, which
    optimizes reconstruction, should preserve neighborhoods far better
    than chance."""
    import numpy as np
    from reduction_dask_spark.ml import supervised_frame
    from reduction_dask_spark.operators.reduction import (
        TW_K,
        coranking_metrics,
        t7_fit_transform_pca,
    )
    from reduction_dask_spark.operators.similarity import QUERY_CAP, QUERY_MOD
    from pyspark.sql import functions as F

    sf = SF_SMALL
    base = supervised_frame(spark, sf).select("vec_id", "features")
    pca = t7_fit_transform_pca(spark, sf)
    feat = base.join(pca, "vec_id").select(
        "vec_id",
        F.col("features").alias("vv"),
        F.aggregate(
            F.zip_with("features", "features", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("n2"),
        F.col("pc1").alias("p1"),
        F.col("pc2").alias("p2"),
        ((F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP)).alias(
            "is_anchor"
        ),
    )
    got = {r["qid"]: r for r in coranking_metrics(feat, k=TW_K).collect()}

    rows = sorted(feat.collect(), key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["vv"] for r in rows])
    P = np.array([[r["p1"], r["p2"]] for r in rows])
    n = len(ids)
    k = TW_K
    denom = k * (2.0 * n - 3.0 * k - 1.0)
    anchors = [i for i, r in enumerate(rows) if r["is_anchor"]]
    assert anchors and len(got) == len(anchors)
    for i in anchors:
        others = [j for j in range(n) if j != i]
        n2 = (X * X).sum(1)
        do2 = np.round(n2[i] + n2[others] - 2.0 * (X[others] @ X[i]), 5)
        de2 = np.round(((P[others] - P[i]) ** 2).sum(1), 5)
        ro_order = np.lexsort((ids[others], do2))
        re_order = np.lexsort((ids[others], de2))
        ro = np.empty(len(others), dtype=int)
        re = np.empty(len(others), dtype=int)
        ro[ro_order] = np.arange(1, n)
        re[re_order] = np.arange(1, n)
        tpen = int(((ro - k) * ((re <= k) & (ro > k))).sum())
        cpen = int(((re - k) * ((ro <= k) & (re > k))).sum())
        novl = int(((ro <= k) & (re <= k)).sum())
        trust = round(1.0 - 2.0 * tpen / denom, 6)
        cont = round(1.0 - 2.0 * cpen / denom, 6)
        lcmc = round(novl / k - k / (n - 1.0), 6)
        r = got[int(ids[i])]
        assert abs(r["trust"] - trust) < 1e-9, (ids[i], r["trust"], trust)
        assert abs(r["continuity"] - cont) < 1e-9
        assert abs(r["lcmc"] - lcmc) < 1e-9
    # PCA on this data should be a decent neighborhood preserver
    assert np.mean([got[q]["trust"] for q in got]) > 0.6
