"""Round-4 operators: canonical selection (canon1)."""

from __future__ import annotations

import pytest

from .conftest import SF_MED, SF_SMALL


def lsh_bands_for(tau: float, n_hashes: int = 32) -> tuple[int, int]:
    """(bands, rows) for a MinHash signature of ``n_hashes`` whose
    S-curve threshold (1/b)^(1/r) sits closest to the target Jaccard
    ``tau`` — the standard banding-theory sizing (MMDS ch. 3): pairs
    with similarity above the threshold are near-certain candidates,
    pairs far below are near-certain non-candidates, and the
    transition steepens with r. dd3 pins (8, 4) because the oracle
    must mirror a fixed layout at the driver SF — (8, 4) is exactly
    what this rule returns for tau=0.7, n=32; production callers
    re-derive the banding from their threshold instead of inheriting
    the demo constants."""
    best = None
    for r in range(1, n_hashes + 1):
        if n_hashes % r:
            continue
        b = n_hashes // r
        thr = (1.0 / b) ** (1.0 / r)
        err = abs(thr - tau)
        if best is None or err < best[0]:
            best = (err, b, r)
    return best[1], best[2]


class TestCanonicalSelection:
    @pytest.fixture(scope="class")
    def canon(self, spark):
        from reduction_dask_spark.operators.dedup import canon1_canonical_selection

        return canon1_canonical_selection(spark, SF_SMALL).toPandas()

    def test_exactly_one_canonical_per_cluster(self, canon):
        per = canon.groupby("cluster_id").is_canonical.sum()
        assert (per == 1).all()

    def test_canonical_is_best_quality(self, canon):
        best = canon.groupby("cluster_id").quality.transform("max")
        chosen = canon[canon.is_canonical]
        assert (chosen.quality == best[chosen.index]).all()

    def test_every_doc_labeled_once(self, canon):
        assert canon.doc_id.is_unique and len(canon) > 0

    def test_clusters_exist_beyond_singletons(self, canon):
        sizes = canon.groupby("cluster_id").size()
        assert (sizes > 1).any()  # testdata plants near-dups


class TestIsotonicCalibration:
    def test_matches_numpy_pav(self, spark):
        import numpy as np
        from pyspark.sql import functions as F

        from reduction_dask_spark.operators.reduction import (
            iso1_isotonic_calibration,
        )
        from reduction_dask_spark.operators.text import STOPWORDS, tokens
        from reduction_dask_spark.sources import load_table

        curve = iso1_isotonic_calibration(spark, SF_SMALL).toPandas()
        # ground truth: tie-aggregate labels per distinct score, then
        # classic pool-adjacent-violators
        d = load_table(spark, SF_SMALL, "documents")
        toks = tokens(F.col("text"))
        n = F.size(toks)
        stop_ratio = (
            F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("double") / n
        )
        uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n
        quality = (
            F.least(F.lit(1.0), n / F.lit(50.0))
            * (F.lit(1.0) - stop_ratio)
            * uniq_ratio
        )
        pdf = d.select(
            quality.alias("x"), (F.col("lang") == "en").cast("double").alias("y")
        ).toPandas()
        g = pdf.groupby("x").agg(y=("y", "mean"), w=("y", "size")).reset_index()
        xs = g.x.to_numpy()
        ys = list(g.y.to_numpy())
        ws = list(g.w.to_numpy(dtype=float))
        vals, wts, idx = [], [], []
        for yi, wi in zip(ys, ws):
            vals.append(yi); wts.append(wi); idx.append(1)
            while len(vals) > 1 and vals[-2] >= vals[-1]:
                v = (vals[-2] * wts[-2] + vals[-1] * wts[-1]) / (wts[-2] + wts[-1])
                w2 = wts[-2] + wts[-1]
                k = idx[-2] + idx[-1]
                vals = vals[:-2] + [v]; wts = wts[:-2] + [w2]; idx = idx[:-2] + [k]
        fitted = np.concatenate([np.full(k, v) for v, k in zip(vals, idx)])
        fit_at = dict(zip(xs, fitted))
        assert len(curve) >= 2
        # monotone non-decreasing curve
        assert (np.diff(curve.calibrated.to_numpy()) >= -1e-9).all()
        for b, c in zip(curve.boundary, curve.calibrated):
            # every MLlib boundary is a data point; its prediction is
            # the PAV pool value there
            key = min(fit_at, key=lambda x: abs(x - b))
            assert abs(key - b) < 1e-9
            assert abs(fit_at[key] - c) < 1e-5


class TestChunkingProperties:
    @pytest.fixture(scope="class")
    def chunks(self, spark):
        from reduction_dask_spark.operators.text import chunk1_token_chunks

        return chunk1_token_chunks(spark, SF_SMALL).toPandas()

    def test_chunks_cover_every_token(self, spark, chunks):
        """Chunk [start, start+len) intervals tile [0, n) per doc with
        the configured stride and no gaps."""
        from reduction_dask_spark.operators.text import (
            CHUNK_STRIDE,
            CHUNK_TOKENS,
        )
        from reduction_dask_spark.sources import load_table
        from pyspark.sql import functions as F

        n_by_doc = dict(
            load_table(spark, SF_SMALL, "documents")
            .select("doc_id", F.size(F.split("text", " ")).alias("n"))
            .collect()
        )
        for doc_id, g in chunks.groupby("doc_id"):
            g = g.sort_values("chunk_id")
            n = n_by_doc[doc_id]
            end = 0
            for _, row in g.iterrows():
                start = row.chunk_id * CHUNK_STRIDE
                assert start <= end  # stride <= W => no gap
                expected_len = min(CHUNK_TOKENS, n - start)
                assert row.n_tokens == expected_len
                end = start + row.n_tokens
            assert end == n  # last chunk ends exactly at the doc end

    def test_interior_chunks_full_width_with_overlap(self, chunks):
        from reduction_dask_spark.operators.text import (
            CHUNK_STRIDE,
            CHUNK_TOKENS,
        )

        assert CHUNK_TOKENS - CHUNK_STRIDE == 8  # designed overlap
        # every full-width chunk overlaps its successor by W - S
        full = chunks[chunks.n_tokens == CHUNK_TOKENS]
        assert len(full) > 0


class TestMortonProperties:
    def test_interleave_bijective_roundtrip(self, spark):
        """zvalue is a bijection: deinterleaving the code recovers the
        exact (x16, y16) pair for random 16-bit inputs."""
        import numpy as np

        from reduction_dask_spark.operators.layout import zvalue
        from pyspark.sql import functions as F

        rng = np.random.default_rng(42)
        xs = rng.integers(0, 65536, 200)
        ys = rng.integers(0, 65536, 200)
        df = spark.createDataFrame(
            [(int(a), int(b)) for a, b in zip(xs, ys)], "x long, y long"
        ).withColumn("z", zvalue(F.col("x"), F.col("y")))
        for x, y, z in df.collect():
            gx = gy = 0
            for bit in range(16):
                gx |= ((z >> (2 * bit)) & 1) << bit
                gy |= ((z >> (2 * bit + 1)) & 1) << bit
            assert (gx, gy) == (x, y)

    def test_curve_order_locality(self, spark):
        """Adjacent z codes differ in at most one unit step of one dim
        when z increments within a 2x2 cell (sanity of bit layout)."""
        from reduction_dask_spark.operators.layout import zvalue
        from pyspark.sql import functions as F

        df = (
            spark.range(4)
            .select(F.col("id").alias("x"))
            .crossJoin(spark.range(4).select(F.col("id").alias("y")))
            .withColumn("z", zvalue(F.col("x"), F.col("y")))
        )
        got = {(r.x, r.y): r.z for r in df.collect()}
        # the canonical 4x4 Morton table
        assert got[(0, 0)] == 0 and got[(1, 0)] == 1
        assert got[(0, 1)] == 2 and got[(1, 1)] == 3
        assert got[(2, 2)] == 12 and got[(3, 3)] == 15


class TestHardNegatives:
    def test_ivf_path_recall_vs_exact(self, spark):
        """ss8b (IVF candidates) recovers most of ss8's exact hard
        negatives, and every pair it returns is genuinely cross-label."""
        from reduction_dask_spark.operators.similarity import (
            ss8_hard_negative_mining,
            ss8b_hard_negatives_ivf,
        )

        exact = ss8_hard_negative_mining(spark, SF_MED).toPandas()
        approx = ss8b_hard_negatives_ivf(spark, SF_MED).toPandas()
        assert (approx.q_label != approx.n_label).all()
        assert (exact.q_label != exact.n_label).all()
        e = set(zip(exact.qid, exact.negative_id))
        a = set(zip(approx.qid, approx.negative_id))
        recall = len(e & a) / len(e)
        assert recall >= 0.5  # probed lists cover most true negatives
        # approx never outranks exact: its cosines are a subset-max
        per_q_exact = exact.groupby("qid").cos.max()
        per_q_approx = approx.groupby("qid").cos.max()
        joined = per_q_exact.to_frame("e").join(per_q_approx.to_frame("a"), how="inner")
        assert (joined.a <= joined.e + 1e-9).all()


class TestMMRDiversification:
    @pytest.fixture(scope="class")
    def frames(self, spark):
        from reduction_dask_spark.operators.similarity import (
            brute_force_topk,
            ss9_mmr_diversified_topk,
        )

        mmr = ss9_mmr_diversified_topk(spark, SF_SMALL).toPandas()
        plain = brute_force_topk(spark, SF_SMALL).toPandas()
        pool = brute_force_topk(spark, SF_SMALL, k=20).toPandas()
        return mmr, plain, pool

    def test_selection_is_subset_of_pool(self, frames):
        mmr, _, pool = frames
        p = set(zip(pool.qid, pool.neighbor_id))
        assert set(zip(mmr.qid, mmr.neighbor_id)) <= p

    def test_first_pick_is_top_relevance(self, frames):
        mmr, plain, _ = frames
        first = mmr[mmr["rank"] == 1].set_index("qid").neighbor_id
        top1 = plain[
            plain.groupby("qid").cos.transform("max") == plain.cos
        ].groupby("qid").neighbor_id.min()
        for q in first.index:
            assert first[q] == top1[q]

    def test_diversity_dominates_plain_topk(self, spark, frames):
        """Avg pairwise cosine within the MMR set <= within plain
        top-k, averaged over queries (the point of MMR)."""
        import numpy as np

        mmr, plain, _ = frames
        emb = (
            spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
            .select("vec_id", "embedding")
            .toPandas()
            .set_index("vec_id")
        )

        def avg_pairwise(df):
            vals = []
            for q, g in df.groupby("qid"):
                V = np.stack(emb.loc[g.neighbor_id].embedding.to_numpy()).astype(float)
                V /= np.linalg.norm(V, axis=1, keepdims=True)
                S = V @ V.T
                iu = np.triu_indices(len(V), k=1)
                vals.append(S[iu].mean())
            return float(np.mean(vals))

        assert avg_pairwise(mmr) <= avg_pairwise(plain) + 1e-9


def test_wsamp1_prefers_heavy_documents(spark):
    """A-ES with w = n_chars: the sampled set's mean weight exceeds
    the corpus mean (weight-proportional inclusion)."""
    from pyspark.sql import functions as F

    from reduction_dask_spark.operators.relational import wsamp1_weighted_sample
    from reduction_dask_spark.sources import load_table

    samp = wsamp1_weighted_sample(spark, SF_MED).toPandas()
    corpus_mean = (
        load_table(spark, SF_MED, "documents").agg(F.avg("n_chars")).collect()[0][0]
    )
    assert len(samp) == 100 and samp.doc_id.is_unique
    assert samp.w.mean() > corpus_mean


class TestLogisticIRLS:
    def test_matches_local_numpy_irls(self, spark):
        import numpy as np
        from pyspark.sql import functions as F

        from reduction_dask_spark.operators.reduction import log1_logistic_irls
        from reduction_dask_spark.operators.text import STOPWORDS, tokens
        from reduction_dask_spark.sources import load_table

        got = (
            log1_logistic_irls(spark, SF_SMALL)
            .toPandas()
            .set_index("term")
            .coef
        )
        d = load_table(spark, SF_SMALL, "documents")
        toks = tokens(F.col("text"))
        n = F.size(toks)
        pdf = d.select(
            F.least(F.lit(1.0), n / F.lit(50.0)).alias("f1"),
            (F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("double") / n).alias("f2"),
            (F.size(F.array_distinct(toks)).cast("double") / n).alias("f3"),
            (F.col("lang") == "en").cast("double").alias("y"),
        ).toPandas()
        X = np.column_stack([np.ones(len(pdf)), pdf.f1, pdf.f2, pdf.f3])
        y = pdf.y.to_numpy()
        beta = np.zeros(4)
        for _ in range(6):
            p = 1 / (1 + np.exp(-(X @ beta)))
            W = p * (1 - p)
            H = X.T @ (X * W[:, None]) + 1e-6 * np.eye(4)
            beta = beta + np.linalg.solve(H, X.T @ (y - p))
        for term, ref in zip(
            ["intercept", "len_capped", "stop_ratio", "uniq_ratio"], beta
        ):
            assert abs(got[term] - ref) < 1e-5

    def test_predictions_beat_chance(self, spark):
        """The fitted model separates en from non-en better than the
        base rate on its own training data (sanity, not rigor)."""
        import numpy as np
        from pyspark.sql import functions as F

        from reduction_dask_spark.operators.reduction import log1_logistic_irls
        from reduction_dask_spark.operators.text import STOPWORDS, tokens
        from reduction_dask_spark.sources import load_table

        coefs = (
            log1_logistic_irls(spark, SF_SMALL).toPandas().set_index("term").coef
        )
        d = load_table(spark, SF_SMALL, "documents")
        toks = tokens(F.col("text"))
        n = F.size(toks)
        pdf = d.select(
            F.least(F.lit(1.0), n / F.lit(50.0)).alias("f1"),
            (F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("double") / n).alias("f2"),
            (F.size(F.array_distinct(toks)).cast("double") / n).alias("f3"),
            (F.col("lang") == "en").cast("double").alias("y"),
        ).toPandas()
        X = np.column_stack([np.ones(len(pdf)), pdf.f1, pdf.f2, pdf.f3])
        p = 1 / (1 + np.exp(-(X @ coefs[["intercept", "len_capped", "stop_ratio", "uniq_ratio"]].to_numpy())))
        # log-loss of the fit must beat the base-rate log-loss
        y = pdf.y.to_numpy()
        eps = 1e-12
        ll_model = -np.mean(y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps))
        base = y.mean()
        ll_base = -np.mean(y * np.log(base) + (1 - y) * np.log(1 - base))
        assert ll_model <= ll_base


class TestLSHBandingTheory:
    def test_dd3_constants_are_the_tau07_solution(self):
        assert lsh_bands_for(0.7, 32) == (8, 4)

    def test_s_curve_threshold_tracks_tau(self):
        """Chosen banding's (1/b)^(1/r) lands within 0.15 of every
        target in a practical range, and candidate probability is
        monotone in similarity (the S-curve property)."""
        for tau in (0.3, 0.5, 0.7, 0.9):
            b, r = lsh_bands_for(tau, 32)
            assert b * r == 32
            thr = (1.0 / b) ** (1.0 / r)
            assert abs(thr - tau) < 0.15
            p = lambda s: 1 - (1 - s**r) ** b
            assert p(min(tau + 0.2, 0.99)) > p(tau) > p(max(tau - 0.2, 0.01))
            assert p(0.99) > 0.9  # near-identical pairs are near-certain candidates
