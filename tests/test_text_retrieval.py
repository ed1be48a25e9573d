"""BM25 retrieval (t6) and mixture realization (mw2) semantics."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from reduction_dask_spark.operators.text import MIX_TEMP, bm25_topk, mw2_mixture_sample

from .conftest import SF_SMALL


def ivf_lists_for(n_vectors: int) -> int:
    """IVF list count sized to the corpus: k ≈ √n (the FAISS rule of
    thumb — balances list-scan cost n/k per probe against the k-way
    quantizer scoring per query). The REGISTERED ss4 demo derives its
    centroid set from `vec_id % 53` so the DuckDB oracle can mirror it,
    which grows the list count linearly with the corpus — fine at the
    driver's fixed sf, quadratic as a production config (the ×100
    probe measures it: SCALING.md). Production callers size with this
    rule and train with kmeans_fit (ss7's path, fixed k, 9× on ×100
    data)."""
    return max(1, int(math.isqrt(max(1, n_vectors))))


def lsh_planes_for(n_vectors: int, target_bucket: int = 200) -> int:
    """Plane count sized to the corpus: 2^planes buckets ≈ n/target.

    A FIXED plane count has the wrong asymptotics — bucket population
    grows linearly with the corpus, and with it the exact-rerank cost
    per query. Sizing planes ≈ log2(n / target_bucket) keeps expected
    bucket size constant at any scale (64 buckets at the bench sf,
    ~2^29 buckets at 100 TB). The REGISTERED ss2/ss5 queries pin
    N_PLANES={6} because the DuckDB oracle must evaluate the identical
    plane set at the driver's fixed sf; production callers size with
    this rule (and multi-probe fan-out, ss5, recovers the recall a
    deeper code costs)."""
    return max(1, math.ceil(math.log2(max(2.0, n_vectors / target_bucket))))


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_tf_monotone(spark):
    """More occurrences of the query term (same doc length) ⇒ higher score."""
    docs = _docs(spark, [
        (1, "cat cat cat pad"),
        (2, "cat pad pad pad"),
        (3, "dog dog dog dog"),
    ])
    q = spark.createDataFrame([("cat",)], "tok string")
    out = {r["doc_id"]: r["bm25"] for r in bm25_topk(docs, q).collect()}
    assert set(out) == {1, 2}          # doc 3 never contains the term
    assert out[1] > out[2]


def test_bm25_length_normalization(spark):
    """Same tf, longer doc ⇒ lower score (b > 0)."""
    docs = _docs(spark, [
        (1, "cat pad"),
        (2, "cat pad pad pad pad pad pad pad"),
    ])
    q = spark.createDataFrame([("cat",)], "tok string")
    out = {r["doc_id"]: r["bm25"] for r in bm25_topk(docs, q).collect()}
    assert out[1] > out[2]


def test_bm25_rare_term_outscores_common(spark):
    """Lower document frequency ⇒ higher idf ⇒ higher score at equal tf/dl."""
    docs = _docs(spark, [
        (1, "rare pad"),
        (2, "common pad"),
        (3, "common pad"),
        (4, "common pad"),
    ])
    q = spark.createDataFrame([("rare",), ("common",)], "tok string")
    rows = bm25_topk(docs, q).collect()
    rare = max(r["bm25"] for r in rows if r["tok"] == "rare")
    common = max(r["bm25"] for r in rows if r["tok"] == "common")
    assert rare > common


def test_mixture_sample_upsamples_tail(spark):
    """T=2 temperature keeps every tail-language doc it can (rate
    clipped at 1.0) and down-samples the head language; realized rows
    respect the per-language keep rate."""
    out = mw2_mixture_sample(spark, SF_SMALL)
    rates = {r["lang"]: r["sample_rate"] for r in out.select("lang", "sample_rate").distinct().collect()}
    assert MIX_TEMP > 1
    assert max(rates.values()) <= 1.0
    assert rates["en"] == min(rates.values())  # head language downsampled
    assert rates["en"] < 1.0
    n_en_kept = out.filter(F.col("lang") == "en").count()
    from reduction_dask_spark.sources import load_table

    n_en = load_table(spark, SF_SMALL, "documents").filter(F.col("lang") == "en").count()
    # hash filter realizes the rate within a loose tolerance
    assert abs(n_en_kept / n_en - rates["en"]) < 0.2


def test_lsh_planes_scale_with_corpus():
    assert lsh_planes_for(200) == 1            # degenerate floor
    assert lsh_planes_for(12_800) == 6         # the bench regime (64 buckets)
    p10, p11 = lsh_planes_for(10**10), lsh_planes_for(10**11)
    assert p11 - p10 >= 3                      # 10x data => ~log2(10) more planes
    # expected bucket population stays bounded as the corpus grows
    for n in (10**6, 10**9, 10**12):
        assert n / 2 ** lsh_planes_for(n) <= 400


def test_ivf_lists_scale_with_corpus():
    assert ivf_lists_for(0) == 1
    assert ivf_lists_for(10_000) == 100
    # per-probe list-scan size n/k stays O(sqrt n), not O(n)
    for n in (10**6, 10**10):
        k = ivf_lists_for(n)
        assert n / k <= 2 * k
