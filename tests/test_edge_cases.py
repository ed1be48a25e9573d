"""Edge-case hardening of the library functions — small/degenerate
inputs a 100 TB pipeline inevitably produces somewhere."""

from __future__ import annotations

from pyspark.sql import functions as F

from reduction_dask_spark.operators.cv import kfold_era
from reduction_dask_spark.operators.dedup import jaccard_pairs, shingles_of_tokens
from reduction_dask_spark.operators.permutation import permute_column


def test_kfold_more_folds_than_eras(spark):
    """k > distinct eras: ntile still assigns each era one fold; some
    folds are simply empty — no crash, invariants hold."""
    df = spark.createDataFrame([(i, i % 3) for i in range(30)], "id long, era int")
    folded = kfold_era(df, "era", k=10)
    per_era = folded.groupBy("era").agg(F.countDistinct("fold").alias("nf")).collect()
    assert all(r["nf"] == 1 for r in per_era)
    train, test = folded.filter(F.col("fold") != 0), folded.filter(F.col("fold") == 0)
    assert train.count() + test.count() == 30


def test_permute_single_row_groups(spark):
    """A group of one row permutes to itself."""
    df = spark.createDataFrame(
        [(1, 10, 1.0), (2, 20, 2.0), (3, 30, 3.0)], "era int, event_id long, pred double"
    )
    out = permute_column(df, "era", "pred", "event_id").collect()
    assert {(r["era"], r["pred"]) for r in out} == {(1, 1.0), (2, 2.0), (3, 3.0)}


def test_shingles_short_text(spark):
    """Texts shorter than k tokens yield empty shingle arrays (and the
    sequence expression must not error under ANSI mode)."""
    df = spark.createDataFrame([("a b",), ("a b c",), ("a b c d",)], "text string")
    toked = df.select(F.split("text", " ").alias("toks"))
    out = toked.filter(F.size("toks") >= 3).select(
        F.size(shingles_of_tokens(F.col("toks"))).alias("n")
    ).collect()
    assert [r["n"] for r in out] == [1, 2]


def test_jaccard_no_shared_shingles(spark):
    df = spark.createDataFrame(
        [(1, "x y z"), (2, "p q r")], "doc_id long, text string"
    )
    sh = df.select(
        "doc_id",
        F.explode(shingles_of_tokens(F.split("text", " "))).alias("shingle"),
    )
    assert jaccard_pairs(sh, tau=0.0).count() == 0


def test_spearman_constant_predictions(spark):
    """corr against a constant column is NULL, not a crash (the
    reference would return nan from np.corrcoef)."""
    from reduction_dask_spark.operators.metrics import spearman_by_era

    df = spark.createDataFrame(
        [(1, float(i), 5.0, i) for i in range(10)],
        "era int, y_true double, pred double, event_id long",
    )
    row = spearman_by_era(df).collect()[0]
    # pred constant → rank = position order → corr may be defined;
    # y_true constant is the degenerate case:
    df2 = df.select("era", F.lit(1.0).alias("y_true"), "pred", "event_id")
    row2 = spearman_by_era(df2).collect()[0]
    assert row2["spearman_era_corr"] is None


def test_ridge_with_tiny_fold(spark):
    """Folds with fewer rows than features still solve (ridge
    regularization keeps XtX + λI invertible)."""
    import numpy as np

    from reduction_dask_spark.ml import fit_fold_models, fold_suffstats

    rows = [(i, i % 2, [float(i), float(i * 2), 1.0], float(i)) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, fold int, features array<double>, y double")
    stats = fold_suffstats(df, dim=3)
    models = fit_fold_models(stats, lam=1.0)
    assert all(np.isfinite(c).all() for c in models.values())


def test_foreach_batch_sink(spark, tmp_path):
    """Streaming exactly-once-style sink via foreachBatch → parquet."""
    from reduction_dask_spark.streaming import read_event_stream, windowed_value_stats

    out = str(tmp_path / "sink")
    agg = windowed_value_stats(read_event_stream(spark, "/root/testdata/sf0.001"))

    def write_batch(batch_df, epoch_id):
        batch_df.write.mode("append").parquet(out)

    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    assert spark.read.parquet(out).count() > 0


def test_planted_noise_survives_corpus_scale_ids(spark):
    """supervised_frame's hash-noise term must not overflow int64 under
    ANSI mode at replica-offset id ranges (the ×10 scale probe hit
    ARITHMETIC_OVERFLOW on the raw vec_id * KNUTH form; the mod-first
    form is congruent and bounded)."""
    from pyspark.sql import functions as F

    big = spark.createDataFrame(
        [(9_000_000_123,), (2**62,)], "vec_id long"
    )
    noise = (((F.col("vec_id") % 1000) * 2654435761) % 1000) / 1000.0 - 0.5
    vals = [r[0] for r in big.select(noise.alias("n")).collect()]
    assert all(-0.5 <= v <= 0.5 for v in vals)
    # congruence with the unreduced form on small ids
    small = spark.createDataFrame([(123,), (999,)], "vec_id long")
    a = [r[0] for r in small.select(noise.alias("n")).collect()]
    b = [
        r[0]
        for r in small.select(
            (((F.col("vec_id") * 2654435761) % 1000) / 1000.0 - 0.5).alias("n")
        ).collect()
    ]
    assert a == b


def test_ret1_bitmap_negative_and_huge_ids(spark, tmp_path):
    """The word index must FLOOR-divide: truncation toward zero packs
    user -1 and user 63 into the same (word 0, bit 63) slot, and a
    double-divide loses ids above 2^53. Bitmap counts must equal the
    set-based ground truth on a corpus exercising both regimes."""
    import datetime

    from reduction_dask_spark.operators.relational import ret1_bitmap_retention

    d0 = datetime.datetime(2024, 1, 1)
    d1 = datetime.datetime(2024, 1, 2)
    ids = [-1, 63, -64, -65, 0, 1, (1 << 60) + 1, (1 << 60) + 2]
    rows = [(d0, i, "x", 1.0) for i in ids] + [(d1, i, "x", 1.0) for i in ids[:5]]
    df = spark.createDataFrame(rows, "ts timestamp, user_id long, event_type string, value double")
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {r["day"]: r for r in ret1_bitmap_retention(spark, str(tmp_path)).collect()}
    day0 = (d0.date() - datetime.date(1970, 1, 1)).days
    assert out[day0]["n_active"] == len(ids)
    assert out[day0]["n_retained_next"] == 5
    assert out[day0 + 1]["n_active"] == 5


def test_embedding_fingerprint_null_position_distinct(spark):
    """r12 ADVICE: the dd5/sem1 exact-dup fingerprint must NOT collapse
    embeddings that differ only in a NULL element's position —
    concat_ws skips nulls, so without an explicit sentinel
    [1.0,NULL,2.0] and [1.0,2.0,NULL] would share a fingerprint and
    fabricate duplicate pairs the direct plan never emits."""
    from reduction_dask_spark.caching import release_pinned
    from reduction_dask_spark.operators.similarity import _vector_members

    df = spark.createDataFrame(
        [
            (1, [1.0, None, 2.0]),
            (2, [1.0, 2.0, None]),
            (3, [1.0, None, 2.0]),   # true duplicate of 1
            (4, [1.0, 2.0]),         # NULL-free, shorter
        ],
        "vec_id long, embedding array<double>",
    )
    rep = {r["doc_id"]: r["rep_id"] for r in _vector_members(df).collect()}
    release_pinned()
    assert rep[1] == rep[3] == 1     # identical vectors still collapse
    assert rep[2] == 2               # NULL position distinguishes
    assert rep[4] == 4
