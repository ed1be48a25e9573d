"""S2/S3 sink round-trips, dedup-pipeline equivalences, multimodal
batch semantics."""

from __future__ import annotations

import tempfile
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

from reduction_dask_spark.sources import load_table, read_csv, write_append, write_overwrite

from .conftest import SF_SMALL


def test_s3_parquet_roundtrip(spark):
    df = load_table(spark, SF_SMALL, "events").select("event_id", "value")
    with tempfile.TemporaryDirectory() as d:
        out = str(Path(d) / "cache")
        write_overwrite(df, out)
        back = spark.read.parquet(out)
        assert back.count() == df.count()
        assert set(back.columns) == {"event_id", "value"}


def test_s2_append_sink(spark):
    df = load_table(spark, SF_SMALL, "events").select("event_id", "value").limit(10)
    with tempfile.TemporaryDirectory() as d:
        out = str(Path(d) / "log")
        write_append(df, out)
        write_append(df, out)  # results-log accumulation (nb cells 22/54/...)
        assert spark.read.parquet(out).count() == 20


def test_s1_csv_roundtrip(spark):
    df = load_table(spark, SF_SMALL, "events").select("event_id", "event_type", "value")
    with tempfile.TemporaryDirectory() as d:
        out = str(Path(d) / "csv")
        df.write.option("header", True).csv(out)
        back = read_csv(spark, out)
        assert back.count() == df.count()
        assert dict(back.dtypes)["event_id"] in ("int", "bigint")  # inferSchema


def test_partitioned_write(spark):
    """Partition-by write — the layout a 100 TB corpus would use."""
    df = load_table(spark, SF_SMALL, "documents")
    with tempfile.TemporaryDirectory() as d:
        out = str(Path(d) / "bylang")
        write_overwrite(df, out, partition_by=("lang",))
        files = list(Path(out).glob("lang=*/*.parquet"))
        assert files
        back = spark.read.parquet(out)
        assert back.count() == df.count()
        # partition pruning: a lang filter reads only that directory
        pruned = back.filter(F.col("lang") == "en")
        assert pruned.count() == df.filter(F.col("lang") == "en").count()


def test_dedup_pipelines_agree(spark):
    """dd2 (exact), dd3 (portable LSH) and dd3b (MLlib LSH) must find
    the same planted near-dup pairs at jaccard ≥ 0.7. dd3b reports the
    collapsed (exact-dup representative) weighted pair relation, so
    dd2/dd3's pair sets are quotiented to representative level before
    comparing; n_pairs must account for every uncollapsed pair."""
    from reduction_dask_spark.operators.dedup import (
        dd2_shingle_jaccard,
        dd3_minhash_lsh_dedup,
        dd3b_minhash_lsh_ml,
        exact_members,
    )

    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dd2_shingle_jaccard(spark, SF_SMALL).collect()
        if r["jaccard"] >= 0.7
    }
    lsh = {(r["doc_a"], r["doc_b"]) for r in dd3_minhash_lsh_dedup(spark, SF_SMALL).collect()}
    assert exact, "no planted near-dups found at all"
    assert lsh == exact

    d = load_table(spark, SF_SMALL, "documents")
    rep_of = {r["doc_id"]: r["rep_id"] for r in exact_members(d).collect()}
    exact_rep = {tuple(sorted((rep_of[a], rep_of[b]))) for a, b in exact}
    ml_rows = dd3b_minhash_lsh_ml(spark, SF_SMALL).collect()
    ml = {(r["doc_a"], r["doc_b"]) for r in ml_rows}
    assert ml == exact_rep
    # weighted relation reconstructs the uncollapsed pair count
    assert sum(r["n_pairs"] for r in ml_rows) == len(exact)


def test_mm2_feature_extract_matches_numpy(spark):
    from reduction_dask_spark.operators.multimodal import N_FEAT, _fake_decode, mm2_feature_extract

    pdf = mm2_feature_extract(spark, SF_SMALL).toPandas().set_index("doc_id")
    fcols = [f"f{i}" for i in range(N_FEAT)]
    assert list(pdf.columns) == ["kind", *fcols]  # wide scalar layout
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text").toPandas()
    for _, row in docs.head(20).iterrows():
        expected = _fake_decode(row["text"].encode("utf-8"))
        got = pdf.loc[row["doc_id"], fcols].to_numpy(dtype=np.float64)
        np.testing.assert_allclose(got, expected, atol=1e-12)
        assert len(got) == N_FEAT
        assert abs(got.sum() - 1.0) < 1e-9  # normalized histogram


def test_mm3_frame_sample_shapes(spark):
    from reduction_dask_spark.operators.multimodal import (
        FRAME_STRIDE,
        mm3_frame_bytes,
        mm3_frame_sample,
    )

    pdf = mm3_frame_bytes(spark, SF_SMALL).toPandas()
    assert (pdf["frame_idx"] >= 0).all() and (pdf["frame_idx"] < 4).all()
    assert pdf["frame"].map(len).max() <= FRAME_STRIDE
    # one payload expands to multiple frame rows
    assert pdf.groupby("doc_id").size().max() > 1
    # the registered hex witness is exactly the bytes, hex-encoded
    hx = mm3_frame_sample(spark, SF_SMALL).toPandas()
    key = ["doc_id", "frame_idx"]
    merged = pdf.merge(hx, on=key)
    assert len(merged) == len(pdf) == len(hx)
    assert (
        merged["frame"].map(lambda b: bytes(b).hex().upper())
        == merged["frame_hex"]
    ).all()


def test_mm4_resize_matches_numpy(spark):
    from reduction_dask_spark.operators.multimodal import (
        THUMB_BYTES,
        _fake_resize,
        mm4_resize_thumbnail,
        mm4_thumbnail_bytes,
    )

    pdf = mm4_thumbnail_bytes(spark, SF_SMALL).toPandas().set_index("doc_id")
    assert (pdf["thumb_bytes"] <= THUMB_BYTES).all()
    assert (pdf["thumb_bytes"] <= pdf["orig_bytes"]).all()
    assert (pdf.index % 3 == 0).all()  # image rows only
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text").toPandas()
    docs = docs[docs["doc_id"] % 3 == 0]
    for _, row in docs.head(10).iterrows():
        expected = _fake_resize(row["text"].encode("utf-8"))
        assert bytes(pdf.loc[row["doc_id"], "thumb"]) == expected
    # the registered hex witness is exactly the bytes, hex-encoded
    hx = mm4_resize_thumbnail(spark, SF_SMALL).toPandas().set_index("doc_id")
    assert len(hx) == len(pdf)
    joined = pdf.join(hx, rsuffix="_hx")
    assert (
        joined["thumb"].map(lambda b: bytes(b).hex().upper())
        == joined["thumb_hex"]
    ).all()


def test_a10_approx_within_tolerance(spark):
    """Approx sketches must land near the exact values."""
    from reduction_dask_spark.operators.relational import a10_approx_stats

    approx = a10_approx_stats(spark, SF_SMALL).toPandas().set_index("event_type")
    ev = load_table(spark, SF_SMALL, "events")
    exact = (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.expr("percentile(value, 0.5)").alias("median"),
        )
        .toPandas()
        .set_index("event_type")
    )
    for t in exact.index:
        assert abs(approx.loc[t, "approx_users"] - exact.loc[t, "users"]) <= max(2, 0.1 * exact.loc[t, "users"])
        assert abs(approx.loc[t, "approx_median"] - exact.loc[t, "median"]) <= 30


def test_ivf_recall_vs_brute(spark):
    """IVF with 2 probes must recover most of the exact top-5."""
    from reduction_dask_spark.operators.similarity import (
        brute_force_topk,
        ss4_cosine_topk_ivf,
    )

    exact = brute_force_topk(spark, SF_SMALL).toPandas()
    ivf = ss4_cosine_topk_ivf(spark, SF_SMALL).toPandas()
    exact_pairs = set(zip(exact["qid"], exact["neighbor_id"]))
    ivf_pairs = set(zip(ivf["qid"], ivf["neighbor_id"]))
    recall = len(exact_pairs & ivf_pairs) / len(exact_pairs)
    assert recall >= 0.3  # honest ANN: partial recall at 2 probes
    assert ivf_pairs  # and it does return neighbors


def test_orc_and_json_roundtrip(spark):
    """Source-format breadth: ORC and JSON readers (SURVEY §2.1)."""
    import tempfile
    from pathlib import Path

    df = load_table(spark, SF_SMALL, "events").select("event_id", "event_type", "value")
    with tempfile.TemporaryDirectory() as d:
        orc = str(Path(d) / "orc")
        df.write.orc(orc)
        assert spark.read.orc(orc).count() == df.count()
        js = str(Path(d) / "json")
        df.write.json(js)
        back = spark.read.schema("event_id bigint, event_type string, value double").json(js)
        assert back.count() == df.count()


def test_hvac_weather_bridge(spark):
    """FIXTURES.md §2: the framework is domain-agnostic — an
    hvac_weather-shaped frame (ts + weather gauges + usage target)
    runs the same flagship scoring with era derived from ts."""
    from reduction_dask_spark import api

    ev = load_table(spark, SF_SMALL, "events")
    hvac = ev.select(
        F.dayofmonth("ts").cast("int").alias("era"),
        F.col("event_id").alias("gauge_id"),
        (F.col("value") / 10).alias("air_temp"),
        F.col("value").alias("y_true"),
        (F.col("value") + (F.col("event_id") % 17) / 17.0).alias("pred"),
    )
    s = api.spearman_rank(hvac, key="gauge_id")
    assert 0.5 < s <= 1.0


def test_dup_clusters_are_connected_components(spark):
    """dd6 labels must equal the min doc_id of each transitive
    component of the pair graph (networkx-free union-find check)."""
    from reduction_dask_spark.operators.dedup import (
        JACCARD_TAU,
        dd2_shingle_jaccard,
        dd6_dup_clusters,
    )

    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in dd2_shingle_jaccard(spark, SF_SMALL).collect()
        if r["jaccard"] >= JACCARD_TAU
    ]
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    expected = {x: find(x) for x in parent}
    got = {
        r["doc_id"]: r["cluster_id"] for r in dd6_dup_clusters(spark, SF_SMALL).collect()
    }
    assert got == expected


def test_multiprobe_recall_dominates_single_probe(spark):
    """ss5's candidate set is a superset of ss2's (same planes, more
    probes), so its recall of the exact top-5 must be >= ss2's."""
    from reduction_dask_spark.operators.similarity import (
        brute_force_topk,
        ss2_cosine_topk_lsh,
        ss5_multiprobe_lsh,
    )

    exact = set(
        map(tuple, brute_force_topk(spark, SF_SMALL).select("qid", "neighbor_id").collect())
    )
    single = set(
        map(tuple, ss2_cosine_topk_lsh(spark, SF_SMALL).select("qid", "neighbor_id").collect())
    )
    multi = set(
        map(tuple, ss5_multiprobe_lsh(spark, SF_SMALL).select("qid", "neighbor_id").collect())
    )
    r_single = len(exact & single) / len(exact)
    r_multi = len(exact & multi) / len(exact)
    assert r_multi >= r_single
    assert r_multi > 0  # sf0.001 has ~50 vectors over 64 buckets — sparse


def test_pq_adc_recall_vs_brute(spark):
    """8×16 product quantization of 64-dim vectors must still place a
    fair share of the exact top-5 in its ADC top-5."""
    from reduction_dask_spark.operators.similarity import (
        brute_force_topk,
        ss6_pq_adc_topk,
    )

    exact = set(
        map(tuple, brute_force_topk(spark, SF_SMALL).select("qid", "neighbor_id").collect())
    )
    pq = set(
        map(tuple, ss6_pq_adc_topk(spark, SF_SMALL).select("qid", "neighbor_id").collect())
    )
    recall = len(exact & pq) / len(exact)
    # 16 hash-chosen (untrained) codewords per subspace keep the op
    # oracle-able; ~12-14% observed vs ~1% chance. A production IVF-PQ
    # trains the codebook with kmeans_fit per subspace.
    assert recall >= 0.05
    assert pq


def test_ivfpq_recall_vs_exact_l2(spark):
    """ss7 (trained coarse quantizer + residual PQ + ADC over probed
    lists) must recover a fair share of the exact L2 top-5 and respect
    the top-k contract (≤ k rows per query, no self-matches)."""
    from pyspark.sql.window import Window

    from reduction_dask_spark.operators.similarity import (
        QUERY_MOD,
        TOP_K,
        as_double,
        ss7_ivfpq_topk,
    )
    from reduction_dask_spark.sources import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    v = emb.select("vec_id", as_double(F.col("embedding")).alias("vv"))
    q = v.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("vv").alias("qv")
    )
    l2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("vv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("vec_id"))
    exact = set(
        map(
            tuple,
            v.crossJoin(F.broadcast(q))
            .filter(F.col("qid") != F.col("vec_id"))
            .select("qid", "vec_id", l2.alias("d2"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= TOP_K)
            .select("qid", "vec_id")
            .collect(),
        )
    )
    got = ss7_ivfpq_topk(spark, SF_SMALL).toPandas()
    assert (got.groupby("qid").size() <= TOP_K).all()
    assert (got["qid"] != got["neighbor_id"]).all()
    pairs = set(zip(got["qid"], got["neighbor_id"]))
    recall = len(exact & pairs) / len(exact)
    assert recall >= 0.2  # 3 probes of 10 trained lists; honest partial recall


def test_blas_topk_matches_expression_topk(spark):
    """ss1b (numpy matmul + partial heaps) must return exactly ss1's
    (JVM expression) result set — same cosines at 5 decimals, same
    tie-breaks."""
    from reduction_dask_spark.operators.similarity import (
        brute_force_topk,
        ss1b_cosine_topk_blas,
    )

    a = sorted(map(tuple, brute_force_topk(spark, SF_SMALL).collect()))
    b = sorted(map(tuple, ss1b_cosine_topk_blas(spark, SF_SMALL).collect()))
    assert a == b


def test_partitioned_write_prunes_partitions_on_read(spark, tmp_path):
    """Hive-style partitioned layout → a filter on the partition column
    reaches the scan as PartitionFilters and the plan touches ONE
    partition directory, not the table: the partition-pruning leg of
    the pushdown story (the column-level PushedFilters leg is covered
    in test_plans)."""
    from reduction_dask_spark.sources import load_table

    ev = load_table(spark, SF_SMALL, "events").withColumn(
        "era_day", F.dayofmonth("ts")
    )
    out = str(tmp_path / "ev_part")
    ev.write.mode("overwrite").partitionBy("era_day").parquet(out)

    back = spark.read.parquet(out).filter(F.col("era_day") == 3)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # pruning actually happened: only one era_day directory is scanned
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "era_day" in m.group(1), plan
    n_days = ev.select("era_day").distinct().count()
    assert n_days > 1
    assert back.count() == ev.filter(F.col("era_day") == 3).count()


def test_compact_small_files(spark, tmp_path):
    """1 row/file append pattern → one compaction pass → bounded file
    count, identical data."""
    import glob

    from reduction_dask_spark.sources import compact_files, load_table

    path = str(tmp_path / "frag")
    ev = load_table(spark, SF_SMALL, "events").select("event_id", "value").limit(64)
    ev.repartition(64).write.mode("overwrite").parquet(path)
    assert len(glob.glob(f"{path}/*.parquet")) == 64
    n_files = compact_files(spark, path, target_records_per_file=32)
    assert n_files == 2
    assert len(glob.glob(f"{path}/*.parquet")) == 2
    got = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert got == sorted(map(tuple, ev.collect()))


def test_schema_evolution_merge_read(spark, tmp_path):
    """Append-time schema widening read back with mergeSchema — the
    storage-evolution contract a long-lived table relies on."""
    from pyspark.sql import functions as F

    from reduction_dask_spark.sources import load_table

    path = str(tmp_path / "evolve")
    ev = load_table(spark, SF_SMALL, "events")
    ev.select("event_id", "value").limit(10).write.mode("append").parquet(path)
    ev.select("event_id", "value", F.lit("v2").alias("schema_rev")).limit(
        10
    ).write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"event_id", "value", "schema_rev"}
    assert merged.count() == 20
    assert merged.filter(F.col("schema_rev").isNull()).count() == 10


def test_observation_metrics_without_extra_pass(spark):
    """spark.sql.Observation: aggregate metrics collected DURING the
    action (one pass) — the pipeline-health counters a 100 TB job
    wants without re-scanning its input."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from reduction_dask_spark.sources import load_table

    ev = load_table(spark, SF_SMALL, "events")
    obs = Observation("ingest_health")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("null_values"),
        F.round(F.avg("value"), 2).alias("avg_value"),
    )
    n_written = observed.filter(F.col("value") > 0).count()  # the real action
    got = obs.get
    assert got["rows"] == ev.count()
    assert got["null_values"] == 0
    assert got["avg_value"] > 0
    assert n_written <= got["rows"]


def test_zstd_beats_snappy_on_text(spark, tmp_path):
    """Storage-encoding choice is a first-order 100 TB cost lever:
    zstd parquet is materially smaller than snappy on text-heavy
    tables, with identical reads."""
    import glob
    import os

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    sizes = {}
    for codec in ("snappy", "zstd"):
        p = str(tmp_path / codec)
        docs.coalesce(1).write.option("compression", codec).parquet(p)
        sizes[codec] = sum(os.path.getsize(f) for f in glob.glob(f"{p}/*.parquet"))
        assert spark.read.parquet(p).count() == docs.count()
    assert sizes["zstd"] < sizes["snappy"]


def test_dynamic_partition_overwrite_backfill(spark, tmp_path):
    """The idempotent-backfill pattern: with partitionOverwriteMode=
    dynamic, rewriting ONE day's partition replaces only that
    partition — static mode would truncate every other day. This is
    how a 100 TB pipeline re-runs a bad day without touching the
    rest of the table."""
    from pyspark.sql import functions as F

    from reduction_dask_spark.sources import load_table

    out = str(tmp_path / "events_by_day")
    ev = load_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "day", F.to_date("ts")
    )
    ev.write.partitionBy("day").mode("overwrite").parquet(out)
    days = [r.day for r in spark.read.parquet(out).select("day").distinct().collect()]
    assert len(days) > 1
    target = sorted(days)[0]
    before_total = spark.read.parquet(out).count()
    n_target = spark.read.parquet(out).filter(F.col("day") == target).count()

    # backfill the target day with a corrected copy (value doubled)
    fixed = ev.filter(F.col("day") == target).withColumn("value", F.col("value") * 2)
    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        fixed.write.partitionBy("day").mode("overwrite").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)

    after = spark.read.parquet(out)
    assert after.count() == before_total  # no other partition truncated
    assert after.filter(F.col("day") == target).count() == n_target
    # the rewritten day actually carries the corrected values
    orig_sum = ev.filter(F.col("day") == target).agg(F.sum("value")).first()[0]
    new_sum = after.filter(F.col("day") == target).agg(F.sum("value")).first()[0]
    assert abs(new_sum - 2 * orig_sum) < 1e-6


def test_parquet_row_count_matches_spark(spark, tmp_path):
    """r15 (r14 verdict item 6): the footer-metadata row count that
    gates dsir1's pin downgrade must equal the count() a Spark job
    returns — for the single-file testdata layout AND a
    directory-of-parts layout written by Spark itself, also after that
    directory is rewritten."""
    from reduction_dask_spark.sources import parquet_row_count

    want = load_table(spark, SF_SMALL, "documents").count()
    assert parquet_row_count(SF_SMALL, "documents") == want

    # directory-of-parts layout
    out = str(tmp_path / "docs.parquet")
    spark.range(0, 1000, numPartitions=7).toDF("doc_id").write.parquet(out)
    assert parquet_row_count(str(tmp_path), "docs") == 1000
    # a rewrite under the same path is counted again, not served stale
    spark.range(0, 600, numPartitions=3).toDF("doc_id").write.mode("overwrite").parquet(out)
    assert parquet_row_count(str(tmp_path), "docs") == 600
