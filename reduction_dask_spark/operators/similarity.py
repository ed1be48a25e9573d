"""Similarity search over embedding columns (BASELINE.json north-star).

- ss1 brute-force cosine top-k: broadcast the (small) query set, one
  scan of the corpus, per-query heap via window top-k. The exact
  baseline: O(|Q|·n) flops but a single pass, no shuffle of the corpus.
- ss2 random-hyperplane LSH top-k: sign-of-projection bucket (SimHash
  for vectors), equi-join on bucket, exact re-rank inside the bucket.
  The scale path: candidate set shrinks by the bucket fan-out; recall
  trades against bucket count. Planes are derived from portable md5
  hashes, so the whole pipeline is oracle-checkable in DuckDB.
- ss3 kNN label vote: top-k neighbors → majority label (the standard
  embedding-quality probe).
- dd5 embedding near-dup: LSH-bucketed candidate pairs + exact cosine
  threshold (near-dup dedup for embedded corpora).

Dot products run as sequential array folds (F.aggregate / DuckDB
list_dot_product) over identical doubles → bit-identical across
engines; cosines are rounded(5) before ranking with vec_id tie-break.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions import md5i_sql
from ..caching import pin
from ..registry import query
from ..session import local_frame
from ..sources import load_table
from .dedup import (
    exact_members,
    expand_collapsed_labels,
    expand_rep_pairs,
    min_label_components,
    representatives,
)

TOP_K = 5
QUERY_MOD = 50       # query sampling: vec_id % 50 == 0 ...
N_QUERIES = 40       # ... capped at a FIXED batch of 40 — retrieval QPS
QUERY_CAP = QUERY_MOD * N_QUERIES  # doesn't grow with the corpus; an
                     # uncapped %-sample turns every O(|Q|·candidates)
                     # ranker quadratic at scale (rrf1's probe measured
                     # it). A no-op at the driver SFs (max vec_id 1999).
N_PLANES = 6         # 64 LSH buckets — sized for the driver's sf; at scale
                     # 2^planes ≈ n/200 (tests/test_text_retrieval.py)
DIM = 64
NEARDUP_TAU = 0.4


def _vector_members(emb: DataFrame) -> DataFrame:
    """:func:`dedup.exact_members` of the embeddings table (doc_id =
    vec_id), keyed on a portable exact-value fingerprint of the vector
    — dd5's and sem1's quotient. NULL elements are made EXPLICIT
    ('NULL' sentinel) because concat_ws SKIPS nulls: without it
    [1.0,NULL,2.0] and [1.0,2.0,NULL] would share a fingerprint and
    wrongly collapse, fabricating pairs the direct (oracle) plan never
    emits. A cast float never renders as 'NULL', so no collision with
    real values is possible (r12 ADVICE item)."""
    elems = F.transform(
        "embedding", lambda x: F.coalesce(x.cast("string"), F.lit("NULL"))
    )
    return exact_members(
        emb.select(F.col("vec_id").alias("doc_id"), "embedding"),
        key=F.md5(F.concat_ws(",", elems)),
    )


def as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


_COS_SQL = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


# ---------------------------------------------------------------- ss1

_BRUTE_SQL = f"""
    q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv,
                 sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS qn
          FROM embeddings WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {QUERY_CAP}),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS cv,
                 sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS cn
          FROM embeddings),
    scored AS (
        SELECT q.qid, c.vec_id,
               round(list_dot_product(q.qv, c.cv) / (q.qn * c.cn), 5) AS cos
        FROM q CROSS JOIN c WHERE q.qid <> c.vec_id
    ),
    topk AS (
        SELECT qid, vec_id, cos,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
        FROM scored
    )
"""


def brute_force_topk(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    # norms are precomputed per ROW before the |Q|×n pair join: the
    # pair-level expression is then ONE array fold (the q·c dot)
    # instead of three — the self-dots would otherwise be re-evaluated
    # per pair (HOF lambdas are outside common-subexpression
    # elimination). sqrt(dot(a,a))·sqrt(dot(b,b)) is the same float
    # op sequence either way, so the rounded cosines are bit-identical
    # (oracle mirrors the same factoring).
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(
        (F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP)
    ).select(
        F.col("vec_id").alias("qid"), as_double(F.col("embedding")).alias("qv")
    ).withColumn("qn", F.sqrt(dot(F.col("qv"), F.col("qv"))))
    c = emb.select("vec_id", as_double(F.col("embedding")).alias("cv")).withColumn(
        "cn", F.sqrt(dot(F.col("cv"), F.col("cv")))
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("qid") != F.col("vec_id"))
        .select(
            "qid",
            "vec_id",
            F.round(dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 5).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "cos")
    )


@query(
    "ss1_cosine_topk_brute",
    oracle=f"""
        WITH {_BRUTE_SQL}
        SELECT qid, vec_id AS neighbor_id, cos FROM topk WHERE rn <= {TOP_K}
    """,
    doc="ss1 exact cosine top-k: broadcast queries × one corpus scan "
        "(brute-force ANN baseline).",
    tags=("similarity", "bench"),
)
def ss1_cosine_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    return brute_force_topk(spark, sf_dir)


# ---------------------------------------------------------------- ss2

# Portable random hyperplanes: w[p][d] = (md5i('pl:p:d') % 2001 - 1000)/1000
_PLANES_SQL = f"""
    planes AS (
        SELECT CAST(p.range AS INTEGER) AS p, CAST(d.range AS INTEGER) AS d,
               (({md5i_sql("'pl:' || p.range || ':' || d.range")}) % 2001 - 1000) / 1000.0 AS w
        FROM range({N_PLANES}) p, range({DIM}) d
    ),
    melted AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    ),
    sig AS (
        SELECT m.vec_id,
               CAST(sum(CASE WHEN proj >= 0 THEN 1 << p ELSE 0 END) AS INTEGER) AS bucket
        FROM (
            SELECT m.vec_id, pl.p, sum(m.val * pl.w) AS proj
            FROM melted m JOIN planes pl ON m.d = pl.d
            GROUP BY m.vec_id, pl.p
        ) m GROUP BY m.vec_id
    )
"""


def lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, bucket) sign-of-projection LSH bucket per vector."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = (
        spark.range(N_PLANES)
        .select(F.col("id").cast("int").alias("p"))
        .crossJoin(spark.range(DIM).select(F.col("id").cast("int").alias("d")))
        .select(
            "p",
            "d",
            (
                (
                    F.conv(
                        F.substring(F.md5(F.concat_ws("", F.lit("pl:"), F.col("p"), F.lit(":"), F.col("d"))), 1, 8),
                        16,
                        10,
                    ).cast("bigint")
                    % 2001
                    - 1000
                )
                / 1000.0
            ).alias("w"),
        )
    )
    melted = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode("embedding").alias("d", "valf")
    ).select("vec_id", "d", F.col("valf").cast("double").alias("val"))
    proj = (
        melted.join(F.broadcast(planes), "d")
        .groupBy("vec_id", "p")
        .agg(F.sum(F.col("val") * F.col("w")).alias("proj"))
    )
    return proj.groupBy("vec_id").agg(
        F.sum(
            F.when(F.col("proj") >= 0, F.expr("shiftleft(1, p)")).otherwise(F.lit(0))
        ).cast("int").alias("bucket")
    )


@query(
    "ss2_cosine_topk_lsh",
    oracle=f"""
        WITH {_BRUTE_SQL.rstrip()}, {_PLANES_SQL},
        cand AS (
            SELECT s.qid, s.vec_id, s.cos
            FROM scored s
            JOIN sig a ON a.vec_id = s.qid
            JOIN sig b ON b.vec_id = s.vec_id AND b.bucket = a.bucket
        ),
        ctop AS (
            SELECT qid, vec_id, cos,
                   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
            FROM cand
        )
        SELECT qid, vec_id AS neighbor_id, cos FROM ctop WHERE rn <= {TOP_K}
    """,
    doc="ss2 LSH-bucketed approximate top-k: 6 portable random "
        "hyperplanes → 64 sign buckets; candidates = same-bucket "
        "vectors; exact cosine re-rank inside the bucket. At 100 TB "
        "the bucket equi-join replaces the O(|Q|·n) scan; recall is "
        "tunable via plane count / multi-probe.",
    tags=("similarity",),
)
def ss2_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    buckets = lsh_buckets(spark, sf_dir)
    q = (
        emb.filter((F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP))
        .select(F.col("vec_id").alias("qid"), as_double(F.col("embedding")).alias("qv"))
        .join(buckets.select(F.col("vec_id").alias("qid"), "bucket"), "qid")
    )
    c = emb.select("vec_id", as_double(F.col("embedding")).alias("cv")).join(buckets, "vec_id")
    cand = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", F.round(cosine(F.col("qv"), F.col("cv")), 5).alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "cos")
    )


# ---------------------------------------------------------------- ss3

@query(
    "ss3_knn_label_vote",
    oracle=f"""
        WITH {_BRUTE_SQL},
        nb AS (
            SELECT t.qid, e.label FROM topk t
            JOIN embeddings e ON e.vec_id = t.vec_id
            WHERE t.rn <= {TOP_K}
        ),
        votes AS (
            SELECT qid, label, count(*) AS n FROM nb GROUP BY qid, label
        ),
        best AS (
            SELECT qid, label, row_number() OVER (PARTITION BY qid ORDER BY n DESC, label) AS rn
            FROM votes
        )
        SELECT qid, label AS pred_label FROM best WHERE rn = 1
    """,
    doc="ss3 kNN majority-label vote over ss1's top-k — embedding "
        "quality probe (labels are the embeddings table's clusters).",
    tags=("similarity",),
)
def ss3_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    topk = brute_force_topk(spark, sf_dir)
    nb = topk.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), "label"), "neighbor_id"
    )
    votes = nb.groupBy("qid", "label").agg(F.count("*").alias("n"))
    w = Window.partitionBy("qid").orderBy(F.desc("n"), F.asc("label"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("label").alias("pred_label"))
    )


# ---------------------------------------------------------------- dd5

@query(
    "dd5_embedding_neardup",
    oracle=f"""
        WITH {_PLANES_SQL},
        v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        cand AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        )
        SELECT c.id_a, c.id_b,
               round({_COS_SQL.format(a='va.ev', b='vb.ev')}, 5) AS cos
        FROM cand c
        JOIN v va ON va.vec_id = c.id_a
        JOIN v vb ON vb.vec_id = c.id_b
        WHERE {_COS_SQL.format(a='va.ev', b='vb.ev')} >= {NEARDUP_TAU}
    """,
    doc="dd5 embedding-cosine near-dup pairs: LSH bucket candidates + "
        "exact cosine ≥ τ. Same banded-candidates shape as dd3/dd4 — "
        "cost scales with bucket collisions, not n². r12: EXACT-"
        "duplicate vectors collapse to their min-id representative "
        "BEFORE candidate generation (the text family's exact-before-"
        "fuzzy move, sem1's quotient, applied to the pair op itself): "
        "bit-identical vectors share every LSH bucket and every "
        "cosine, so the bucket self-join and the cosine evaluations "
        "run on DISTINCT vectors only, then qualifying representative "
        "pairs EXPAND back to member pairs (cross groups via "
        "least/greatest ordering; intra-group pairs carry the "
        "vector's self-cosine through the same ≥ τ filter, which "
        "also excludes zero vectors exactly like the direct plan). "
        "Output is pair-for-pair identical to the uncollapsed oracle; "
        "under a k-way duplicated corpus the candidate/cosine mass "
        "drops ~k² while only the unavoidable output expansion "
        "remains (×10 sweep row: 69.6 s → see SCALING.md).",
    tags=("dedup", "similarity"),
)
def dd5_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    members = _vector_members(emb)
    rep_ids = representatives(members).select(F.col("doc_id").alias("vec_id"))
    rv = (
        emb.join(rep_ids, "vec_id", "left_semi")
        .select(F.col("vec_id").alias("doc_id"), as_double(F.col("embedding")).alias("ev"))
    )
    rbuckets = lsh_buckets(spark, sf_dir).join(rep_ids, "vec_id", "left_semi")
    a = rbuckets.select(F.col("vec_id").alias("doc_a"), "bucket")
    b = rbuckets.select(F.col("vec_id").alias("doc_b"), "bucket")
    cand = (
        a.join(b, "bucket").filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    va = rv.select(F.col("doc_id").alias("doc_a"), F.col("ev").alias("ea"))
    vb = rv.select(F.col("doc_id").alias("doc_b"), F.col("ev").alias("eb"))
    cos = cosine(F.col("ea"), F.col("eb"))
    rp = (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .filter(cos >= NEARDUP_TAU)
        .select("doc_a", "doc_b", F.round(cos, 5).alias("cos"))
    )
    # intra-group pairs: every two copies of the same vector, carrying
    # the vector's self-cosine through the SAME ≥ τ filter (zero
    # vectors self-cos to NaN/NULL in both engines and drop out)
    selfcos = cosine(F.col("ev"), F.col("ev"))
    alive = rv.filter(selfcos >= NEARDUP_TAU).select(
        F.col("doc_id").alias("rep_id"), F.round(selfcos, 5).alias("self_cos")
    )
    return expand_rep_pairs(members, rp, "cos", F.col("self_cos"), alive=alive).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"), "cos"
    )


# ---------------------------------------------------------------- ss4

CENT_MOD = 53     # centroid set = vec_id % 53 == 0 (IVF coarse quantizer)
N_CENTROIDS = 40  # capped at a FIXED centroid count: an uncapped %-sample
CENT_CAP = CENT_MOD * N_CENTROIDS  # grows the quantizer linearly with the
                  # corpus (x100 probe: 21x) — with a fixed coarse codebook
                  # the demo degrades gracefully to linear list scans; real
                  # sizing is k ~ sqrt(n) lists (tests/test_text_retrieval.py)
                  # + ss7's trained k-means lists. A no-op at the driver SFs.
N_PROBE = 2


_IVF_SQL = f"""
    cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cvv FROM embeddings
             WHERE vec_id % {CENT_MOD} = 0 AND vec_id < {CENT_CAP}),
    allv AS (SELECT vec_id, embedding::DOUBLE[] AS vv FROM embeddings),
    assign0 AS (
        SELECT a.vec_id, c.cid,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY round({_COS_SQL.format(a='a.vv', b='c.cvv')}, 5) DESC, c.cid
               ) AS crn
        FROM allv a CROSS JOIN cent c
    ),
    assign AS (SELECT vec_id, cid FROM assign0 WHERE crn = 1),
    qprobe AS (
        SELECT vec_id AS qid, cid, crn FROM assign0
        WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {QUERY_CAP} AND crn <= {N_PROBE}
    )
"""


@query(
    "ss4_cosine_topk_ivf",
    oracle=f"""
        WITH {_IVF_SQL},
        cand AS (
            SELECT q.qid, a.vec_id,
                   round({_COS_SQL.format(a='qv.vv', b='cv.vv')}, 5) AS cos
            FROM qprobe q
            JOIN assign a ON a.cid = q.cid AND a.vec_id <> q.qid
            JOIN allv qv ON qv.vec_id = q.qid
            JOIN allv cv ON cv.vec_id = a.vec_id
        ),
        ctop AS (
            SELECT qid, vec_id, cos,
                   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
            FROM cand
        )
        SELECT qid, vec_id AS neighbor_id, cos FROM ctop WHERE rn <= {TOP_K}
    """,
    doc="ss4 IVF-style approximate top-k: a deterministic coarse "
        "quantizer (hash-chosen centroid vectors) partitions the corpus "
        "into inverted lists; queries probe their N_PROBE nearest lists "
        "and exact-rerank inside. The centroid assignment is one "
        "broadcast-centroids scan; at 100 TB the inverted lists are the "
        "partitioning scheme itself (cluster-pruned scans), the "
        "standard IVF-flat trade of recall vs probes.",
    tags=("similarity",),
)
def ss4_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = ivf_scored_candidates(spark, sf_dir)
    wq = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        cand.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "cos")
    )


_IDCG = sum((TOP_K - r + 1) / math.log2(r + 1) for r in range(1, TOP_K + 1))


@query(
    "ndcg1_ann_quality",
    oracle=f"""
        WITH {_BRUTE_SQL.rstrip()}, {_IVF_SQL},
        icand AS (
            SELECT q.qid, a.vec_id,
                   round({_COS_SQL.format(a='qv.vv', b='cv.vv')}, 5) AS cos
            FROM qprobe q
            JOIN assign a ON a.cid = q.cid AND a.vec_id <> q.qid
            JOIN allv qv ON qv.vec_id = q.qid
            JOIN allv cv ON cv.vec_id = a.vec_id
        ),
        ap AS (
            SELECT qid, vec_id, rn AS ap_rn FROM (
                SELECT qid, vec_id,
                       row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
                FROM icand
            ) WHERE rn <= {TOP_K}
        ),
        exk AS (SELECT qid, vec_id, rn AS ex_rn FROM topk WHERE rn <= {TOP_K}),
        jm AS (
            SELECT ap.qid, ap.ap_rn, exk.ex_rn
            FROM ap LEFT JOIN exk ON ap.qid = exk.qid AND ap.vec_id = exk.vec_id
        ),
        per AS (
            SELECT qid,
                   round(count(ex_rn) / {float(TOP_K)!r}, 6) AS recall_at_k,
                   round(max(CASE WHEN ex_rn = 1 THEN 1.0 / ap_rn ELSE 0.0 END), 6) AS mrr,
                   round(sum((CASE WHEN ex_rn IS NOT NULL
                                   THEN {TOP_K} - ex_rn + 1 ELSE 0 END)
                             / log2(ap_rn + 1) ORDER BY ap_rn) / {_IDCG!r}, 6) AS ndcg
            FROM jm GROUP BY qid
        )
        SELECT q.qid,
               coalesce(per.recall_at_k, 0.0) AS recall_at_k,
               coalesce(per.mrr, 0.0) AS mrr,
               coalesce(per.ndcg, 0.0) AS ndcg
        FROM (SELECT DISTINCT qid FROM exk) q LEFT JOIN per USING (qid)
    """,
    doc=f"ndcg1 ANN retrieval-quality evaluation — the standard "
        "recall/MRR/nDCG@k report every vector-search deployment runs "
        "before trading exactness for speed: ss4's IVF approximate "
        f"top-{TOP_K} is judged against ss1's exact brute-force "
        "ranking (graded relevance = inverted exact rank, so a "
        "near-miss at rank 2 scores higher than one at rank 5). "
        "Scale shape: both sides are the already-bucketed/broadcast "
        "pipelines; the eval itself joins two |queries|×k relations — "
        "negligible. Cross-engine float determinism: the DCG sum "
        "folds in ap_rn order on BOTH engines (sort_array+aggregate "
        "in Spark, ordered aggregate in DuckDB), so the IEEE op "
        "sequence is identical; MRR and recall are single divisions.",
    tags=("similarity", "metric"),
)
def ndcg1_ann_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = TOP_K
    wq = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    ex = (
        brute_force_topk(spark, sf_dir)
        .withColumn("ex_rn", F.row_number().over(wq))
        .select("qid", "neighbor_id", "ex_rn")
    )
    ap = (
        ss4_cosine_topk_ivf(spark, sf_dir)
        .withColumn("ap_rn", F.row_number().over(wq))
        .select("qid", "neighbor_id", "ap_rn")
    )
    j = ap.join(ex, ["qid", "neighbor_id"], "left")
    rel = F.when(
        F.col("ex_rn").isNotNull(), F.lit(k) - F.col("ex_rn") + 1
    ).otherwise(F.lit(0))
    term = rel.cast("double") / F.log2(F.col("ap_rn") + 1)
    per = j.groupBy("qid").agg(
        F.round(F.count("ex_rn") / F.lit(float(k)), 6).alias("recall_at_k"),
        F.round(
            F.max(
                F.when(F.col("ex_rn") == 1, F.lit(1.0) / F.col("ap_rn")).otherwise(0.0)
            ),
            6,
        ).alias("mrr"),
        F.round(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct(F.col("ap_rn"), term.alias("t")))),
                F.lit(0.0),
                lambda acc, s: acc + s["t"],
            )
            / F.lit(_IDCG),
            6,
        ).alias("ndcg"),
    )
    qids = ex.select("qid").distinct()
    return qids.join(per, "qid", "left").select(
        "qid",
        F.coalesce("recall_at_k", F.lit(0.0)).alias("recall_at_k"),
        F.coalesce("mrr", F.lit(0.0)).alias("mrr"),
        F.coalesce("ndcg", F.lit(0.0)).alias("ndcg"),
    )


def ivf_scored_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, vec_id, cos) IVF-probed candidates, exact-scored — the
    shared candidate-generation stage of ss4 (plain top-k) and ss8b
    (cross-label hard negatives)."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    allv = emb.select("vec_id", as_double(F.col("embedding")).alias("vv"))
    # centroid matrix driver-side (the coarse quantizer is the model,
    # not data), sorted by cid so argmax ties resolve to the lowest cid
    cpdf = (
        emb.filter((F.col("vec_id") % CENT_MOD == 0) & (F.col("vec_id") < CENT_CAP))
        .select(F.col("vec_id").alias("cid"), as_double(F.col("embedding")).alias("cvv"))
        .orderBy("cid")
        .toPandas()
    )
    cids = cpdf["cid"].to_numpy()
    C = np.stack(cpdf["cvv"].to_numpy()).astype(np.float64)
    cnorm = np.sqrt((C * C).sum(axis=1))
    bc = spark.sparkContext.broadcast((cids, C, cnorm))

    # ONE Arrow-BLAS scan scores the corpus against all centroids
    # ((batch × d) @ (d × |C|) matmul — the dense-linear-algebra hot
    # path where numpy beats per-element JVM expressions, same pattern
    # as ss1b) and emits both roles: list assignment (argmax, ties →
    # lowest cid) for every vector, probe lists (top-N_PROBE) for the
    # query subset. No corpus×centroids relation ever materializes.
    def assign_probe(batches):
        cids, C, cnorm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["vv"].to_numpy()).astype(np.float64)
            vid = pdf["vec_id"].to_numpy()
            xnorm = np.sqrt((X * X).sum(axis=1))
            S = np.round((X @ C.T) / (xnorm[:, None] * cnorm[None, :]), 5)
            out = [pd.DataFrame({"vec_id": vid, "cid": cids[S.argmax(axis=1)],
                                 "probe": np.zeros(len(vid), dtype=np.int32)})]
            qmask = (vid % QUERY_MOD == 0) & (vid < QUERY_CAP)
            if qmask.any():
                Sq = S[qmask]
                top = np.argsort(-Sq, axis=1, kind="stable")[:, :N_PROBE]
                out.append(
                    pd.DataFrame(
                        {
                            "vec_id": np.repeat(vid[qmask], N_PROBE),
                            "cid": cids[top].ravel(),
                            "probe": np.ones(top.size, dtype=np.int32),
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    marked = pin(allv.mapInPandas(assign_probe, "vec_id long, cid long, probe int"))
    assign = marked.filter(F.col("probe") == 0).select("vec_id", "cid")
    qprobe = marked.filter(F.col("probe") == 1).select(F.col("vec_id").alias("qid"), "cid")
    cand = (
        qprobe.join(assign, "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .join(allv.select(F.col("vec_id").alias("qid"), F.col("vv").alias("qv")), "qid")
        .join(allv, "vec_id")
        .select("qid", "vec_id", F.round(cosine(F.col("qv"), F.col("vv")), 5).alias("cos"))
    )
    return cand


# ------------------------------------------------------------- kmeans

KM_K = 10
KM_ITERS = 5


def kmeans_fit(df: DataFrame, k: int = KM_K, iters: int = KM_ITERS):
    """Distributed Lloyd's k-means over a (vec_id, vv array<double>)
    frame — the trained coarse quantizer ss4's IVF would use instead of
    hash-chosen centroids.

    Per iteration: ONE Arrow-BLAS :func:`ml.sum_partials` pass, with
    the k×d centroid matrix in the partial's closure, computes
    per-partition [sum | count] vectors per cid — assignment happens
    inside the batch matmul, so no corpus×k crossJoin relation, no
    per-vector argmin window shuffle. Each partition emits at most k
    (d+1)-float vectors; the driver holds only k×d floats.
    Deterministic: init = hash-chosen rows, argmin ties → lowest cid
    (numpy argmin picks the first index)."""
    import numpy as np

    from ..ml import arrow_matrix, sum_partials

    # every Lloyd iteration rescans the corpus; pin it once for the fit
    # (scope-local: released before returning the k×d model)
    df = df.persist()
    try:
        cents = (
            df.filter((F.col("vec_id") % CENT_MOD == 0) & (F.col("vec_id") < CENT_CAP))
            .orderBy("vec_id")
            .limit(k)
            .select(F.col("vec_id"), F.col("vv"))
            .toPandas()
        )
        centroids = np.stack(cents["vv"].to_numpy()).astype(float)
        vv = df.select("vv")
        for _ in range(iters):

            def partial(batches, C=centroids):
                kk, d = C.shape
                cnorm = (C * C).sum(axis=1)
                sums = np.zeros((kk, d))
                counts = np.zeros(kk)
                for rb in batches:
                    if not rb.num_rows:
                        continue
                    X = arrow_matrix(rb.column("vv"), d).astype(np.float64, copy=False)
                    d2 = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + cnorm[None, :]
                    a = d2.argmin(axis=1)
                    np.add.at(sums, a, X)
                    counts += np.bincount(a, minlength=kk)
                return {
                    (int(c),): np.append(sums[c], counts[c]) for c in np.nonzero(counts)[0]
                }

            new_centroids = centroids.copy()
            for (c,), v in sum_partials(vv, partial).items():
                new_centroids[c] = v[:-1] / v[-1]
            if np.allclose(new_centroids, centroids, atol=1e-12):
                centroids = new_centroids
                break
            centroids = new_centroids
    finally:
        df.unpersist()
    return centroids


@query(
    "km1_kmeans_quantizer",
    oracle=None,  # iterative fit; numpy-parity tested
    doc="km1 distributed Lloyd's k-means (trained IVF coarse "
        "quantizer): per iteration one assign pass whose per-partition "
        "[sum | count] vectors ml.sum_partials adds; driver state is "
        "k×d floats. Returns final (vec_id, cid, d2) assignments.",
    tags=("similarity", "ml"),
)
def km1_kmeans_quantizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    df = emb.select("vec_id", as_double(F.col("embedding")).alias("vv"))
    centroids = kmeans_fit(df)
    cent_df = local_frame(
        spark,
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cid int, cv array<double>",
    )
    d2 = F.aggregate(
        F.zip_with(F.col("vv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = df.crossJoin(F.broadcast(cent_df)).select("vec_id", "cid", F.round(d2, 5).alias("d2"))
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cid"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")


# ---------------------------------------------------------------- ss5

@query(
    "ss5_multiprobe_lsh",
    oracle=f"""
        WITH {{BRUTE}}, {{PLANES}},
        probes AS (
            SELECT a.vec_id AS qid,
                   CASE WHEN p.range = 0 THEN a.bucket
                        ELSE xor(a.bucket, CAST(1 << (p.range - 1) AS INTEGER)) END AS bucket
            FROM sig a, range({N_PLANES} + 1) p
            WHERE a.vec_id % {QUERY_MOD} = 0 AND a.vec_id < {QUERY_CAP}
        ),
        cand AS (
            SELECT DISTINCT s.qid, s.vec_id, s.cos
            FROM scored s
            JOIN probes pr ON pr.qid = s.qid
            JOIN sig b ON b.vec_id = s.vec_id AND b.bucket = pr.bucket
        ),
        ctop AS (
            SELECT qid, vec_id, cos,
                   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
            FROM cand
        )
        SELECT qid, vec_id AS neighbor_id, cos FROM ctop WHERE rn <= {TOP_K}
    """.format(BRUTE=_BRUTE_SQL.rstrip(), PLANES=_PLANES_SQL),
    doc="ss5 multi-probe LSH top-k: each query probes its own sign "
        "bucket PLUS the 6 buckets at Hamming distance 1 (one plane "
        "flipped) — the standard recall lever that avoids doubling the "
        "table count. Candidate set grows ~7× but stays "
        "bucket-bounded; the probe fan-out is an exploded broadcast "
        "join, never a corpus shuffle. Recall vs ss2 is asserted in "
        "tests.",
    tags=("similarity",),
)
def ss5_multiprobe_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    buckets = lsh_buckets(spark, sf_dir)
    probe_arr = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(N_PLANES)]
    )
    q = (
        emb.filter((F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP))
        .select(F.col("vec_id").alias("qid"), as_double(F.col("embedding")).alias("qv"))
        .join(buckets.select(F.col("vec_id").alias("qid"), "bucket"), "qid")
        .select("qid", "qv", F.explode(probe_arr).alias("bucket"))
    )
    c = emb.select("vec_id", as_double(F.col("embedding")).alias("cv")).join(buckets, "vec_id")
    cand = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", F.round(cosine(F.col("qv"), F.col("cv")), 5).alias("cos"))
        .distinct()
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "cos")
    )


# ---------------------------------------------------------------- ss6

PQ_M = 8              # subspaces (64 dims → 8 dims per subspace)
PQ_SUB = DIM // PQ_M
PQ_K = 16             # codewords per subspace
PQ_MOD = 31           # codebook rows = first 16 vectors with vec_id % 31 == 0

_PQ_SQL = f"""
    cb AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding::DOUBLE[] AS cw
        FROM embeddings WHERE vec_id % {PQ_MOD} = 0 ORDER BY vec_id LIMIT {PQ_K}
    ),
    cbm AS (
        SELECT c, CAST(m.range AS INTEGER) AS m,
               cw[1 + {PQ_SUB} * m.range : {PQ_SUB} + {PQ_SUB} * m.range] AS sub,
               list_dot_product(cw[1 + {PQ_SUB} * m.range : {PQ_SUB} + {PQ_SUB} * m.range],
                                cw[1 + {PQ_SUB} * m.range : {PQ_SUB} + {PQ_SUB} * m.range]) AS n2
        FROM cb, range({PQ_M}) m
    ),
    vm AS (
        SELECT vec_id, CAST(m.range AS INTEGER) AS m,
               (embedding::DOUBLE[])[1 + {PQ_SUB} * m.range : {PQ_SUB} + {PQ_SUB} * m.range] AS sub
        FROM embeddings, range({PQ_M}) m
    ),
    codes AS (
        SELECT vec_id, m, c FROM (
            SELECT vm.vec_id, vm.m, cbm.c,
                   row_number() OVER (PARTITION BY vm.vec_id, vm.m
                                      ORDER BY list_distance(vm.sub, cbm.sub), cbm.c) AS rn
            FROM vm JOIN cbm USING (m)
        ) WHERE rn = 1
    ),
    qm AS (
        SELECT e.vec_id AS qid, vm.m, vm.sub,
               sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) AS qnorm
        FROM embeddings e JOIN vm ON vm.vec_id = e.vec_id
        WHERE e.vec_id % {QUERY_MOD} = 0 AND e.vec_id < {QUERY_CAP}
    ),
    qdot AS (
        SELECT q.qid, q.m, cbm.c, q.qnorm,
               list_dot_product(q.sub, cbm.sub) AS dp, cbm.n2
        FROM qm q JOIN cbm ON q.m = cbm.m
    ),
    adc AS (
        SELECT d.qid, co.vec_id,
               round(sum(d.dp) / (max(d.qnorm) * sqrt(sum(d.n2))), 5) AS adc_cos
        FROM codes co JOIN qdot d ON d.m = co.m AND d.c = co.c
        WHERE d.qid <> co.vec_id
        GROUP BY d.qid, co.vec_id
    ),
    atop AS (
        SELECT qid, vec_id, adc_cos,
               row_number() OVER (PARTITION BY qid ORDER BY adc_cos DESC, vec_id) AS rn
        FROM adc
    )
"""


@query(
    "ss6_pq_adc_topk",
    oracle=f"""
        WITH {_PQ_SQL}
        SELECT qid, vec_id AS neighbor_id, adc_cos FROM atop WHERE rn <= {TOP_K}
    """,
    doc=f"ss6 product-quantization ANN: vectors compressed to {PQ_M} "
        f"sub-space codes ({PQ_K} deterministic codewords each — "
        f"{PQ_M}×4 bits/vector vs {DIM}×4 bytes, a 128× memory cut), "
        "queries scored by Asymmetric Distance Computation: "
        "score(q, x) ≈ Σ_m  dot(q_m, codeword[m][code_m(x)]), i.e. "
        f"{PQ_M} table lookups per candidate instead of {DIM} "
        "multiplies. All relational: encode = broadcast-codebook "
        "argmin, ADC = melted-code join on (m, code) + groupBy sum — "
        "at 100 TB the scored relation carries 2 ints + 1 double per "
        "(query, vector, subspace), never the raw vectors.",
    tags=("similarity",),
)
def ss6_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", as_double(F.col("embedding")).alias("vv"))
    # codebook = the trained model (PQ_K × DIM doubles, bounded by
    # construction) — built driver-side like ss4/ss7's quantizers:
    # TakeOrderedAndProject pulls the PQ_K sample rows, the driver
    # assigns contiguous code ids, and the result broadcasts back.
    # No global window (a constant-key window constant-folds to an
    # empty partition spec and single-partitions the node).
    cpdf = v.filter(F.col("vec_id") % PQ_MOD == 0).orderBy("vec_id").limit(PQ_K).toPandas()
    cb = local_frame(
        spark,
        [(int(i), [float(x) for x in vv]) for i, vv in enumerate(cpdf["vv"])],
        "c int, cw array<double>",
    )
    m_ids = list(range(PQ_M))
    sub = lambda col, m: F.slice(col, 1 + PQ_SUB * m, PQ_SUB)  # noqa: E731
    # (c, m, sub, n2): codebook melted per subspace, broadcast everywhere
    cbm = cb.select(
        "c",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(m).cast("int").alias("m"),
                    sub(F.col("cw"), m).alias("sub"),
                    dot(sub(F.col("cw"), m), sub(F.col("cw"), m)).alias("n2"),
                )
                for m in m_ids
            ])
        ).alias("s"),
    ).select("c", "s.m", "s.sub", "s.n2")
    # encode: per (vec, m) argmin_c ||v_m - cw_c,m||² — min over a struct
    # gives deterministic c tie-break
    vm = v.select(
        "vec_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(m).cast("int").alias("m"), sub(F.col("vv"), m).alias("sub"))
                for m in m_ids
            ])
        ).alias("s"),
    ).select("vec_id", "s.m", F.col("s.sub").alias("vsub"))
    d2 = F.aggregate(
        F.zip_with(F.col("vsub"), F.col("sub"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    codes = (
        vm.join(F.broadcast(cbm), "m")
        .select("vec_id", "m", F.struct(F.sqrt(d2).alias("d"), F.col("c").cast("double").alias("cd")).alias("k"), "c")
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct(F.col("k.d"), F.col("k.cd"))).alias("best"))
        .select("vec_id", "m", F.col("best.cd").cast("int").alias("c"))
    )
    # qdot: per (query, m, c) partial dot + codeword norm²  (|Q|·M·K rows)
    q = v.filter((F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP)).select(
        F.col("vec_id").alias("qid"), F.col("vv").alias("qv"), F.sqrt(dot(F.col("vv"), F.col("vv"))).alias("qnorm")
    )
    qm = q.select(
        "qid", "qnorm",
        F.explode(
            F.array(*[
                F.struct(F.lit(m).cast("int").alias("m"), sub(F.col("qv"), m).alias("qsub"))
                for m in m_ids
            ])
        ).alias("s"),
    ).select("qid", "qnorm", "s.m", "s.qsub")
    qdot = qm.join(F.broadcast(cbm), "m").select(
        "qid", "m", "c", "qnorm", dot(F.col("qsub"), F.col("sub")).alias("dp"), "n2"
    )
    adc = (
        codes.join(F.broadcast(qdot), ["m", "c"])
        .filter(F.col("qid") != F.col("vec_id"))
        .groupBy("qid", "vec_id")
        .agg(
            F.round(
                F.sum("dp") / (F.max("qnorm") * F.sqrt(F.sum("n2"))), 5
            ).alias("adc_cos")
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("adc_cos"), F.asc("vec_id"))
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "adc_cos")
    )


# ---------------------------------------------------------------- ss1b

@query(
    "ss1b_cosine_topk_blas",
    oracle=f"""
        WITH {{BRUTE}}
        SELECT qid, vec_id AS neighbor_id, cos FROM topk WHERE rn <= {TOP_K}
    """.format(BRUTE=_BRUTE_SQL.rstrip()),
    doc="ss1b exact cosine top-k, BLAS form: the one hot path where "
        "per-element JVM expressions lose to Python — dense linear "
        "algebra. The query matrix broadcasts once; each Arrow batch "
        "of the corpus is scored with a single numpy matmul "
        "(batch × dim) @ (dim × |Q|) and reduced to a per-partition "
        "partial top-k, so the shuffle carries |partitions|·|Q|·k "
        "candidate rows instead of |corpus|·|Q| scored pairs. Same "
        "result set as ss1 (parity-tested); the pattern that wins at "
        "100 TB: brute-force scoring stays scan-shaped, only partial "
        "heaps move.",
    tags=("similarity", "bench"),
)
def ss1b_cosine_topk_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    qpdf = (
        emb.filter((F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP))
        .select("vec_id", as_double(F.col("embedding")).alias("qv"))
        .toPandas()
    )
    qids = qpdf["vec_id"].to_numpy()
    Q = np.stack(qpdf["qv"].to_numpy()).astype(np.float64)
    qnorm = np.sqrt((Q * Q).sum(axis=1))
    bq = spark.sparkContext.broadcast((qids, Q, qnorm))
    k = TOP_K

    def score(batches):
        qids, Q, qnorm = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            vid = pdf["vec_id"].to_numpy()
            xnorm = np.sqrt((X * X).sum(axis=1))
            S = (X @ Q.T) / (xnorm[:, None] * qnorm[None, :])
            out = []
            for j, qid in enumerate(qids):
                idx = np.nonzero(vid != qid)[0]
                svals = np.round(S[idx, j], 5)
                order = np.lexsort((vid[idx], -svals))[:k]
                sel = idx[order]
                out.append(
                    pd.DataFrame({"qid": qid, "vec_id": vid[sel], "cos": svals[order]})
                )
            yield pd.concat(out, ignore_index=True)

    part = emb.select("vec_id", as_double(F.col("embedding")).alias("cv")).mapInPandas(
        score, "qid long, vec_id long, cos double"
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        part.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "cos")
    )


# ---------------------------------------------------------------- ss7

IVFPQ_NPROBE = 3
IVFPQ_SAMPLE = 2000   # driver-side residual sample for codebook training


def _train_subcodebooks(residuals, m: int = PQ_M, k: int = PQ_K, iters: int = 10):
    """Per-subspace Lloyd's k-means on a driver-resident residual sample
    (n×d numpy). Codebooks are tiny (m·k·(d/m) floats); training on a
    bounded sample is the standard IVF-PQ recipe (Jégou et al. 2011) —
    at 100 TB the sample is still IVFPQ_SAMPLE rows, collected via a
    deterministic hash-ordered limit, never a full-corpus pull.
    Deterministic: init = first k distinct subvectors in row order."""
    import numpy as np

    d = residuals.shape[1]
    sub_d = d // m
    books = []
    for mi in range(m):
        X = residuals[:, mi * sub_d : (mi + 1) * sub_d]
        _, first = np.unique(X.round(9), axis=0, return_index=True)
        init = X[np.sort(first)[:k]]
        C = np.vstack([init, np.zeros((max(0, k - len(init)), sub_d))])
        for _ in range(iters):
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            lab = d2.argmin(axis=1)
            newC = C.copy()
            for c in range(k):
                hit = lab == c
                if hit.any():
                    newC[c] = X[hit].mean(axis=0)
            if np.allclose(newC, C, atol=1e-12):
                C = newC
                break
            C = newC
        books.append(C)
    return books


@query(
    "ss7_ivfpq_topk",
    oracle=None,  # iterative training; recall-vs-exact asserted in tests
    doc="ss7 trained IVF-PQ (km1 ∘ ss6 composed into the real index): "
        "(1) coarse quantizer = distributed Lloyd's k-means (km1's "
        "kmeans_fit) → inverted lists; (2) residuals v − centroid[cid] "
        f"PQ-encoded with per-subspace codebooks ({PQ_M}×{PQ_K} "
        "codewords) trained on a deterministic driver-side sample; "
        "(3) queries probe their IVFPQ_NPROBE nearest lists and score "
        "candidates by Asymmetric Distance: per (query, probed-list) a "
        f"{PQ_M}×{PQ_K} lookup table of ||q'_m − cw||² is built once, "
        "then each candidate costs PQ_M joins-by-code + a sum — the "
        "scored relation carries ints, never vectors. At 100 TB the "
        "inverted lists ARE the partitioning (cluster-pruned scans), "
        "codes are 4 bits/subspace (128× memory cut), and the lookup "
        "tables broadcast at |Q|·nprobe·m·k doubles.",
    tags=("similarity", "ml"),
)
def ss7_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", as_double(F.col("embedding")).alias("vv"))
    centroids = kmeans_fit(v)  # coarse quantizer, KM_K × DIM
    cent_df = local_frame(
        spark,
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cid int, cv array<double>",
    )
    d2 = F.aggregate(
        F.zip_with(F.col("vv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    # codebooks from a deterministic hash-ordered vector sample:
    # orderBy+limit is TakeOrderedAndProject (per-partition partial
    # top-k, never a full sort); assignment + residual for the bounded
    # sample happen driver-side in numpy.
    sample = (
        v.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(IVFPQ_SAMPLE)
        .select("vv")
        .toPandas()
    )
    sx = np.stack(sample["vv"].to_numpy()).astype(np.float64)
    cnorm = (centroids * centroids).sum(axis=1)
    sa = (
        (sx * sx).sum(axis=1)[:, None] - 2.0 * (sx @ centroids.T) + cnorm[None, :]
    ).argmin(axis=1)
    books = _train_subcodebooks(sx - centroids[sa])
    cbm = local_frame(
        spark,
        [
            (int(m), int(c), [float(x) for x in books[m][c]])
            for m in range(PQ_M)
            for c in range(PQ_K)
        ],
        "m int, c int, sub array<double>",
    )

    # assign + PQ-encode in ONE Arrow pass: broadcast the k×d centroid
    # matrix and the m×k×sub codebook tensor, then per batch a BLAS
    # matmul picks the list and a per-subspace matmul picks the 4-bit
    # code — no corpus×k crossJoin relation, no per-vector argmin
    # window shuffle, no n×m×k Catalyst distance evaluations. Ties
    # break to the lowest cid/code (numpy argmin = first index).
    bc_c = spark.sparkContext.broadcast(centroids)
    bc_b = spark.sparkContext.broadcast(np.stack(books))

    def encode(batches, _bc_c=bc_c, _bc_b=bc_b):
        C, B = _bc_c.value, _bc_b.value
        cn = (C * C).sum(axis=1)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["vv"].to_numpy()).astype(np.float64)
            cid = (
                (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + cn[None, :]
            ).argmin(axis=1)
            R = X - C[cid]
            cols = []
            for m in range(PQ_M):
                S = R[:, PQ_SUB * m : PQ_SUB * (m + 1)]
                Bm = B[m]
                dm = (
                    (S * S).sum(axis=1)[:, None]
                    - 2.0 * (S @ Bm.T)
                    + (Bm * Bm).sum(axis=1)[None, :]
                )
                cols.append(dm.argmin(axis=1))
            cw = np.stack(cols, axis=1).astype(np.int32)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cid": cid.astype(np.int32),
                    "codes": [list(row) for row in cw],
                }
            )

    codes = (
        v.mapInPandas(encode, "vec_id long, cid int, codes array<int>")
        .select("vec_id", "cid", F.posexplode("codes").alias("m", "c"))
    )

    # query side: nprobe nearest lists, then per (qid, cid, m, c) the ADC
    # lookup table ||(q − centroid)_m − cw||² — |Q|·nprobe·m·k rows, broadcast
    sub = lambda col, m: F.slice(col, 1 + PQ_SUB * m, PQ_SUB)  # noqa: E731
    probes = (
        v.filter((F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP))
        .crossJoin(F.broadcast(cent_df))
        .select(F.col("vec_id").alias("qid"), "vv", "cv", "cid", d2.alias("d2"))
        .withColumn("crn", F.row_number().over(
            Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("cid"))
        ))
        .filter(F.col("crn") <= IVFPQ_NPROBE)
        .select("qid", "cid", F.zip_with("vv", "cv", lambda a, b: a - b).alias("qr"))
    )
    qm = probes.select(
        "qid",
        "cid",
        F.explode(
            F.array(*[
                F.struct(F.lit(m).cast("int").alias("m"), sub(F.col("qr"), m).alias("rsub"))
                for m in range(PQ_M)
            ])
        ).alias("s"),
    ).select("qid", "cid", "s.m", F.col("s.rsub").alias("qsub"))
    qd2 = F.aggregate(
        F.zip_with(F.col("qsub"), F.col("sub"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    qtab = qm.join(F.broadcast(cbm), "m").select("qid", "cid", "m", "c", qd2.alias("dt"))

    # ADC score: candidates come ONLY from probed lists (join on cid)
    adc = (
        codes.join(F.broadcast(qtab), ["cid", "m", "c"])
        .filter(F.col("qid") != F.col("vec_id"))
        .groupBy("qid", "vec_id")
        .agg(F.round(F.sum("dt"), 5).alias("adc_d2"))
    )
    wq = Window.partitionBy("qid").orderBy(F.asc("adc_d2"), F.asc("vec_id"))
    return (
        adc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "adc_d2")
    )


# ---------------------------------------------------------------- emb1

@query(
    "emb1_embedding_profile",
    oracle="""
        WITH melted AS (
            SELECT generate_subscripts(embedding, 1) - 1 AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings
        )
        SELECT CAST(dim AS INTEGER) AS dim,
               CAST(count(*) AS BIGINT) AS n,
               round(avg(v), 6) AS mean_v,
               round(stddev_samp(v), 6) AS std_v,
               round(min(v), 6) AS min_v,
               round(max(v), 6) AS max_v
        FROM melted GROUP BY dim
    """,
    doc="emb1 embedding-column profiling (prof1 for vector columns): "
        "per-dimension count/mean/std/min/max over the corpus — the "
        "drift/degeneracy audit run before indexing or training "
        "(collapsed dims, scale outliers). posexplode → one partial-"
        "aggregated shuffle on the (tiny, = vector width) dim key; "
        "output is |dim| rows at any corpus size.",
    tags=("similarity", "agg", "pipeline"),
)
def emb1_embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    melted = emb.select(F.posexplode("embedding").alias("dim", "vf")).select(
        "dim", F.col("vf").cast("double").alias("v")
    )
    return melted.groupBy("dim").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.avg("v"), 6).alias("mean_v"),
        F.round(F.stddev_samp("v"), 6).alias("std_v"),
        F.round(F.min("v"), 6).alias("min_v"),
        F.round(F.max("v"), 6).alias("max_v"),
    ).select(F.col("dim").cast("int").alias("dim"), "n", "mean_v", "std_v", "min_v", "max_v")


# ---------------------------------------------------------------- emb2

@query(
    "emb2_label_centroid_sim",
    oracle="""
        WITH melted AS (
            SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings
        ),
        cent AS (
            SELECT label, dim, avg(v) AS c FROM melted GROUP BY label, dim
        ),
        dots AS (
            SELECT a.label AS label_a, b.label AS label_b, sum(a.c * b.c) AS d
            FROM cent a JOIN cent b ON a.dim = b.dim
            GROUP BY a.label, b.label
        )
        SELECT d.label_a, d.label_b,
               round(d.d / (sqrt(na.d) * sqrt(nb.d)), 5) AS cos
        FROM dots d
        JOIN dots na ON na.label_a = d.label_a AND na.label_b = d.label_a
        JOIN dots nb ON nb.label_a = d.label_b AND nb.label_b = d.label_b
        WHERE d.label_a < d.label_b
    """,
    doc="emb2 label-centroid similarity matrix: per-label mean vector "
        "(the class centroid) and the cosine between every centroid "
        "pair — the embedding-space class-separability probe (labels "
        "whose centroids cosine near 1 are entangled). Fully "
        "relational: posexplode → (label, dim) mean — one shuffle of "
        "|labels|·|dim| stat rows regardless of corpus size — then the "
        "pairwise dot as a self-join on dim over that TINY relation "
        "(norms are its diagonal, no separate pass). Centroids never "
        "leave the cluster; the driver sees only the final "
        "|labels|² rows.",
    tags=("similarity", "agg"),
)
def emb2_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    melted = emb.select(
        "label", F.posexplode("embedding").alias("dim", "vf")
    ).select("label", "dim", F.col("vf").cast("double").alias("v"))
    cent = melted.groupBy("label", "dim").agg(F.avg("v").alias("c"))
    a, b = cent.alias("a"), cent.alias("b")
    dots = pin(
        a.join(b, F.col("a.dim") == F.col("b.dim"))
        .groupBy(F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b"))
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("d"))
    )
    na = dots.filter(F.col("label_a") == F.col("label_b")).select(
        F.col("label_a").alias("la"), F.col("d").alias("dna")
    )
    nb = na.select(F.col("la").alias("lb"), F.col("dna").alias("dnb"))
    return (
        dots.filter(F.col("label_a") < F.col("label_b"))
        .join(F.broadcast(na), F.col("label_a") == F.col("la"))
        .join(F.broadcast(nb), F.col("label_b") == F.col("lb"))
        .select(
            "label_a",
            "label_b",
            F.round(F.col("d") / (F.sqrt("dna") * F.sqrt("dnb")), 5).alias("cos"),
        )
    )


# ---------------------------------------------------------------- ss8

K_NEG = 5  # hard negatives per anchor


@query(
    "ss8_hard_negative_mining",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS qid, label AS q_label,
                   embedding::DOUBLE[] AS qv,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS qn
            FROM embeddings WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {QUERY_CAP}
        ),
        c AS (
            SELECT vec_id, label AS n_label, embedding::DOUBLE[] AS cv,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS cn
            FROM embeddings
        ),
        scored AS (
            SELECT q.qid, q.q_label, c.vec_id, c.n_label,
                   round(list_dot_product(q.qv, c.cv) / (q.qn * c.cn), 5) AS cos
            FROM q CROSS JOIN c
            WHERE q.q_label <> c.n_label
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
            FROM scored
        )
        SELECT qid, CAST(q_label AS INTEGER) AS q_label,
               vec_id AS negative_id, CAST(n_label AS INTEGER) AS n_label,
               cos, CAST(rn AS INTEGER) AS rank
        FROM ranked WHERE rn <= {K_NEG}
    """,
    doc="ss8 hard-negative mining for contrastive training: for each "
        "anchor in the fixed query batch, the top-k most-similar "
        "vectors with a DIFFERENT label — the 'hardest' negatives a "
        "contrastive or embedding-finetune pipeline pairs with each "
        "anchor. Same plan envelope as ss1 (broadcast anchor batch x "
        "one corpus scan, per-row norms precomputed, partial top-k "
        "per partition via the window on the anchor key); at corpus "
        "scale the candidate set comes from ss2/ss4's LSH/IVF buckets "
        "instead of the full scan, with the label-inequality filter "
        "applied to candidates only.",
    tags=("similarity",),
)
def ss8_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.filter((F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP))
        .select(
            F.col("vec_id").alias("qid"),
            F.col("label").cast("int").alias("q_label"),
            as_double(F.col("embedding")).alias("qv"),
        )
        .withColumn("qn", F.sqrt(dot(F.col("qv"), F.col("qv"))))
    )
    c = emb.select(
        "vec_id",
        F.col("label").cast("int").alias("n_label"),
        as_double(F.col("embedding")).alias("cv"),
    ).withColumn("cn", F.sqrt(dot(F.col("cv"), F.col("cv"))))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_label") != F.col("n_label"))
        .select(
            "qid",
            "q_label",
            "vec_id",
            "n_label",
            F.round(dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 5).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K_NEG)
        .select(
            "qid",
            "q_label",
            F.col("vec_id").alias("negative_id"),
            "n_label",
            "cos",
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------- ss8b

@query(
    "ss8b_hard_negatives_ivf",
    oracle=f"""
        WITH {_IVF_SQL},
        lab AS (SELECT vec_id, CAST(label AS INTEGER) AS lbl FROM embeddings),
        cand AS (
            SELECT q.qid, ql.lbl AS q_label, a.vec_id, cl.lbl AS n_label,
                   round({_COS_SQL.format(a='qv.vv', b='cv.vv')}, 5) AS cos
            FROM qprobe q
            JOIN assign a ON a.cid = q.cid AND a.vec_id <> q.qid
            JOIN allv qv ON qv.vec_id = q.qid
            JOIN allv cv ON cv.vec_id = a.vec_id
            JOIN lab ql ON ql.vec_id = q.qid
            JOIN lab cl ON cl.vec_id = a.vec_id
            WHERE ql.lbl <> cl.lbl
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
            FROM cand
        )
        SELECT qid, q_label, vec_id AS negative_id, n_label, cos,
               CAST(rn AS INTEGER) AS rank
        FROM ranked WHERE rn <= {K_NEG}
    """,
    doc="ss8b hard-negative mining, IVF-candidate scale path: ss8's "
        "cross-label top-k restricted to ss4's probed inverted lists — "
        "candidate mass is O(|anchors| x probed-list size) instead of "
        "O(|anchors| x corpus), which is the form that survives a "
        "billion-vector corpus. Labels join onto candidates only. "
        "Recall vs the exact ss8 is asserted in "
        "tests/test_round4_ops.py (and is 1.0 whenever the true "
        "negatives fall in probed lists).",
    tags=("similarity",),
)
def ss8b_hard_negatives_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    lab = emb.select("vec_id", F.col("label").cast("int").alias("lbl"))
    cand = ivf_scored_candidates(spark, sf_dir)
    joined = (
        cand.join(lab.select(F.col("vec_id").alias("qid"), F.col("lbl").alias("q_label")), "qid")
        .join(lab.select("vec_id", F.col("lbl").alias("n_label")), "vec_id")
        .filter(F.col("q_label") != F.col("n_label"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K_NEG)
        .select(
            "qid",
            "q_label",
            F.col("vec_id").alias("negative_id"),
            "n_label",
            "cos",
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------- ss9

MMR_LAMBDA = 0.7
MMR_POOL = 20  # candidate pool re-ranked per query


@query(
    "ss9_mmr_diversified_topk",
    oracle=None,  # iterative greedy selection; pinned by property tests
    doc="ss9 MMR-diversified retrieval: take each anchor's top-"
        f"{MMR_POOL} exact-cosine pool (ss1's plan), then re-rank by "
        f"Maximal Marginal Relevance (lambda={MMR_LAMBDA}): each round "
        "picks argmax of lambda*sim(query,d) - (1-lambda)*max_sim(d, "
        "already-picked) — the standard diversified top-k for RAG "
        "context building (near-duplicate passages waste context "
        "slots; ss2's near-dup pairs are exactly what MMR suppresses)."
        " Scale: candidate pools are per-anchor constants (M rows), "
        "so the greedy loop runs inside ONE applyInPandas over the "
        "anchor key — an O(k*M^2) numpy kernel per group, never a "
        "driver loop, never a cross-candidate shuffle. Rows-only "
        "(greedy iteration is not SQL-expressible); pinned by "
        "subset/first-pick/diversity-dominance property tests.",
    tags=("similarity", "pipeline"),
)
def ss9_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    pool = brute_force_topk(spark, sf_dir, k=MMR_POOL)  # (qid, neighbor_id, cos)
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("nv"))
    cand = pool.join(
        vecs.select(F.col("vec_id").alias("neighbor_id"), "nv"), "neighbor_id"
    )

    def mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["cos", "neighbor_id"], ascending=[False, True])
        V = np.stack(pdf["nv"].to_numpy()).astype(np.float64)
        V /= np.linalg.norm(V, axis=1, keepdims=True)
        S = V @ V.T  # candidate-candidate cosine, M x M
        rel = pdf["cos"].to_numpy()
        ids = pdf["neighbor_id"].to_numpy()
        picked: list[int] = []
        avail = list(range(len(pdf)))
        while avail and len(picked) < TOP_K:
            if picked:
                div = S[np.ix_(avail, picked)].max(axis=1)
            else:
                div = np.zeros(len(avail))
            score = MMR_LAMBDA * rel[avail] - (1 - MMR_LAMBDA) * div
            # argmax with ties -> lowest neighbor_id (avail is id-sorted
            # within equal cos, stable argmax picks the first)
            j = avail[int(np.argmax(np.round(score, 12)))]
            picked.append(j)
            avail.remove(j)
        return pd.DataFrame(
            {
                "qid": pdf["qid"].iloc[0],
                "rank": np.arange(1, len(picked) + 1, dtype=np.int32),
                "neighbor_id": ids[picked],
                "cos": rel[picked],
            }
        )

    return cand.groupBy("qid").applyInPandas(
        mmr, "qid long, rank int, neighbor_id long, cos double"
    )


# ---------------------------------------------------------------- sem1

def _sem1_oracle() -> str:
    from ..registry import REGISTRY

    dd5_sql = REGISTRY["dd5_embedding_neardup"].oracle
    return f"""
        WITH RECURSIVE p AS ({dd5_sql}),
        edges AS (
            SELECT id_a AS a, id_b AS b FROM p
            UNION ALL
            SELECT id_b, id_a FROM p
        ),
        nodes AS (SELECT DISTINCT a AS n FROM edges),
        reach AS (
            SELECT n AS src, n AS dst FROM nodes
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
        ),
        clus AS (SELECT src AS vec_id, min(dst) AS cluster_id FROM reach GROUP BY src)
        SELECT e.vec_id,
               CAST(coalesce(c.cluster_id, e.vec_id) AS BIGINT) AS cluster_id,
               (coalesce(c.cluster_id, e.vec_id) = e.vec_id) AS is_representative
        FROM embeddings e LEFT JOIN clus c ON e.vec_id = c.vec_id
    """


@query(
    "sem1_semantic_dedup",
    oracle=None,  # composed from dd5's registered oracle at import time
    doc="sem1 semantic deduplication (the SemDeDup shape): embedding-"
        "cosine near-dup pairs (dd5's LSH-bucketed candidates) → "
        "connected components (dedup.min_label_components, the dd6 "
        "iterative min-label operator) → one representative per "
        "semantic cluster (min vec_id; canon1 shows the quality-"
        "argmax policy on the text side). Every vector is labeled; "
        "singletons represent themselves. Oracle: recursive-SQL "
        "closure COMPOSED around dd5's registered oracle text, so "
        "candidate generation and clustering stay in lockstep with "
        "the checked pair op. Scale: inherits dd5's bucketed pair "
        "mass + dd6's O(diameter) rounds, and — dd6's quotient — "
        "EXACT-duplicate vectors collapse to their min-id "
        "representative before pair generation (bit-identical vectors "
        "share the LSH bucket and every cosine, so k-way duplicated "
        "embeddings would otherwise emit ~k²/2 cos=1 edges into label "
        "propagation); a group of ≥2 identical non-zero vectors "
        "always self-pairs in the full graph, so members inherit the "
        "representative's label and the uncollapsed closure is "
        "reproduced exactly.",
    tags=("dedup", "similarity", "pipeline"),
)
def sem1_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # collapse bit-identical vectors (dd5's quotient)
    members = _vector_members(emb)
    reps = representatives(members).select(F.col("doc_id").alias("vec_id"))
    buckets = lsh_buckets(spark, sf_dir).join(reps, "vec_id", "left_semi")
    v = emb.join(reps, "vec_id", "left_semi").select(
        "vec_id", as_double(F.col("embedding")).alias("ev")
    )
    a = buckets.select(F.col("vec_id").alias("doc_a"), "bucket")
    b = buckets.select(F.col("vec_id").alias("doc_b"), "bucket")
    cand = a.join(b, "bucket").filter(F.col("doc_a") < F.col("doc_b")).select("doc_a", "doc_b")
    va = v.select(F.col("vec_id").alias("doc_a"), F.col("ev").alias("ea"))
    vb = v.select(F.col("vec_id").alias("doc_b"), F.col("ev").alias("eb"))
    pairs = (
        cand.join(va, "doc_a").join(vb, "doc_b")
        .filter(cosine(F.col("ea"), F.col("eb")) >= NEARDUP_TAU)
        .select("doc_a", "doc_b")
    )
    labels = min_label_components(pairs).select(
        F.col("doc_id").alias("rep_id"), F.col("cluster_id").alias("comp")
    )
    # a rep self-pairs iff its vector has non-zero norm (cos(v,v)=1)
    eligible = v.filter(
        F.aggregate("ev", F.lit(0.0), lambda acc, x: acc + x * x) > 0
    ).select(F.col("vec_id").alias("rep_id"))
    expanded = expand_collapsed_labels(members, labels, eligible).select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )
    out = emb.select("vec_id").join(expanded, "vec_id", "left").select(
        "vec_id", F.coalesce("cluster_id", "vec_id").alias("cluster_id")
    )
    return out.withColumn(
        "is_representative", F.col("cluster_id") == F.col("vec_id")
    )



# ---------------------------------------------------------------- emb3

@query(
    "emb3_int8_quantize",
    oracle="""
        WITH vv AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), sc AS (
            SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) / 127 AS scale
            FROM vv
        ), qq AS (
            SELECT vec_id, v, scale,
                   list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS q
            FROM sc WHERE scale > 0
        )
        SELECT vec_id,
               round(scale, 6) AS scale,
               CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_l1,
               CAST(list_min(q) AS INTEGER) AS q_min,
               CAST(list_max(q) AS INTEGER) AS q_max,
               round(list_sum([(v[i] - q[i] * scale) * (v[i] - q[i] * scale)
                               for i in range(1, len(v) + 1)])
                     / len(v), 8) AS mse
        FROM qq
    """,
    doc="emb3 symmetric int8 scalar quantization of the embedding "
        "column (the standard 4x index-compression step before ANN "
        "serving; PQ/ss6 is the vector-codebook alternative): "
        "per-vector scale = max|x|/127, q_i = round(x_i/scale) via "
        "floor(x+0.5) — HALF_UP in both engines, so the quantized "
        "ints are bit-exact across Spark and DuckDB; only the "
        "reconstruction-MSE float is rounded. Pure codegen array "
        "expressions, one scan, no shuffle, no UDF; output is "
        "O(corpus) narrow rows (the quantized codes would be the "
        "payload in production — here the audit stats: scale, code "
        "L1 mass, code range, reconstruction MSE).",
    tags=("similarity", "pipeline"),
)
def emb3_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    d = e.select("vec_id", v.alias("v"))
    d = d.select(
        "vec_id", "v", (F.array_max(F.transform("v", F.abs)) / 127).alias("scale")
    ).filter(F.col("scale") > 0)
    q = F.transform("v", lambda x: F.floor(x / F.col("scale") + 0.5))
    d = d.select("vec_id", "v", "scale", q.alias("q"))
    mse = (
        F.aggregate(
            F.zip_with("v", "q", lambda a, b: (a - b * F.col("scale")) * (a - b * F.col("scale"))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.size("v")
    )
    # NB: stats and rounding live in SEPARATE projections — aliasing
    # round(scale) as "scale" in the same select would make the mse
    # expression resolve "scale" to the rounded lateral alias
    stats = d.select(
        "vec_id",
        "scale",
        F.aggregate("q", F.lit(0).cast("bigint"), lambda a, x: a + F.abs(x)).alias("q_l1"),
        F.array_min("q").cast("int").alias("q_min"),
        F.array_max("q").cast("int").alias("q_max"),
        mse.alias("mse_raw"),
    )
    return stats.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        "q_l1",
        "q_min",
        "q_max",
        F.round("mse_raw", 8).alias("mse"),
    )


from ..registry import REGISTRY as _REG_SEM  # noqa: E402

_REG_SEM["sem1_semantic_dedup"].oracle = _sem1_oracle()
