"""Deduplication operators for LLM-data pipelines (BASELINE.json
north-star; first-class alongside SURVEY.md §2).

Pipeline shapes (all shuffle-on-key relational plans, no driver
materialization, no crossJoin on the full corpus):

- dd1 exact:      hash-groupBy on a normalized fingerprint.
- dd2 jaccard:    shingle inverted index → pair counts → |A∩B|/|A∪B|.
- dd3 minhash-lsh: shingle → universal-hash minhash signature → banded
                  bucket join → candidates → exact-jaccard verify.
- dd4 simhash:    token-hash sign-sum fingerprint → banded hamming join.
- dd3b ml:        Spark MLlib MinHashLSH (HashingTF + approxSimilarityJoin)
                  — the built-in scale path (rows-only check; MLlib's
                  hash seeds aren't portable to DuckDB).

Determinism: every hash is md5/arithmetic (functions.md5h60/md5i /
universal hashing h_s(x) = (a_s·(x mod p) + b_s) mod p) so Spark and
DuckDB agree bit-for-bit. Shingles are 60-bit md5h60 ints from the
moment they are exploded — all inverted-index shuffles move 8-byte
keys, never n-gram strings. Shingles with document frequency > DF_CAP are dropped on
both sides — the standard guard against hot-shingle join blowup at
scale (a shingle shared by 1M docs would otherwise produce 10^12 pairs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions import md5h60, md5h60_sql, md5i, md5i_sql, phash, phash_sql
from ..caching import pin
from ..registry import query
from ..sources import load_table, spread_scan
from .text import QUALITY_OF_TOKS_SQL, normalized_fingerprint

K_SHINGLE = 3
DF_CAP = 100          # drop shingles appearing in more docs than this
N_HASHES = 32         # minhash signature length
N_BANDS = 8           # LSH bands (r = 4 rows/band)
MERSENNE = 2147483647
JACCARD_TAU = 0.7
SIM_BITS = 60         # simhash width (bits 0..59 from two md5 halves)
SIM_BANDS = 4         # 15-bit bands ⇒ guaranteed recall for hd ≤ 3
SIM_TAU = 3


# ------------------------------------------------------- shingle base

def shingles_of_tokens(toks: Column, k: int = K_SHINGLE) -> Column:
    """Distinct k-word shingles of a MATERIALIZED token-array column.

    Built from zip_with over k shifted slices — O(k·len) array ops per
    document. (The token array must be a real column, not an inline
    split(text): expressions inside array lambdas are not
    subexpression-eliminated, so an inline split would be recomputed
    per element — O(len²) per document. Likewise element_at-per-index
    generation benches ~2× slower than the slice/zip_with form.)"""
    n = F.size(toks)
    out = F.slice(toks, 1, n - (k - 1))
    for j in range(1, k):
        out = F.zip_with(out, F.slice(toks, 1 + j, n - (k - 1)), lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(out)


def shingle_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) inverted-index rows over the full documents
    table — see :func:`shingle_table_of`."""
    return shingle_table_of(load_table(spark, sf_dir, "documents"))


def _raw_shingles(d: DataFrame) -> DataFrame:
    """Uncapped (doc_id, shingle) explode of a (doc_id, text) relation —
    per-doc DISTINCT 3-gram shingles hashed to 60-bit ints at explode
    time."""
    toked = d.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    ).filter(F.size("toks") >= K_SHINGLE)
    return toked.select(
        "doc_id",
        F.explode(
            F.transform(shingles_of_tokens(F.col("toks")), lambda s: md5h60(s))
        ).alias("shingle"),
    )


def exact_members(d: DataFrame, key: Column | None = None) -> DataFrame:
    """The exact-duplicate quotient: ``(doc_id, rep_id, m)`` for EVERY
    row of ``d``, where rows with equal ``key`` form one group, rep_id
    is the group's min doc_id and m its size — one window over one
    exchange on the key. ``key`` defaults to ``md5(text)`` (members
    share the literal text, hence identical shingles / prefixes /
    blocks / anchors); the embedding family passes its NULL-explicit
    vector fingerprint. Representatives are the rows with
    ``doc_id == rep_id`` (:func:`representatives`).

    Every quotient consumer runs its expensive kernel on
    representatives only and expands the result back through this one
    relation (:func:`expand_rep_pairs`, :func:`expand_collapsed_labels`,
    or a join on rep_id); any corpus-frequency cap (df-cap, block cap)
    is still counted over the FULL corpus (:func:`rep_capped_shingles`
    weights by m). Pinned: the rep restriction and the expansion both
    read it.

    NULL rule: md5(NULL) is NULL and a window partition holds every
    NULL key, so ALL NULL-text rows form ONE group. Kernels that drop
    NULL-text docs through an eligibility rule (no capped shingle, no
    anchor) need nothing more; a kernel that emits a row for every doc
    it is given (dd4's simhash, er2's block key) must filter NULL
    texts before building the quotient."""
    k = F.md5(F.col("text")) if key is None else key
    w = Window.partitionBy("fp")
    return pin(
        d.select("doc_id", k.alias("fp")).select(
            "doc_id",
            F.min("doc_id").over(w).alias("rep_id"),
            F.count(F.lit(1)).over(w).alias("m"),
        )
    )


def representatives(members: DataFrame) -> DataFrame:
    """The representative rows (doc_id = rep_id) of an
    :func:`exact_members` relation: one per group, carrying its m."""
    return members.filter(F.col("doc_id") == F.col("rep_id"))


def rep_capped_shingles(d: DataFrame, members: DataFrame) -> DataFrame:
    """FULL-corpus-df-capped shingle index RESTRICTED to exact-group
    representatives, computed WITHOUT shingling duplicates (r14) — the
    one capped representative index of the quotient family.

    Value-identical to ``shingle_table_of(d) ⋉ reps`` (pinned by
    tests/test_quotient_parity.py): members of an exact group carry the
    literal text, hence the identical per-doc distinct shingle set, so
    the full-corpus document frequency of a shingle is
    df(s) = Σ_groups m·[s ∈ rep content] — the cap decision is exact
    with the shingle explode running over DISTINCT CONTENTS only.
    Capping over representatives alone (unweighted) would keep a
    shingle that only a large duplicate group pushes past DF_CAP.
    Under a k-way duplicate load this does 1/k of the full index's
    work (deval1 profile at ×10: the full-index build was 16.2 s of a
    30.3 s query). The rep restriction is a semi join, so the corpus
    is always the streamed side (it broadcasts the rep set when that is
    small and degrades to a shuffle join at cluster scale), spread over
    every core first when the scan has fewer splits than cores: the
    explode and every pair join downstream inherit its partitioning."""
    reps = representatives(members).select("doc_id", "m")
    sh = pin(_raw_shingles(spread_scan(d).join(reps, "doc_id", "left_semi")))
    hot = (
        sh.join(reps, "doc_id")
        .groupBy("shingle")
        .agg(F.sum("m").alias("df"))
        .filter(F.col("df") > DF_CAP)
        .select("shingle")
    )
    return sh.join(F.broadcast(hot), "shingle", "left_anti").select(
        "doc_id", "shingle"
    )


def shingle_table_of(d: DataFrame) -> DataFrame:
    """(doc_id, shingle) inverted-index rows of a (doc_id, text)
    DataFrame, df-capped.

    Shingles are hashed to 60-bit ints AT EXPLODE TIME (md5h60,
    portable): every downstream shuffle/join/groupBy — the df-cap
    aggregate, the Jaccard pair join, minhash, decontamination — moves
    8-byte keys instead of ~20-30-byte 3-gram strings, a ~3× shuffle-
    byte cut on the dedup family's hottest path. The hash is identical
    in DuckDB, so oracle equality is exact by construction.

    Taking the doc relation as a parameter matters for funnel ordering:
    pipe1 shingles only EXACT-DEDUP SURVIVORS — pair-generation cost is
    Σ_shingle df², so collapsing duplicate groups first is the
    difference between linear and quadratic growth under duplication
    (the ×10 scale probe measured 17× superlinear before the reorder)."""
    # the raw index feeds BOTH the df-cap aggregate and the anti-join
    # left side; materialize it once (disk-backed at cluster scale —
    # the standard "build the inverted index once per pipeline run"
    # materialization) instead of re-running the shingle+md5 explode
    # per consumer branch
    sh = pin(_raw_shingles(d))
    # df-cap: broadcast the HOT-shingle list (df > DF_CAP) into a LEFT
    # ANTI join. The hot set is tiny BY CONSTRUCTION — at most
    # |shingle rows| / DF_CAP distinct values, regardless of corpus
    # size — whereas the keep-list (df <= cap) is essentially the whole
    # shingle vocabulary and would be an unbounded broadcast at 100 TB.
    # The df aggregate itself is map-side-combined; the big exploded
    # side is never shuffled for the cap.
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > DF_CAP)
        .select("shingle")
    )
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


# DuckDB mirror of shingle_table_of — CTE chain parameterized on the
# (doc_id, text) source relation, mirroring the DataFrame parameter
def shingle_sql_from(src: str, materialized: bool = False) -> str:
    # materialized: force DuckDB to evaluate the index ONCE when the
    # surrounding WITH block references ``sh`` many times (DuckDB
    # inlines CTEs by default, re-executing the whole chain per
    # reference — pipe1's funnel oracle measured 10.9 s → 0.1 s at
    # sf0.001 from this hint alone)
    m = "MATERIALIZED " if materialized else ""
    return f"""
    d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM {src}),
    shs AS (
        SELECT doc_id,
               unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                     for i in range(1, len(toks) - 1)])) AS shingle_s
        FROM d WHERE len(toks) >= {K_SHINGLE}
    ),
    sh0 AS (SELECT doc_id, {md5h60_sql('shingle_s')} AS shingle FROM shs),
    hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > {DF_CAP}),
    sh AS {m}(SELECT doc_id, shingle FROM sh0 ANTI JOIN hot USING (shingle))
"""


SHINGLE_SQL = shingle_sql_from("documents")

# Exact pairwise Jaccard over the inverted index (used by dd2 and as
# the verify stage of dd3): only pairs sharing ≥1 shingle materialize.
# Parameterized on the (doc_id, shingle) source relation so quotient
# consumers (deval1) can point it at the rep-restricted index.
def jaccard_sql_from(src: str) -> str:
    return f"""
    sizes AS (SELECT doc_id, count(*) AS n FROM {src} GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ninter
        FROM {src} a JOIN {src} b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    jac AS (
        SELECT i.doc_a, i.doc_b,
               round(i.ninter::DOUBLE / (sa.n + sb.n - i.ninter), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
    )
"""


_JACCARD_SQL = jaccard_sql_from("sh")


def _exact_dup_parts(d: DataFrame, tau: float, pair_fn=None):
    """Representative-level pairs of the exact-duplicate quotient
    (r12): returns ``(members, rp, alive)`` where ``members`` is
    :func:`exact_members` of ``d``, ``rp`` = REPRESENTATIVE pairs ≥ tau
    over :func:`rep_capped_shingles` — by default exact Jaccard
    (:func:`jaccard_pairs`); r14 generalizes with
    ``pair_fn(sh_capped, tau)`` so candidate-generation variants whose
    keys are CONTENT functions (dd3's minhash band buckets) quotient
    the same way — and ``alive`` = (rep_id) reps with ≥ 1 surviving
    post-cap shingle (the membership rule for intra-group jaccard-1
    edges; identical for the minhash path, where a doc has a signature
    iff its capped shingle set is non-empty)."""
    members = exact_members(d)
    sh = pin(rep_capped_shingles(d, members))
    rp = (pair_fn or jaccard_pairs)(sh, tau)
    alive = sh.select(F.col("doc_id").alias("rep_id")).distinct()
    return members, rp, alive


def jaccard_pairs_collapsed(d: DataFrame, tau: float, pair_fn=None) -> DataFrame:
    """Full-contract Jaccard pairs — output identical to
    ``jaccard_pairs(shingle_table_of(d), tau)`` — computed through the
    exact-duplicate quotient (r12; dd5's collapse applied to the
    text-pair kernel): byte-identical texts have identical shingle
    sets, so the Σdf² pair join and the Jaccard arithmetic run on one
    REPRESENTATIVE per exact-dup group and qualifying representative
    pairs expand back to member pairs afterwards.

    The df-cap stays a FULL-CORPUS cap (:func:`rep_capped_shingles`),
    so exactly the shingles the uncollapsed plan drops are dropped.
    Sizes for the Jaccard denominator come from the capped rep index,
    which every member shares, so pair values are bit-identical.
    Intra-group pairs (identical texts) carry jaccard = 1.0 — exactly
    round(n/(n+n−n), 6) — and exist iff the text has ≥ K_SHINGLE
    tokens and ≥ 1 surviving (post-cap) shingle, the same membership
    rule the direct plan applies. Under a k-way duplicated corpus the
    join/compute mass drops ~k² while only the unavoidable
    output-sized expansion remains.

    ``pair_fn`` (r14): swap the representative-level pair kernel —
    dd3 passes the minhash-LSH candidate+verify pipeline; band keys
    are content functions, so the expansion argument is unchanged."""
    members, rp, alive = _exact_dup_parts(d, tau, pair_fn=pair_fn)
    return expand_rep_pairs(members, rp, "jaccard", F.lit(1.0), alive=alive)


def expand_rep_pairs(
    members: DataFrame,
    rp: DataFrame,
    score_col: str,
    intra_score: Column,
    alive: DataFrame | None = None,
) -> DataFrame:
    """Member-pair expansion of the exact-duplicate quotient, shared by
    every pair kernel (dd2/dd3/dd7 via jaccard_pairs_collapsed, dd4,
    dd5): ``members`` = :func:`exact_members`, ``rp`` = rep-level
    (doc_a, doc_b) pairs carrying ``score_col``. Cross-group rep pairs
    expand to member pairs with the rep score; every m≥2 group
    additionally self-pairs at ``intra_score`` (the identical-content
    score), evaluated over members joined with ``alive``. ``alive``
    restricts intra membership to reps the kernel would emit at all
    (the shingle family's non-empty-capped-set rule; dd5's self-cosine
    ≥ τ, whose per-rep score column ``intra_score`` then reads); pass
    None when every doc fingerprints (dd4). Only output-sized joins —
    the expensive kernel already ran on reps only."""
    pa = members.select(F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("ma"))
    pb = members.select(F.col("rep_id").alias("doc_b"), F.col("doc_id").alias("mb"))
    cross = (
        rp.join(pa, "doc_a")
        .join(pb, "doc_b")
        .select(
            F.least("ma", "mb").alias("doc_a"),
            F.greatest("ma", "mb").alias("doc_b"),
            score_col,
        )
    )
    live = members.join(alive, "rep_id") if alive is not None else members
    ia = live.select("rep_id", F.col("doc_id").alias("doc_a"), intra_score.alias(score_col))
    ib = live.select("rep_id", F.col("doc_id").alias("doc_b"))
    intra = (
        ia.join(ib, "rep_id")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", score_col)
    )
    return cross.unionByName(intra)


def jaccard_pairs(sh: DataFrame, tau: float) -> DataFrame:
    """Exact shingle-Jaccard for all pairs sharing a shingle, ≥ tau."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("ninter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("ninter").cast("double") / (F.col("na") + F.col("nb") - F.col("ninter")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= tau)
    )


# ---------------------------------------------------------------- dd1

@query(
    "dd1_exact_dedup",
    oracle="""
        SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint,
               CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
               CAST(count(*) AS BIGINT) AS n_dups
        FROM documents GROUP BY 1
    """,
    doc="dd1 exact dedup: hash-groupBy on the normalized fingerprint, "
        "keep the smallest doc_id per group. One shuffle on the "
        "fingerprint; at 100 TB this is the cheapest dedup pass and "
        "runs first to shrink the corpus for the fuzzy passes.",
    tags=("dedup",),
)
def dd1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(normalized_fingerprint(F.col("text")).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_dups"))
    )


# ---------------------------------------------------------------- dd2

@query(
    "dd2_shingle_jaccard",
    oracle=f"""
        WITH {SHINGLE_SQL}, {_JACCARD_SQL}
        SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.5
    """,
    doc="dd2 exact n-gram Jaccard near-dup pairs via the shingle "
        "inverted index — no crossJoin: only pairs sharing a shingle "
        "are generated (df-capped). The exact-but-quadratic-worst-case "
        "baseline that dd3 approximates.",
    tags=("dedup",),
)
def dd2_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact-duplicate quotient with the full-corpus df-cap preserved —
    # see jaccard_pairs_collapsed (output identical to the direct plan)
    return jaccard_pairs_collapsed(load_table(spark, sf_dir, "documents"), tau=0.5)


# ---------------------------------------------------------------- dd3

def minhash_sql_from(src: str) -> str:
    return f"""
    h0 AS (SELECT DISTINCT shingle, shingle % {MERSENNE} AS h FROM {src}),
    seeds AS (SELECT CAST(range AS INTEGER) AS s FROM range({N_HASHES})),
    mh AS (
        SELECT {src}.doc_id, seeds.s,
               min(((2 * seeds.s + 3) * h0.h + seeds.s * 40503 + 1) % {MERSENNE}) AS mhv
        FROM {src} JOIN h0 USING (shingle) CROSS JOIN seeds
        GROUP BY {src}.doc_id, seeds.s
    ),
    bands AS (
        SELECT doc_id, CAST(s // {N_HASHES // N_BANDS} AS INTEGER) AS band,
               string_agg(CAST(mhv AS VARCHAR), ',' ORDER BY s) AS bkey
        FROM mh GROUP BY doc_id, band
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
"""


_MINHASH_SQL = minhash_sql_from("sh")


def doc_shingle_sets(sh: DataFrame) -> DataFrame:
    """(doc_id, ss) — each document's shingle hashes gathered into one
    array: ONE shuffle of the inverted index that feeds BOTH the
    minhash signature build and dd3's exact verify stage."""
    return sh.groupBy("doc_id").agg(F.collect_list("shingle").alias("ss"))


def minhash_bands(doc_sets: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) LSH band keys from universal-hash minhash
    over :func:`doc_shingle_sets` output.

    Shape matters at scale: the shingle hashes are gathered into ONE
    per-doc array (a single shuffle of |corpus shingles| rows) and the
    32 minhashes are then computed per doc with NO (doc × seed) row
    explosion through a shuffle (a naive task-per-(doc,seed) plan
    moves 32× the data; the reference would scatter exactly that way).

    The signatures are one nested-HOF JVM expression (seed array →
    per-seed array_min over the hash array): ~1/30th the generated
    code of 32 unrolled columns (first-run codegen well under 1 s) and
    no Python worker in the plan. A numpy/mapInArrow kernel of the
    same int64 arithmetic measured par at sf0.1: the shingle explode
    and collect_list dominate the band build, not the signatures."""
    r = N_HASHES // N_BANDS
    # shingle is already a portable 60-bit hash; fold to the
    # universal-hash domain (mod p) instead of re-hashing via md5
    doc_hashes = doc_sets.select(
        "doc_id", F.transform(F.col("ss"), lambda x: x % MERSENNE).alias("hs")
    )
    seeds = F.array(*[F.lit(s) for s in range(N_HASHES)])
    sigs = F.transform(
        seeds,
        lambda s: F.array_min(
            F.transform(
                F.col("hs"), lambda x: (x * (s * 2 + 3) + s * 40503 + 1) % MERSENNE
            )
        ),
    )
    sig = doc_hashes.select("doc_id", sigs.alias("sigs"))
    # band key = the r-signature slice ITSELF (array<bigint> join key):
    # equality is identical to the oracle's joined-string key (the
    # string form is injective on int sequences) but the join hashes/
    # compares 4 longs instead of building and comparing ~40-char
    # strings for every (doc, band) row
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).cast("int").alias("band"),
                F.slice("sigs", band * r + 1, r).alias("bkey"),
            )
            for band in range(N_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    )


@query(
    "dd3_minhash_lsh_dedup",
    oracle=f"""
        WITH {SHINGLE_SQL}, {_MINHASH_SQL}, {_JACCARD_SQL}
        SELECT c.doc_a, c.doc_b, j.jaccard
        FROM cand c JOIN jac j ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
        WHERE j.jaccard >= {JACCARD_TAU}
    """,
    doc="dd3 MinHash-LSH dedup: shingle → 32-hash minhash signature "
        "(universal hashing over one md5 per shingle — one expensive "
        "hash, 32 cheap ones) → 8×4 banded bucket join → candidate "
        "pairs → exact-Jaccard verify ≥ 0.7. The 100 TB fuzzy-dedup "
        "workhorse: cost is O(corpus) + O(candidates), never O(n²). "
        "r14: rides the exact-duplicate quotient "
        "(jaccard_pairs_collapsed with the minhash pipeline as the "
        "rep-level pair kernel) — signatures and band keys are "
        "content functions, so signature build + band join + verify "
        "run once per DISTINCT text and qualifying rep pairs expand "
        "to member pairs (intra-group pairs carry jaccard 1.0, "
        "membership = non-empty capped shingle set = has a "
        "signature, identical to the uncollapsed plan). Under a "
        "k-way duplicate crawl the bucket-join mass drops ~k²; "
        "value-identical output pinned by "
        "test_minhash_collapsed_matches_direct + the DuckDB oracle "
        "(which still computes the full uncollapsed pipeline).",
    tags=("dedup", "bench"),
)
def dd3_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return jaccard_pairs_collapsed(d, JACCARD_TAU, pair_fn=minhash_lsh_pairs_of)


def minhash_lsh_pairs_of(sh: DataFrame, tau: float = JACCARD_TAU) -> DataFrame:
    """dd3's full signature → band-bucket → exact-verify pipeline over
    an arbitrary (doc_id, shingle) relation — deval1 points it at the
    exact-dup-representative slice of the full-corpus-capped index
    (band keys are content functions, so the rep run is an exact
    quotient of the full run). ``tau`` is the verify threshold (r15,
    r14 ADVICE: previously hard-coded, so a pair_fn caller passing a
    different tau silently got 0.7; now threaded — dd3 passes the
    function itself as the kernel and tau flows through
    jaccard_pairs_collapsed)."""
    # ONE collect of the inverted index into per-doc shingle arrays
    # feeds the signature build AND the verify stage — the persisted
    # relation is |docs| rows of arrays, and the band build + verify
    # reuse it without a second groupBy over the exploded index
    doc_sets = pin(doc_shingle_sets(sh))
    bands = pin(minhash_bands(doc_sets))  # both sides of the bucket join
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact-Jaccard verify on candidates only, via per-doc shingle SETS:
    # join the candidate pairs against the doc→shingle arrays and
    # compute |A∩B| as an array_intersect expression — two hash joins +
    # codegen set math, no inverted-index pair join, no per-pair
    # groupBy. Same result (shingle arrays are distinct by
    # construction), O(candidates) cost. The candidate side is NOT
    # force-broadcast: |cand| grows with duplicate multiplicity
    # (k-way dup groups emit ~k²/2 pairs), so AQE picks broadcast only
    # when the materialized side actually fits — at heavy duplication
    # this becomes an ordinary shuffled hash join instead of an
    # unbounded driver broadcast.
    verified = (
        doc_sets.join(cand, doc_sets.doc_id == cand.doc_a)
        .select("doc_a", "doc_b", F.col("ss").alias("sa"))
        .join(doc_sets.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("sb")), "doc_b")
    )
    ninter = F.size(F.array_intersect("sa", "sb"))
    jac = F.round(
        ninter.cast("double") / (F.size("sa") + F.size("sb") - ninter), 6
    )
    return verified.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= tau
    )


@query(
    "dd3b_minhash_lsh_ml",
    oracle=None,  # MLlib hash seeds aren't portable; rows-only check
    doc="dd3b MinHash-LSH via Spark MLlib (HashingTF on shingles + "
        "MinHashLSH.approxSimilarityJoin) — the built-in scale path; "
        "same pipeline shape as dd3 with JVM-native hashing. Scale "
        "shape: approxSimilarityJoin runs over EXACT-DUPLICATE "
        "REPRESENTATIVES only (dd6's quotient — identical text ⇒ "
        "identical shingle multiset ⇒ identical MinHash signature, so "
        "a k-way duplicate group would otherwise flood the LSH "
        "buckets with ~k²/2 self-evident pairs; the ×10 dup-load "
        "probe measured the uncollapsed form at 172 s). The output is "
        "the WEIGHTED pair relation: one row per near-dup pair of "
        "distinct contents carrying the duplicate multiplicities "
        "(m_a, m_b) and the implied uncollapsed pair count n_pairs "
        "(m_a·m_b cross-content, m·(m-1)/2 for the within-group "
        "self row doc_a = doc_b) — full information of the blown-up "
        "pair set at linear size, which is what a 100 TB pipeline "
        "materializes anyway.",
    tags=("dedup",),
)
def dd3b_minhash_lsh_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = load_table(spark, sf_dir, "documents")
    grp = representatives(exact_members(d))
    reps = d.join(grp.select("doc_id"), "doc_id", "left_semi")
    docs = (
        reps.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .filter(F.size("toks") >= K_SHINGLE)
        .select("doc_id", shingles_of_tokens(F.col("toks")).alias("shingles"))
    )
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18)
    # pin() is a CORRECTNESS barrier here, not just reuse (r16, found
    # by the adversarial-corpus suite): on a corpus containing a
    # DUPLICATED shingle-less doc (< K_SHINGLE tokens), Catalyst's
    # InferFiltersFromConstraints derives isnotnull/size predicates
    # over the composed MinHash-UDF expression and pushes them into
    # the same scan-side Filter as the token-count guard, where they
    # evaluate on UNFILTERED rows — and MLlib's hashFunction throws
    # "Must have at least 1 non zero entry" on the empty vector. The
    # InMemoryRelation stops the derived predicates below the filter;
    # the fit + self-join reuse makes the cache free anyway.
    feats = pin(tf.transform(docs))
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 1.0 - JACCARD_TAU, distCol="dist")
    rep_pairs = (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round(1.0 - F.col("dist"), 6).alias("jaccard_est"),
        )
    )
    ma = grp.select(F.col("doc_id").alias("doc_a"), F.col("m").alias("m_a"))
    mb = grp.select(F.col("doc_id").alias("doc_b"), F.col("m").alias("m_b"))
    cross = (
        rep_pairs.join(ma, "doc_a").join(mb, "doc_b")
        .select("doc_a", "doc_b", "jaccard_est",
                (F.col("m_a") * F.col("m_b")).cast("bigint").alias("n_pairs"))
    )
    # within-group rows: a duplicated content (m ≥ 2) with ≥1 shingle
    # pairs with its own copies at Jaccard exactly 1
    selfp = (
        grp.filter(F.col("m") >= 2)
        .join(docs.select("doc_id"), "doc_id", "left_semi")
        .select(
            F.col("doc_id").alias("doc_a"), F.col("doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard_est"),
            (F.col("m") * (F.col("m") - 1) / 2).cast("bigint").alias("n_pairs"),
        )
    )
    return cross.unionByName(selfp)


# ---------------------------------------------------------------- dd4

def simhash_sql_from(src: str) -> str:
    return f"""
    tokw AS (
        SELECT doc_id, tok, count(*) AS w
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM {src})
        GROUP BY doc_id, tok
    ),
    tokh AS (
        SELECT DISTINCT tok,
               {md5i_sql("'s1:' || tok")} AS h1,
               {md5i_sql("'s2:' || tok")} AS h2
        FROM tokw
    ),
    bits AS (SELECT CAST(range AS INTEGER) AS b FROM range({SIM_BITS})),
    votes AS (
        SELECT t.doc_id, bits.b,
               sum(t.w * (2 * (CASE WHEN bits.b < 30
                                    THEN (h.h1 // (1 << bits.b)) % 2
                                    ELSE (h.h2 // (1 << (bits.b - 30))) % 2 END) - 1)) AS v
        FROM tokw t JOIN tokh h USING (tok) CROSS JOIN bits
        GROUP BY t.doc_id, bits.b
    ),
    fp AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN v >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS f
        FROM votes GROUP BY doc_id
    ),
    fpb AS (
        SELECT doc_id, f, CAST(range AS INTEGER) AS k,
               (f // (1::BIGINT << (15 * CAST(range AS INTEGER)))) % 32768 AS bandv
        FROM fp, range({SIM_BANDS})
    ),
    scand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.f AS fa, b.f AS fb
        FROM fpb a JOIN fpb b
          ON a.k = b.k AND a.bandv = b.bandv AND a.doc_id < b.doc_id
    )
"""


_SIMHASH_SQL = simhash_sql_from("documents")


@query(
    "dd4_simhash_dedup",
    oracle=f"""
        WITH {_SIMHASH_SQL}
        SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
        FROM scand
        WHERE bit_count(xor(fa, fb)) <= {SIM_TAU}
    """,
    doc="dd4 SimHash dedup: 60-bit weighted token-hash sign-sum "
        "fingerprint; 4×15-bit banded join (pigeonhole: hamming ≤ 3 ⇒ "
        "some band equal, so banding loses nothing) then exact hamming "
        "filter. Fingerprinting is one groupBy; candidate join is "
        "equi-join on band value — no all-pairs scan. r14: rides the "
        "exact-duplicate quotient — the fingerprint is a pure content "
        "function (token hashes + counts, no corpus statistics), so "
        "fingerprint build + band join run once per DISTINCT text; "
        "cross-group rep pairs expand to member pairs with the rep "
        "hamming, and every m≥2 group self-pairs at hamming 0 "
        "(identical text ⇒ identical fingerprint ⇒ every band equal — "
        "the uncollapsed plan emits exactly those rows; every "
        "NON-NULL doc gets a fingerprint, split() yields ≥1 token, so "
        "membership is unconditional after the explicit NULL-text "
        "filter — r15 — unlike the shingle family's alive rule). "
        "Value-identical pinned by test_simhash_collapsed_matches_"
        "direct + the DuckDB oracle (full uncollapsed pipeline).",
    tags=("dedup",),
)
def dd4_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-text guard (r15, r14 ADVICE): the uncollapsed plan drops
    # NULL-text docs (split(NULL) explodes to nothing → no fingerprint),
    # while the quotient groups ALL of them into one group that would
    # self-pair at hamming 0 — so only non-null texts enter it
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    members = exact_members(d)
    rep_d = d.join(representatives(members).select("doc_id"), "doc_id", "left_semi")
    rp = simhash_pairs_of(rep_d)
    # every non-null doc fingerprints (split() yields >= 1 token), so
    # intra membership is unconditional — alive=None
    return expand_rep_pairs(members, rp, "hamming", F.lit(0).cast("int"))


def simhash_pairs_of(d: DataFrame) -> DataFrame:
    """dd4's fingerprint → banded-candidate → hamming-verify pipeline
    over an arbitrary (doc_id, text) relation — the fingerprint is a
    pure content function (token hashes, no corpus statistics), so
    running it over exact-dup representatives is an exact quotient."""
    tokw = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("w"))
    )
    tokh = tokw.select("tok").distinct().select(
        "tok",
        md5i(F.concat(F.lit("s1:"), F.col("tok"))).alias("h1"),
        md5i(F.concat(F.lit("s2:"), F.col("tok"))).alias("h2"),
    )
    bits = tokw.sparkSession.range(SIM_BITS).select(F.col("id").cast("int").alias("b"))
    bit_val = F.expr(
        "CASE WHEN b < 30 THEN (h1 div shiftleft(cast(1 as bigint), b)) % 2 "
        "ELSE (h2 div shiftleft(cast(1 as bigint), b - 30)) % 2 END"
    )
    votes = (
        tokw.join(tokh, "tok")
        .crossJoin(F.broadcast(bits))
        .select("doc_id", "b", (F.col("w") * (2 * bit_val - 1)).alias("vote"))
        .groupBy("doc_id", "b")
        .agg(F.sum("vote").alias("v"))
    )
    fp = votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("v") >= 0, F.expr("shiftleft(cast(1 as bigint), b)")).otherwise(F.lit(0))
        ).alias("f")
    )
    ks = tokw.sparkSession.range(SIM_BANDS).select(F.col("id").cast("int").alias("k"))
    fpb = fp.crossJoin(F.broadcast(ks)).select(
        "doc_id",
        "f",
        "k",
        F.expr("(f div shiftleft(cast(1 as bigint), 15 * k)) % 32768").alias("bandv"),
    )
    a, b = fpb.alias("a"), fpb.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.bandv") == F.col("b.bandv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.f").alias("fa"),
            F.col("b.f").alias("fb"),
        )
        .distinct()
    )
    hd = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("int")
    return cand.select("doc_a", "doc_b", hd.alias("hamming")).filter(F.col("hamming") <= SIM_TAU)


@query(
    "dd6_dup_clusters",
    oracle=f"""
        WITH RECURSIVE {SHINGLE_SQL}, {_JACCARD_SQL},
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM jac WHERE jaccard >= {JACCARD_TAU}
            UNION ALL
            SELECT doc_b, doc_a FROM jac WHERE jaccard >= {JACCARD_TAU}
        ),
        nodes AS (SELECT DISTINCT a AS n FROM edges),
        reach AS (
            SELECT n AS src, n AS dst FROM nodes
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
        )
        SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS cluster_id
        FROM reach GROUP BY src
    """,
    doc="dd6 duplicate-cluster formation: connected components over the "
        "near-dup pair graph by iterative min-label propagation — the "
        "final fuzzy-dedup step (pick one canonical doc per component; "
        "pairs alone are not transitive). Driver loop of O(graph "
        "diameter) join rounds, each fully distributed; dup components "
        "are tiny and diameters short in practice. Scale shape: EXACT "
        "duplicates are collapsed to their min-doc_id representative "
        "BEFORE pair generation (k-way duplicate groups otherwise emit "
        "~k²/2 identical-text edges and label propagation iterates over "
        "that quadratic edge mass — the ×10 dup-load probe measured the "
        "uncollapsed form at 148 s vs ~1 s at sf0.1). The collapse is "
        "an exact quotient of the full graph: members of an exact group "
        "share the literal text, hence the identical shingle set, so "
        "every cross-group Jaccard — and therefore every edge — is "
        "invariant under the choice of member, and the df-cap hot set "
        "is still computed over the FULL corpus so pair semantics are "
        "unchanged (gr3/canon1's proven pattern, 29×→1.41× on gr3). "
        "Expansion: each member inherits its representative's component "
        "label (rep = group min, so the component min over reps IS the "
        "min over all members); groups of ≥2 docs with a surviving "
        "shingle set are self-paired (Jaccard 1.0) even without "
        "external edges, exactly as in the uncollapsed closure. "
        "Oracle: recursive SQL transitive closure over ALL documents.",
    tags=("dedup", "graph"),
)
def dd6_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shingle_components(load_table(spark, sf_dir, "documents"), min_label_components)


def shingle_components(d: DataFrame, components) -> DataFrame:
    """(doc_id, cluster_id) near-dup components (Jaccard ≥ JACCARD_TAU
    over the df-capped shingle index) of a (doc_id, text) relation,
    computed on exact-dup representatives: the full-corpus-capped rep
    index (:func:`rep_capped_shingles`) → :func:`jaccard_pairs` →
    ``components`` (a (doc_a, doc_b) → (doc_id, cluster_id) fixpoint:
    dd6/canon1's min-label propagation, gr4's star contraction) →
    :func:`expand_collapsed_labels`. Reps whose capped shingle set is
    non-empty are the eligible ones: identical copies of such a doc
    pair with each other (Jaccard 1.0) in the full graph. Docs in no
    component are absent (the caller's coalesce makes singletons)."""
    members = exact_members(d)
    rep_sh = pin(rep_capped_shingles(d, members))
    labels = components(jaccard_pairs(rep_sh, tau=JACCARD_TAU)).select(
        F.col("doc_id").alias("rep_id"), F.col("cluster_id").alias("comp")
    )
    shingled = rep_sh.select(F.col("doc_id").alias("rep_id")).distinct()
    return expand_collapsed_labels(members, labels, shingled)


def expand_collapsed_labels(
    members: DataFrame, labels: DataFrame,
    eligible: DataFrame, out_col: str = "cluster_id",
) -> DataFrame:
    """Expand component labels computed on exact-dup REPRESENTATIVES
    back to every member document, reproducing the uncollapsed closure
    exactly: rep = group min, so the component min over reps IS the min
    over all members; a group of m ≥ 2 eligible docs self-pairs in the
    full graph (its members are identical) even with no external edge.

    members: :func:`exact_members`; labels: (rep_id, comp) from a
    components fixpoint over rep pairs; eligible: (rep_id) reps that
    would pair with an identical copy of themselves (e.g. non-empty
    capped shingle set / surviving block / non-zero vector). Members
    of groups with neither a label nor eligibility are absent."""
    return (
        members.join(labels, "rep_id", "left")
        .join(eligible.select("rep_id", F.lit(True).alias("_elig")), "rep_id", "left")
        .filter(
            F.col("comp").isNotNull()
            | ((F.col("m") >= 2) & F.col("_elig").isNotNull())
        )
        .select(
            "doc_id",
            F.coalesce(F.col("comp"), F.col("rep_id").cast("bigint")).alias(out_col),
        )
    )


def min_label_components(pairs: DataFrame) -> DataFrame:
    """Connected components of a (doc_a, doc_b) pair graph by
    iterative min-label propagation → (doc_id, cluster_id) where
    cluster_id is the component's minimum doc_id. Only nodes that
    appear in some pair are returned (singletons are the caller's
    coalesce). O(diameter) join rounds, each fully distributed."""
    fwd = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    edges = fwd.unionByName(
        pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
    ).persist()  # fully materialized by the loop; unpersisted at exit
    # each round ends in localCheckpoint: `labels` feeds the next round
    # TWICE (neighbor-min join + convergence diff), so an un-truncated
    # logical plan doubles per round and Catalyst analysis goes
    # exponential in the iteration count (see graph.pagerank)
    labels = edges.select(F.col("a").alias("n")).distinct().select(
        "n", F.col("n").alias("label")
    ).localCheckpoint(eager=True)
    while True:
        neighbor_min = (
            edges.join(labels, edges.b == labels.n)
            .groupBy(F.col("a").alias("n"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, "n", "left")
            .select(
                "n",
                F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("x")
            .join(labels.alias("y"), "n")
            .filter(F.col("x.label") != F.col("y.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    # labels is an eager localCheckpoint — the edge relation is no
    # longer needed once the fixpoint converges (bounds cache growth
    # across many registry queries in one session)
    edges.unpersist()
    return labels.select(F.col("n").alias("doc_id"), F.col("label").cast("bigint").alias("cluster_id"))


# ---------------------------------------------------------------- dd7

@query(
    "dd7_domain_dedup_stats",
    oracle=f"""
        WITH {SHINGLE_SQL}, {_JACCARD_SQL},
        pairs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
        ann AS (
            SELECT least(da.source, db.source) AS src_a,
                   greatest(da.source, db.source) AS src_b
            FROM pairs p
            JOIN documents da ON da.doc_id = p.doc_a
            JOIN documents db ON db.doc_id = p.doc_b
        )
        SELECT src_a, src_b,
               CAST(src_a = src_b AS BOOLEAN) AS same_source,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM ann GROUP BY src_a, src_b
    """,
    doc="dd7 per-domain dedup provenance: near-dup pairs (dd2 index, "
        "jaccard >= 0.5) annotated with their documents' source "
        "domains — the matrix that decides whether dedup can be "
        "PARTITION-SCOPED. At 100 TB you first dedup within each "
        "source/crawl (repartition by source → LSH within partitions, "
        "no global shuffle), and this query measures what that scoping "
        "forfeits: the cross-source pair mass. The doc_id→source map "
        "has one row per corpus document (unbounded at scale), so it "
        "is NOT broadcast — the planner shuffle-joins it against the "
        "(much smaller) pair set, and AQE downgrades to broadcast "
        "when the map actually fits.",
    tags=("dedup",),
)
def dd7_domain_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = jaccard_pairs_collapsed(load_table(spark, sf_dir, "documents"), tau=0.5)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_pairs"))
        .select(
            "src_a", "src_b",
            (F.col("src_a") == F.col("src_b")).alias("same_source"),
            "n_pairs",
        )
    )


# ---------------------------------------------------------------- dd8

PASSAGE_LEN = 10      # tokens per passage chunk


@query(
    "dd8_passage_dedup",
    oracle=f"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        ch AS (
            SELECT doc_id,
                   unnest([array_to_string(toks[1 + {PASSAGE_LEN}*i : {PASSAGE_LEN} + {PASSAGE_LEN}*i], ' ')
                           for i in range(0, CAST(floor(len(toks) / {PASSAGE_LEN}) AS BIGINT))]) AS passage
            FROM d WHERE len(toks) >= {PASSAGE_LEN}
        )
        SELECT md5(passage) AS passage_hash,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(min(doc_id) AS BIGINT) AS keep_doc_id
        FROM ch GROUP BY passage
        HAVING count(DISTINCT doc_id) > 1
    """,
    doc="dd8 passage-level dedup: split each document into fixed "
        f"{PASSAGE_LEN}-token chunks and hash-groupBy the chunks — "
        "finds boilerplate/quoted passages shared across documents "
        "that whole-doc fingerprints (dd1) and doc-level Jaccard "
        "(dd2/dd3) both miss. Sub-document granularity is the "
        "standard third pass of an LLM-corpus dedup funnel (exact → "
        "fuzzy → passage). One explode + one shuffle on the passage "
        "hash; chunking is pure array expressions (no UDF).",
    tags=("dedup", "text"),
)
def dd8_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toked = d.select("doc_id", F.split(F.col("text"), " ").alias("toks")).filter(
        F.size("toks") >= PASSAGE_LEN
    )
    n_chunks = F.floor(F.size("toks") / PASSAGE_LEN).cast("int")
    chunks = toked.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i * PASSAGE_LEN + 1, PASSAGE_LEN)),
            )
        ).alias("passage"),
    )
    return (
        chunks.groupBy("passage")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
        .select(F.md5("passage").alias("passage_hash"), "n_docs", "keep_doc_id")
    )


# ---------------------------------------------------------------- dc1

BENCH_MOD = 97        # doc_id % 97 == 0 ⇒ the held-out "benchmark" set
DECON_MIN_SHARED = 3  # shared-shingle threshold for the contaminated flag


@query(
    "dc1_benchmark_decontam",
    oracle=f"""
        WITH {SHINGLE_SQL},
        bset AS (
            SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0
        ),
        corpus AS (
            SELECT doc_id, shingle FROM sh WHERE doc_id % {BENCH_MOD} <> 0
        ),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM corpus GROUP BY doc_id),
        hits AS (
            SELECT c.doc_id, count(*) AS n_shared
            FROM corpus c JOIN bset USING (shingle)
            GROUP BY c.doc_id
        )
        SELECT h.doc_id, CAST(h.n_shared AS BIGINT) AS n_shared,
               round(h.n_shared::DOUBLE / s.n_sh, 6) AS overlap_ratio,
               h.n_shared >= {DECON_MIN_SHARED} AS contaminated
        FROM hits h JOIN sizes s USING (doc_id)
    """,
    doc="dc1 benchmark decontamination: flag corpus documents whose "
        "k-gram shingles overlap a held-out benchmark set (here doc_id "
        f"% {BENCH_MOD} == 0 stands in for the eval suite) — the "
        "standard pre-training hygiene pass (GPT-3 appendix C / The "
        "Pile style n-gram decontamination). Relational shape: the "
        "benchmark shingle set is small → broadcast into a semi-style "
        "hash join against the corpus inverted index; cost is "
        "O(corpus shingles), never corpus×benchmark. At 100 TB the "
        "same plan holds — the eval suite is KBs while the corpus "
        "side streams partition-parallel.",
    tags=("dedup", "text"),
)
def dc1_benchmark_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = pin(shingle_table(spark, sf_dir))
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    bset = sh.filter(is_bench).select("shingle").distinct()
    corpus = sh.filter(~is_bench)
    sizes = corpus.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    hits = (
        corpus.join(F.broadcast(bset), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return hits.join(sizes, "doc_id").select(
        "doc_id",
        F.col("n_shared").cast("bigint").alias("n_shared"),
        F.round(F.col("n_shared").cast("double") / F.col("n_sh"), 6).alias("overlap_ratio"),
        (F.col("n_shared") >= DECON_MIN_SHARED).alias("contaminated"),
    )

# ---------------------------------------------------------------- dd9

PREFIX_K = 8  # tokens in the cheap prefix near-dup key


def prefix_fingerprint(col: Column) -> Column:
    """md5 of the first PREFIX_K whitespace tokens, lowercased — the
    cheap 'same lead-in' near-dup key an ingestion tier computes
    per document before any shingling."""
    return F.md5(F.lower(F.array_join(F.slice(F.split(F.trim(col), " "), 1, PREFIX_K), " ")))


PREFIX_FP_SQL = (
    f"md5(lower(array_to_string(string_split(trim(text), ' ')[1:{PREFIX_K}], ' ')))"
)


@query(
    "dd9_incremental_dedup",
    oracle=f"""
        WITH f AS (SELECT doc_id, {PREFIX_FP_SQL} AS fingerprint FROM documents),
        corpus AS (SELECT DISTINCT fingerprint FROM f WHERE doc_id % 5 <> 0),
        batch AS (SELECT * FROM f WHERE doc_id % 5 = 0),
        fresh AS (
            SELECT b.doc_id, b.fingerprint
            FROM batch b ANTI JOIN corpus c USING (fingerprint)
        )
        SELECT fingerprint,
               CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
               CAST(count(*) AS BIGINT) AS n_batch_dups
        FROM fresh GROUP BY 1
    """,
    doc="dd9 incremental (batch-vs-corpus) dedup: the production-"
        "shaped variant of dd1 — an incoming batch (doc_id % 5 = 0 "
        "stands in for 'today's crawl') is deduped against the "
        "EXISTING corpus fingerprint index via LEFT ANTI join, then "
        "within itself (min doc_id per fingerprint). Key = prefix "
        "fingerprint (md5 of the first 8 tokens), the cheap near-dup "
        "key an ingestion tier can afford on every document. Scale: "
        "the corpus index never rescans document text — it is a "
        "fingerprint-only relation that at 100 TB lives as a table "
        "bucketed by fingerprint (tests/test_bucketing.py pattern), "
        "so the anti-join routes only the small batch through the "
        "shuffle; the distinct() is partial-aggregated map-side. "
        "dd9 is the cheap EXACT gate at the ingestion tier; dd12 is "
        "the full curation-tier incremental pass downstream (exact + "
        "intra-delta + NEAR-dup vs history with Jaccard verify).",
    tags=("dedup", "pipeline"),
)
def dd9_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    f = d.select("doc_id", prefix_fingerprint(F.col("text")).alias("fingerprint"))
    corpus = f.filter(F.col("doc_id") % 5 != 0).select("fingerprint").distinct()
    batch = f.filter(F.col("doc_id") % 5 == 0)
    fresh = batch.join(corpus, "fingerprint", "left_anti")
    return fresh.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_batch_dups"),
    )


# ---------------------------------------------------------------- canon1

@query(
    "canon1_canonical_selection",
    oracle=f"""
        WITH RECURSIVE {SHINGLE_SQL}, {_JACCARD_SQL},
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM jac WHERE jaccard >= {JACCARD_TAU}
            UNION ALL
            SELECT doc_b, doc_a FROM jac WHERE jaccard >= {JACCARD_TAU}
        ),
        nodes AS (SELECT DISTINCT a AS n FROM edges),
        reach AS (
            SELECT n AS src, n AS dst FROM nodes
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
        ),
        clus AS (
            SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
        ),
        q AS (
            SELECT doc_id,
                   {QUALITY_OF_TOKS_SQL} AS quality
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        ),
        lab AS (
            SELECT d.doc_id,
                   CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
                   q.quality
            FROM documents d
            LEFT JOIN clus c ON d.doc_id = c.doc_id
            JOIN q ON d.doc_id = q.doc_id
        )
        SELECT doc_id, cluster_id, round(quality, 6) AS quality,
               (row_number() OVER (
                   PARTITION BY cluster_id
                   ORDER BY quality DESC, doc_id) = 1) AS is_canonical
        FROM lab
    """,
    doc="canon1 canonical-document selection: after cluster formation "
        "(dd6 connected components over the verified near-dup graph), "
        "keep the BEST member of each cluster by quality score instead "
        "of dd1/pipe1's min-id convention — the curation policy real "
        "pipelines want (dedup should not discard the cleanest copy). "
        "Singletons are their own cluster and always canonical. "
        "Scale: the quality score is one codegen'd expression pass; "
        "the argmax is a window PARTITIONED BY cluster_id (near-dup "
        "components are small by construction — no global window "
        "anywhere); cluster labels come from dd6's O(diameter) "
        "label-propagation rounds. Oracle: recursive-SQL closure + "
        "the same windowed argmax.",
    tags=("dedup", "pipeline"),
)
def canon1_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import STOPWORDS, tokens

    d = load_table(spark, sf_dir, "documents")
    # dd6's components over exact-dup representatives (near-dup pair
    # mass is quadratic in duplicate multiplicity; the x10 probe
    # measured the uncollapsed form at 16x), expanded to every member;
    # docs in no component are singleton clusters
    clusters = shingle_components(d, min_label_components)
    toks = tokens(F.col("text"))
    n = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("double") / n
    )
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    quality = (
        F.least(F.lit(1.0), n / F.lit(50.0)) * (F.lit(1.0) - stop_ratio) * uniq_ratio
    )
    lab = d.select("doc_id", quality.alias("quality")).join(
        clusters, "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id"), "quality"
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"), F.asc("doc_id"))
    return lab.select(
        "doc_id",
        "cluster_id",
        F.round("quality", 6).alias("quality"),
        (F.row_number().over(w) == 1).alias("is_canonical"),
    )


# ---------------------------------------------------------------- er1

ER_PREFIX_TOKENS = 6   # compared span: first 6 tokens
ER_BLOCK_TOKENS = 2    # blocking key: first 2 tokens
ER_MAX_DIST = 8        # Levenshtein acceptance threshold
ER_BLOCK_CAP = 50      # drop pathological blocks (hot-key guard)


@query(
    "er1_blocked_fuzzy_match",
    oracle=f"""
        WITH p AS (
            SELECT doc_id,
                   array_to_string(string_split(text, ' ')[1:{ER_PREFIX_TOKENS}], ' ') AS prefix,
                   array_to_string(string_split(text, ' ')[1:{ER_BLOCK_TOKENS}], ' ') AS blk
            FROM documents
        ),
        hot AS (
            SELECT blk FROM p GROUP BY blk HAVING count(*) > {ER_BLOCK_CAP}
        ),
        kept AS (SELECT * FROM p ANTI JOIN hot USING (blk)),
        cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   levenshtein(a.prefix, b.prefix) AS dist
            FROM kept a JOIN kept b
              ON a.blk = b.blk AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, CAST(dist AS INTEGER) AS dist
        FROM cand WHERE dist <= {ER_MAX_DIST}
    """,
    doc="er1 blocked fuzzy matching (entity-resolution shape): "
        "candidate pairs share a cheap blocking key (first "
        f"{ER_BLOCK_TOKENS} tokens), then an edit-distance verify "
        f"(Levenshtein over the first {ER_PREFIX_TOKENS} tokens) "
        "accepts near-matches — the standard two-stage design that "
        "makes O(n^2) string comparison tractable: pair mass is "
        "Σ_block |block|^2, bounded by the block cap (hot blocks "
        "dropped on both sides, dd2's DF_CAP pattern). The verify "
        "expression is JVM codegen (no UDF). Oracle: DuckDB "
        "levenshtein over the identical blocking plan.",
    tags=("dedup", "text"),
)
def er1_blocked_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a NULL text has a NULL block key in the oracle and never joins;
    # concat_ws would give it '' and pair it with empty texts
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split(F.col("text"), " ")
    p = d.select(
        "doc_id",
        F.concat_ws(" ", F.slice(toks, 1, ER_PREFIX_TOKENS)).alias("prefix"),
        F.concat_ws(" ", F.slice(toks, 1, ER_BLOCK_TOKENS)).alias("blk"),
    )
    hot = (
        p.groupBy("blk").agg(F.count("*").alias("n"))
        .filter(F.col("n") > ER_BLOCK_CAP)
        .select("blk")
    )
    kept = p.join(F.broadcast(hot), "blk", "left_anti")
    a, b = kept.alias("a"), kept.alias("b")
    cand = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.levenshtein(F.col("a.prefix"), F.col("b.prefix")).alias("dist"),
    )
    return cand.filter(F.col("dist") <= ER_MAX_DIST).select(
        "doc_a", "doc_b", F.col("dist").cast("int").alias("dist")
    )


# ---------------------------------------------------------------- dd2b

CONTAIN_TAU = 0.9


@query(
    "dd2b_containment_pairs",
    oracle=f"""
        WITH {SHINGLE_SQL},
        d0 AS (SELECT doc_id, md5(text) AS fp FROM documents),
        grp AS (SELECT fp, min(doc_id) AS rep_id, count(*) AS m
                FROM d0 GROUP BY fp),
        rsh AS (SELECT doc_id, shingle FROM sh
                WHERE doc_id IN (SELECT rep_id FROM grp)),
        sizes AS (SELECT doc_id, count(*) AS n FROM rsh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ninter
            FROM rsh a JOIN rsh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        crossp AS (
            SELECT i.doc_a, i.doc_b,
                   round(i.ninter::DOUBLE / sa.n, 6) AS containment,
                   CAST(ga.m * gb.m AS BIGINT) AS n_pairs
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN grp ga ON ga.rep_id = i.doc_a
            JOIN grp gb ON gb.rep_id = i.doc_b
            WHERE i.ninter::DOUBLE / sa.n >= {CONTAIN_TAU}
        ),
        selfp AS (
            SELECT rep_id AS doc_a, rep_id AS doc_b,
                   CAST(1 AS DOUBLE) AS containment,
                   CAST(m * (m - 1) AS BIGINT) AS n_pairs
            FROM grp
            WHERE m >= 2 AND rep_id IN (SELECT doc_id FROM sizes)
        )
        SELECT * FROM crossp UNION ALL SELECT * FROM selfp
    """,
    doc="dd2b shingle containment C(A,B) = |A∩B| / |A| — the "
        "ASYMMETRIC overlap dd2's Jaccard misses: a short document "
        "wholly quoted inside a long one scores near-zero Jaccard "
        "(union is huge) but containment ~1, which is exactly the "
        "partial-copy / quotation pattern corpus curation wants to "
        "catch. Broder's containment measure from the original "
        "shingling paper. Scale shape (the r5-verdict contract fix): "
        "identical text ⇒ identical shingle set ⇒ identical "
        "containment, so the pair join runs over EXACT-DUPLICATE "
        "REPRESENTATIVES only (dd6's quotient; df-cap still computed "
        "over the FULL corpus) and the output is the WEIGHTED "
        "directed pair relation — one row per ordered pair of "
        "distinct contents with the implied uncollapsed pair count "
        "n_pairs = m_a·m_b, plus a doc_a = doc_b row per duplicated "
        "shingled content carrying its m·(m−1) within-group "
        "containment-1.0 ordered pairs. Full information of the "
        "blown-up pair set at linear size (the uncollapsed form, "
        "containment_pairs_full in tests/test_curation_ops.py, "
        "measured 28.5× under a 10-way duplicate load BY CONTRACT — "
        "its answer is quadratic in group size; that test pins the "
        "exact expansion equivalence).",
    tags=("dedup",),
)
def dd2b_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # df-cap over the FULL corpus, index restricted to reps — via the
    # r14 weighted-df rep quotient (identical values, no full-corpus
    # shingle pass)
    members = exact_members(d)
    grp = representatives(members)
    rsh = pin(rep_capped_shingles(d, members))
    sizes = rsh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = rsh.alias("a"), rsh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("ninter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    ma = grp.select(F.col("doc_id").alias("doc_a"), F.col("m").alias("m_a"))
    mb = grp.select(F.col("doc_id").alias("doc_b"), F.col("m").alias("m_b"))
    cont = F.col("ninter").cast("double") / F.col("na")
    crossp = (
        inter.join(sa, "doc_a")
        .filter(cont >= CONTAIN_TAU)
        .join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            "doc_a", "doc_b", F.round(cont, 6).alias("containment"),
            (F.col("m_a") * F.col("m_b")).cast("bigint").alias("n_pairs"),
        )
    )
    selfp = (
        grp.filter(F.col("m") >= 2)
        .join(sizes.select("doc_id"), "doc_id", "left_semi")
        .select(
            F.col("doc_id").alias("doc_a"), F.col("doc_id").alias("doc_b"),
            F.lit(1.0).alias("containment"),
            (F.col("m") * (F.col("m") - 1)).cast("bigint").alias("n_pairs"),
        )
    )
    return crossp.unionByName(selfp)


# --------------------------------------------------------------- dd10

@query(
    "dd10_prefix_filter_pairs",
    oracle=f"""
        WITH {SHINGLE_SQL}, {_JACCARD_SQL}
        SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= {JACCARD_TAU}
    """,
    doc="dd10 exact Jaccard-threshold join via PREFIX FILTERING "
        "(Bayardo et al. WWW'07 all-pairs / Xiao et al. PPJoin): sort "
        "each doc's shingles by ascending global document frequency, "
        "index only the first |S| - ceil(tau*|S|) + 1 of them, and "
        "self-join on that prefix — any pair with Jaccard >= tau must "
        "share a prefix token under a consistent global order, so the "
        "candidate set is exact-recall while the join touches ~30% of "
        "the index rows at tau=0.7 (and the rarest ones, so per-key "
        "pair mass is minimal). A length filter (10*|B| >= 7*|A|, "
        "integer cross-multiplication — float tau*n would mis-round "
        "boundary sizes) prunes size-incompatible pairs before the "
        "verify. Exact same output as dd2-at-0.7, different plan: dd2 "
        "joins the FULL inverted index (pair mass sum df^2 over all "
        "shingles), dd10 only the prefix slice. Verify reuses dd3's "
        "array_intersect set-math on candidates only.",
    tags=("dedup",),
)
def dd10_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prefix_filter_pairs_of(pin(shingle_table(spark, sf_dir)))


def prefix_filter_pairs_of(sh: DataFrame) -> DataFrame:
    """dd10's prefix-filter → verify pipeline over an arbitrary
    (doc_id, shingle) relation. Output is the EXACT Jaccard ≥ tau pair
    set regardless of the df order used for the prefix (the prefix
    theorem only needs a consistent global order), so running it over
    exact-dup representatives is an exact quotient by construction."""
    # integer tau arithmetic: JACCARD_TAU = 0.7 = 7/10 exactly
    TN, TD = 7, 10
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("dfq"))
    wrank = Window.partitionBy("doc_id").orderBy("dfq", "shingle")
    wcnt = Window.partitionBy("doc_id")
    ranked = sh.join(dfreq, "shingle").select(
        "doc_id",
        "shingle",
        F.row_number().over(wrank).alias("rn"),
        F.count(F.lit(1)).over(wcnt).alias("n"),
    )
    # prefix length p = n - ceil(tau*n) + 1, ceil via integer div
    ceil_tau_n = F.floor((F.lit(TN) * F.col("n") + (TD - 1)) / TD)
    prefix = ranked.filter(F.col("rn") <= F.col("n") - ceil_tau_n + 1)
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # size filter: J >= tau requires tau*max(|A|,|B|) <= min
            & (F.lit(TD) * F.col("b.n") >= F.lit(TN) * F.col("a.n"))
            & (F.lit(TD) * F.col("a.n") >= F.lit(TN) * F.col("b.n")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # dd3's candidate-only verify: two hash joins + codegen set math
    doc_sets = doc_shingle_sets(sh)
    verified = (
        doc_sets.join(cand, doc_sets.doc_id == cand.doc_a)
        .select("doc_a", "doc_b", F.col("ss").alias("sa"))
        .join(doc_sets.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("sb")), "doc_b")
    )
    ninter = F.size(F.array_intersect("sa", "sb"))
    jac = F.round(ninter.cast("double") / (F.size("sa") + F.size("sb") - ninter), 6)
    return verified.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= JACCARD_TAU
    )


# ---------------------------------------------------------------- er2

@query(
    "er2_golden_record",
    oracle=f"""
        WITH RECURSIVE p AS (
            SELECT doc_id,
                   array_to_string(string_split(text, ' ')[1:{ER_PREFIX_TOKENS}], ' ') AS prefix,
                   array_to_string(string_split(text, ' ')[1:{ER_BLOCK_TOKENS}], ' ') AS blk
            FROM documents
        ),
        hot AS (SELECT blk FROM p GROUP BY blk HAVING count(*) > {ER_BLOCK_CAP}),
        kept AS (SELECT * FROM p ANTI JOIN hot USING (blk)),
        m AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM kept a JOIN kept b
              ON a.blk = b.blk AND a.doc_id < b.doc_id
            WHERE levenshtein(a.prefix, b.prefix) <= {ER_MAX_DIST}
        ),
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM m
            UNION ALL SELECT doc_b, doc_a FROM m
        ),
        nodes AS (SELECT DISTINCT a AS n FROM edges),
        reach AS (
            SELECT n AS src, n AS dst FROM nodes
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
        ),
        comp AS (SELECT src AS doc_id, min(dst) AS entity_id FROM reach GROUP BY src)
        SELECT c.doc_id, CAST(c.entity_id AS BIGINT) AS entity_id,
               CAST(d.n_chars AS BIGINT) AS n_chars,
               (row_number() OVER (PARTITION BY c.entity_id
                                   ORDER BY d.n_chars DESC, c.doc_id) = 1) AS is_golden
        FROM comp c JOIN documents d USING (doc_id)
    """,
    doc="er2 golden-record selection — the master-data-management "
        "step AFTER er1's fuzzy matching: pairwise matches are not "
        "transitive, so entities come from connected components over "
        "the match graph (min-label propagation, dd6's loop), and "
        "each entity elects one golden record by a survivorship rule "
        "(here: richest record = max n_chars, doc_id tie-break) — "
        "the same collapse-then-elect shape as canon1, on the "
        "entity-resolution graph instead of the near-dup graph. "
        "Entity-partitioned argmax window (entities are small by "
        "construction); oracle = recursive-SQL closure + the same "
        "windowed election. Scale shape: exact duplicates collapse to "
        "min-id representatives BEFORE the blocked match (dd6's "
        "quotient — identical text ⇒ identical block key and prefix, "
        "so every cross-group edge is member-invariant and a group of "
        "≥2 docs in a surviving block always self-pairs at distance "
        "0); the hot-block cap is still counted over the FULL corpus, "
        "so which blocks survive is unchanged.",
    tags=("dedup", "pipeline"),
)
def er2_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a NULL text has a NULL block key in the oracle and never matches,
    # but concat_ws makes it '' here — and the quotient groups every
    # NULL text into one group — so NULL texts stay out entirely
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split(F.col("text"), " ")
    p = d.select(
        "doc_id",
        F.concat_ws(" ", F.slice(toks, 1, ER_PREFIX_TOKENS)).alias("prefix"),
        F.concat_ws(" ", F.slice(toks, 1, ER_BLOCK_TOKENS)).alias("blk"),
    )
    # block cap over the FULL corpus — duplicate multiplicity counts
    # toward the cap exactly as in er1's pair graph
    hot = (
        p.groupBy("blk").agg(F.count("*").alias("n"))
        .filter(F.col("n") > ER_BLOCK_CAP)
        .select("blk")
    )
    members = exact_members(d)
    reps = p.join(representatives(members).select("doc_id"), "doc_id", "left_semi")
    kept = pin(reps.join(F.broadcast(hot), "blk", "left_anti"))
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .filter(F.levenshtein(F.col("a.prefix"), F.col("b.prefix")) <= ER_MAX_DIST)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    labels = min_label_components(pairs).select(
        F.col("doc_id").alias("rep_id"), F.col("cluster_id").alias("comp")
    )
    comp = expand_collapsed_labels(
        members, labels, kept.select(F.col("doc_id").alias("rep_id")), out_col="entity_id"
    )
    w = Window.partitionBy("entity_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        comp.join(d.select("doc_id", "n_chars"), "doc_id")
        .select(
            "doc_id",
            F.col("entity_id").cast("bigint").alias("entity_id"),
            F.col("n_chars").cast("bigint").alias("n_chars"),
            (F.row_number().over(w) == 1).alias("is_golden"),
        )
    )


# ---------------------------------------------------------------- t13

SOFT_MOD = 1_000_000


@query(
    "t13_dedup_weighted_sample",
    oracle=f"""
        WITH fp AS (
            SELECT doc_id,
                   md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
            FROM documents
        ),
        grp AS (SELECT fingerprint, count(*) AS n_dups FROM fp GROUP BY 1),
        j AS (SELECT fp.doc_id, fp.fingerprint, grp.n_dups FROM fp JOIN grp USING (fingerprint))
        SELECT doc_id, CAST(n_dups AS BIGINT) AS n_dups
        FROM j
        WHERE {phash_sql("doc_id", SOFT_MOD)} * n_dups < {SOFT_MOD}
    """,
    doc="t13 dedup-weighted (soft-dedup) sampling: instead of hard-"
        "keeping one copy per duplicate group (dd1), keep each row "
        "with probability 1/n_dups — every CONTENT then survives "
        "with expected multiplicity one while the surviving copy is "
        "chosen uniformly, which preserves within-group diversity of "
        "metadata (source, position) that keep-min-id dedup "
        "destroys; this is the standard soft dedup used when "
        "duplicate count correlates with quality. The coin is a "
        "deterministic portable hash (phash(doc_id) * n_dups < MOD "
        "⟺ u < 1/n_dups), so the sample is reproducible and "
        "oracle-exact. One fingerprint groupBy (dd1's pass) + one "
        "map-side-combined count join; no extra shuffle beyond dd1.",
    tags=("dedup", "pipeline"),
)
def t13_dedup_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = d.select("doc_id", normalized_fingerprint(F.col("text")).alias("fingerprint"))
    grp = fp.groupBy("fingerprint").agg(F.count("*").alias("n_dups"))
    j = fp.join(grp, "fingerprint")
    return (
        j.filter(phash("doc_id", SOFT_MOD) * F.col("n_dups") < SOFT_MOD)
        .select("doc_id", F.col("n_dups").cast("bigint").alias("n_dups"))
    )


# --------------------------------------------------------------- deval1

@query(
    "deval1_dedup_quality",
    oracle=f"""
        WITH {SHINGLE_SQL},
        d0 AS (SELECT doc_id, md5(text) AS fp FROM documents),
        grp AS (SELECT fp, min(doc_id) AS rep_id, count(*) AS m
                FROM d0 GROUP BY fp),
        rsh AS (SELECT doc_id, shingle FROM sh
                WHERE doc_id IN (SELECT rep_id FROM grp)),
        repdocs AS (SELECT * FROM documents
                    WHERE doc_id IN (SELECT rep_id FROM grp)),
        {minhash_sql_from("rsh")}, {simhash_sql_from("repdocs")},
        {jaccard_sql_from("rsh")},
        truth AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= {JACCARD_TAU}),
        mhp AS (
            SELECT c.doc_a, c.doc_b FROM cand c
            JOIN jac j ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
            WHERE j.jaccard >= {JACCARD_TAU}
        ),
        shp AS (
            SELECT doc_a, doc_b FROM scand
            WHERE bit_count(xor(fa, fb)) <= {SIM_TAU}
        ),
        self_sh AS (
            SELECT CAST(coalesce(sum(m * (m - 1) // 2), 0) AS BIGINT) AS w
            FROM grp WHERE m >= 2
              AND rep_id IN (SELECT DISTINCT doc_id FROM rsh)
        ),
        self_all AS (
            SELECT CAST(coalesce(sum(m * (m - 1) // 2), 0) AS BIGINT) AS w
            FROM grp WHERE m >= 2
        ),
        wtruth AS (
            SELECT CAST(coalesce(sum(ga.m * gb.m), 0) AS BIGINT) AS w
            FROM truth t JOIN grp ga ON ga.rep_id = t.doc_a
                         JOIN grp gb ON gb.rep_id = t.doc_b
        ),
        wmhp AS (
            SELECT CAST(coalesce(sum(ga.m * gb.m), 0) AS BIGINT) AS w
            FROM mhp p JOIN grp ga ON ga.rep_id = p.doc_a
                       JOIN grp gb ON gb.rep_id = p.doc_b
        ),
        wshp AS (
            SELECT CAST(coalesce(sum(ga.m * gb.m), 0) AS BIGINT) AS w
            FROM shp p JOIN grp ga ON ga.rep_id = p.doc_a
                       JOIN grp gb ON gb.rep_id = p.doc_b
        ),
        wshp_tp AS (
            SELECT CAST(coalesce(sum(ga.m * gb.m), 0) AS BIGINT) AS w
            FROM (SELECT doc_a, doc_b FROM shp
                  INTERSECT SELECT doc_a, doc_b FROM truth) p
            JOIN grp ga ON ga.rep_id = p.doc_a
            JOIN grp gb ON gb.rep_id = p.doc_b
        ),
        stats AS (
            SELECT 'minhash_lsh' AS method,
                   (SELECT w FROM wmhp) + (SELECT w FROM self_sh) AS n_pred,
                   (SELECT w FROM wtruth) + (SELECT w FROM self_sh) AS n_true,
                   (SELECT w FROM wmhp) + (SELECT w FROM self_sh) AS tp
            UNION ALL
            SELECT 'simhash',
                   (SELECT w FROM wshp) + (SELECT w FROM self_all),
                   (SELECT w FROM wtruth) + (SELECT w FROM self_sh),
                   (SELECT w FROM wshp_tp) + (SELECT w FROM self_sh)
            UNION ALL
            SELECT 'prefix_filter',
                   (SELECT w FROM wtruth) + (SELECT w FROM self_sh),
                   (SELECT w FROM wtruth) + (SELECT w FROM self_sh),
                   (SELECT w FROM wtruth) + (SELECT w FROM self_sh)
        )
        SELECT method,
               CAST(n_pred AS BIGINT) AS n_pred,
               CAST(n_true AS BIGINT) AS n_true,
               CAST(tp AS BIGINT) AS tp,
               round(CASE WHEN n_pred > 0 THEN tp / CAST(n_pred AS DOUBLE) ELSE 0.0 END, 6) AS precision,
               round(CASE WHEN n_true > 0 THEN tp / CAST(n_true AS DOUBLE) ELSE 0.0 END, 6) AS recall,
               round(CASE WHEN tp > 0 THEN
                         2.0 * (tp / CAST(n_pred AS DOUBLE)) * (tp / CAST(n_true AS DOUBLE))
                         / (tp / CAST(n_pred AS DOUBLE) + tp / CAST(n_true AS DOUBLE))
                     ELSE 0.0 END, 6) AS f1
        FROM stats
    """,
    doc="deval1 dedup-method quality report — ndcg1's eval story for "
        "the dedup family: each approximate near-dup method (dd3 "
        "MinHash-LSH, dd4 SimHash, dd10 prefix-filter) is scored "
        f"against the exact shingle-Jaccard ≥ {JACCARD_TAU} pair set "
        "with precision / recall / F1 — the measured quality numbers "
        "a pipeline owner needs before trusting an approximation at "
        "100 TB (prefix-filter is exact by construction, so its row "
        "doubles as a P=R=1 invariant; SimHash trades a different "
        "similarity notion, which this table quantifies instead of "
        "hand-waving). Scale shape (the r5-verdict fix): the ground "
        "truth and every method run over EXACT-DUPLICATE "
        "REPRESENTATIVES (signatures and Jaccard are content "
        "functions; df-cap still computed on the full corpus), and "
        "all pair counts are WEIGHTED by duplicate multiplicities — "
        "m_a·m_b per cross-content pair, m·(m−1)/2 per duplicated "
        "group for the within-group pairs each method's eligibility "
        "admits (shingled contents for Jaccard-family methods, every "
        "tokenized content for SimHash). By the quotient argument the "
        "reported P/R/F1 EQUAL the uncollapsed computation's (pinned "
        "by a pytest against the full-corpus eval), at O(distinct "
        "contents) cost instead of full pair mass.",
    tags=("dedup", "metric"),
)
def deval1_dedup_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    members = exact_members(d)
    grp = representatives(members)
    # r14: weighted-df rep quotient — identical capped rep index, no
    # full-corpus shingle pass (was 16.2 s of 30.3 s at ×10)
    rep_sh = pin(rep_capped_shingles(d, members))
    rep_d = d.join(grp.select("doc_id"), "doc_id", "left_semi")
    truth = (
        pin(jaccard_pairs(rep_sh, tau=JACCARD_TAU).select("doc_a", "doc_b"))
    )
    methods = {
        "minhash_lsh": minhash_lsh_pairs_of(rep_sh).select("doc_a", "doc_b"),
        "simhash": simhash_pairs_of(rep_d).select("doc_a", "doc_b"),
        "prefix_filter": prefix_filter_pairs_of(rep_sh).select("doc_a", "doc_b"),
    }
    wa = grp.select(F.col("doc_id").alias("doc_a"), F.col("m").alias("m_a"))
    wb = grp.select(F.col("doc_id").alias("doc_b"), F.col("m").alias("m_b"))

    def wsum(pairs: DataFrame, alias: str) -> DataFrame:
        return (
            pairs.join(wa, "doc_a")
            .join(wb, "doc_b")
            .agg(
                F.coalesce(F.sum(F.col("m_a") * F.col("m_b")), F.lit(0))
                .cast("bigint")
                .alias(alias)
            )
        )

    half = (F.col("m") * (F.col("m") - 1) / 2).cast("bigint")
    shingled = rep_sh.select("doc_id").distinct()
    self_sh = (
        grp.filter(F.col("m") >= 2)
        .join(shingled, "doc_id", "left_semi")
        .agg(F.coalesce(F.sum(half), F.lit(0)).cast("bigint").alias("selfw"))
    )
    self_all = grp.filter(F.col("m") >= 2).agg(
        F.coalesce(F.sum(half), F.lit(0)).cast("bigint").alias("selfw")
    )
    # within-group eligibility: Jaccard-family methods self-pair iff
    # the content has a non-empty capped shingle set; SimHash
    # fingerprints every tokenized doc, so every m >= 2 group self-pairs
    self_pred = {
        "minhash_lsh": self_sh,
        "simhash": self_all,
        "prefix_filter": self_sh,
    }
    parts = []
    for name, pred in methods.items():
        tp_pairs = pred.join(truth, ["doc_a", "doc_b"], "left_semi")
        parts.append(
            wsum(pred, "wp")
            .crossJoin(F.broadcast(wsum(truth, "wt")))
            .crossJoin(F.broadcast(wsum(tp_pairs, "wtp")))
            .crossJoin(F.broadcast(self_pred[name]))
            .crossJoin(
                F.broadcast(self_sh.select(F.col("selfw").alias("selfw_tp")))
            )
            .select(
                F.lit(name).alias("method"),
                (F.col("wp") + F.col("selfw")).alias("n_pred"),
                (F.col("wt") + F.col("selfw_tp")).alias("n_true"),
                (F.col("wtp") + F.col("selfw_tp")).alias("tp"),
            )
        )
    out = parts[0].unionByName(parts[1]).unionByName(parts[2])
    p = F.col("tp") / F.col("n_pred").cast("double")
    r = F.col("tp") / F.col("n_true").cast("double")
    return out.select(
        "method",
        F.col("n_pred").cast("bigint").alias("n_pred"),
        F.col("n_true").cast("bigint").alias("n_true"),
        F.col("tp").cast("bigint").alias("tp"),
        F.round(F.when(F.col("n_pred") > 0, p).otherwise(0.0), 6).alias("precision"),
        F.round(F.when(F.col("n_true") > 0, r).otherwise(0.0), 6).alias("recall"),
        F.round(
            F.when(F.col("tp") > 0, 2.0 * p * r / (p + r)).otherwise(0.0), 6
        ).alias("f1"),
    )


# ---------------------------------------------------------------- wnw1

WNW_K = 3   # k-gram width (tokens)
WNW_W = 4   # winnowing window (k-gram hashes per window)


@query(
    "wnw1_winnow_fingerprints",
    oracle=f"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        g0 AS (
            SELECT doc_id, toks,
                   unnest(range(1, len(toks) - {WNW_K} + 2)) AS i
            FROM d WHERE len(toks) >= {WNW_K}
        ),
        g AS (
            SELECT doc_id, CAST(i AS INTEGER) AS pos,
                   {md5h60_sql("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]")} AS h
            FROM g0
        ),
        n AS (SELECT doc_id, max(pos) AS ng FROM g GROUP BY doc_id),
        win AS (
            SELECT g.doc_id, g.pos AS wstart
            FROM g JOIN n USING (doc_id)
            WHERE g.pos <= n.ng - {WNW_W} + 1 OR g.pos = 1
        ),
        cand AS (
            SELECT w.doc_id, w.wstart, g.pos, g.h,
                   row_number() OVER (
                       PARTITION BY w.doc_id, w.wstart
                       ORDER BY g.h, g.pos DESC
                   ) AS rn
            FROM win w
            JOIN g ON g.doc_id = w.doc_id
                  AND g.pos BETWEEN w.wstart AND w.wstart + {WNW_W} - 1
        )
        SELECT DISTINCT doc_id, pos, h AS fp
        FROM cand WHERE rn = 1
    """,
    doc="wnw1 winnowing document fingerprints (Schleimer/Wilkerson/"
        f"Aiken, SIGMOD'03 — the MOSS scheme): {WNW_K}-gram hashes in "
        f"position order, sliding windows of {WNW_W} hashes, keep each "
        "window's minimum (rightmost on ties) — guarantees any shared "
        f"run of ≥ {WNW_W + WNW_K - 1} tokens between two documents "
        "shares a selected fingerprint, at ~2/(w+1) the density of "
        "the full k-gram set. This is the partial-copy detection "
        "layer between exact dedup (t4) and set-similarity (dd2): "
        "selected prints feed the same inverted-index join. Plan: "
        "positional grams are one explode, window minima are a "
        "per-doc position-range self-join (pair mass n·w per doc, "
        "docs bounded) with a deterministic (hash, rightmost) "
        "argmin window; short docs (< w grams) contribute their "
        "single prefix window. Integer 60-bit hashes — exact oracle.",
    tags=("dedup", "text"),
)
def wnw1_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toked = d.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= WNW_K
    )
    gram = F.concat_ws(
        " ",
        F.element_at("toks", F.col("pos")),
        F.element_at("toks", F.col("pos") + 1),
        F.element_at("toks", F.col("pos") + 2),
    )
    g = toked.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("toks") - WNW_K + 1)).alias("pos"),
        "toks",
    ).select("doc_id", F.col("pos").cast("int").alias("pos"), md5h60(gram).alias("h"))
    n = g.groupBy("doc_id").agg(F.max("pos").alias("ng"))
    win = (
        g.join(n, "doc_id")
        .filter((F.col("pos") <= F.col("ng") - WNW_W + 1) | (F.col("pos") == 1))
        .select("doc_id", F.col("pos").alias("wstart"))
    )
    ga = g.select(F.col("doc_id").alias("gd"), F.col("pos"), F.col("h"))
    cand = win.join(
        ga,
        (F.col("gd") == F.col("doc_id"))
        & (F.col("pos") >= F.col("wstart"))
        & (F.col("pos") <= F.col("wstart") + WNW_W - 1),
    )
    w = Window.partitionBy("doc_id", "wstart").orderBy(F.asc("h"), F.desc("pos"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "pos", F.col("h").alias("fp"))
        .distinct()
    )


# ---------------------------------------------------------------- dc2

DECON_FUZZY_TAU = 0.5


@query(
    "dc2_fuzzy_decontam",
    oracle=f"""
        WITH {SHINGLE_SQL}, {_MINHASH_SQL}, {_JACCARD_SQL},
        cross_cand AS (
            SELECT CASE WHEN doc_a % {BENCH_MOD} = 0 THEN doc_b ELSE doc_a END AS doc_id,
                   CASE WHEN doc_a % {BENCH_MOD} = 0 THEN doc_a ELSE doc_b END AS bench_id
            FROM cand
            WHERE (doc_a % {BENCH_MOD} = 0) <> (doc_b % {BENCH_MOD} = 0)
        ),
        ver AS (
            SELECT cc.doc_id, cc.bench_id, j.jaccard
            FROM cross_cand cc
            JOIN jac j ON j.doc_a = least(cc.doc_id, cc.bench_id)
                      AND j.doc_b = greatest(cc.doc_id, cc.bench_id)
            WHERE j.jaccard >= {DECON_FUZZY_TAU}
        ),
        best AS (
            SELECT doc_id, bench_id, jaccard,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY jaccard DESC, bench_id) AS rn
            FROM ver
        )
        SELECT doc_id, bench_id AS matched_bench_id, jaccard FROM best WHERE rn = 1
    """,
    doc="dc2 FUZZY benchmark decontamination — dc1's exact n-gram "
        "overlap misses paraphrased or lightly-edited eval leakage "
        "(the contamination mode actually observed in the wild); dc2 "
        "catches it with dd3's MinHash-LSH machinery pointed ACROSS "
        "the corpus/benchmark split: banded signatures for both "
        "sides, candidates restricted to cross-split band collisions "
        f"(corpus×benchmark, never corpus×corpus), exact-Jaccard "
        f"verify ≥ {DECON_FUZZY_TAU} on candidates only, and one "
        "per-document argmax window naming the best-matching "
        "benchmark item — the row an auditor needs to adjudicate the "
        "leak. Same O(corpus + candidates) cost envelope as dd3; the "
        "benchmark side is tiny so its bands behave like a broadcast "
        "probe set.",
    tags=("dedup", "text", "pipeline"),
)
def dc2_fuzzy_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fuzzy_decontam_of(load_table(spark, sf_dir, "documents"))


def fuzzy_decontam_of(d: DataFrame) -> DataFrame:
    """dc2's cross-split MinHash pipeline over an arbitrary (doc_id,
    text) relation — the parameterization exists so the planted-
    contamination pytest can assert a known lightly-edited benchmark
    document (and only it) is reported (the sf0.01 corpus contains no
    cross-split near-dups, so the registry oracle row alone matches on
    empty sets — non-vacuous evidence lives in the fixture test)."""
    doc_sets = pin(doc_shingle_sets(shingle_table_of(d)))
    bands = pin(minhash_bands(doc_sets))
    is_bench = lambda c: c % BENCH_MOD == 0
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(is_bench(F.col("a.doc_id")) != is_bench(F.col("b.doc_id")))
        .select(
            F.when(is_bench(F.col("a.doc_id")), F.col("b.doc_id"))
            .otherwise(F.col("a.doc_id")).alias("doc_id"),
            F.when(is_bench(F.col("a.doc_id")), F.col("a.doc_id"))
            .otherwise(F.col("b.doc_id")).alias("bench_id"),
        )
        .distinct()
    )
    verified = (
        doc_sets.select(F.col("doc_id"), F.col("ss").alias("sa"))
        .join(cand, "doc_id")
        .join(
            doc_sets.select(F.col("doc_id").alias("bench_id"), F.col("ss").alias("sb")),
            "bench_id",
        )
    )
    ninter = F.size(F.array_intersect("sa", "sb"))
    jac = F.round(ninter.cast("double") / (F.size("sa") + F.size("sb") - ninter), 6)
    ver = verified.select("doc_id", "bench_id", jac.alias("jaccard")).filter(
        F.col("jaccard") >= DECON_FUZZY_TAU
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("jaccard"), F.asc("bench_id"))
    return (
        ver.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("bench_id").alias("matched_bench_id"), "jaccard")
    )


# ---------------------------------------------------------------- dd11

ES_ANCHOR = 5                       # aligned anchor width == stride
ES_MIN_LEN = 2 * ES_ANCHOR - 1      # guaranteed-detection span length
ES_ANCHOR_CAP = 50                  # drop anchors in more docs (boilerplate)
ES_EXEMPT_CAP = 1000                # dc3: corpus rows kept per benchmark-
                                    # matching hot anchor (exempt from the
                                    # drop, bounded instead of unbounded)


def anchor_index(toked: DataFrame, stride: int) -> DataFrame:
    """(doc_id, pos, h) ES_ANCHOR-token anchors of a (doc_id, toks)
    relation, one every ``stride`` positions from 0, each hashed to a
    60-bit md5h60 int at explode time: ``stride=ES_ANCHOR`` is the
    grid-aligned seed side of dd11/dc3's asymmetric index, ``stride=1``
    the dense probe side (every position's A-gram)."""
    A = ES_ANCHOR
    return toked.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.floor((F.size("toks") - A) / stride).cast("int")),
                lambda i: F.struct(
                    (i * stride).alias("pos"),
                    md5h60(F.concat_ws(" ", F.slice("toks", i * stride + 1, A))).alias("h"),
                ),
            )
        ).alias("a"),
    ).select("doc_id", F.col("a.pos").alias("pos"), F.col("a.h").alias("h"))


def exact_substring_spans_of(d: DataFrame) -> DataFrame:
    """dd11's pipeline over an arbitrary (doc_id, text) relation —
    parameterized so the fixture test can plant passages at arbitrary
    alignments (the case dd8's fixed 64-token grid misses)."""
    reps = d.join(representatives(exact_members(d)).select("doc_id"), "doc_id", "left_semi")
    toked = pin(
        reps.select("doc_id", F.split(F.col("text"), " ").alias("toks")).filter(
            F.size("toks") >= ES_ANCHOR
        )
    )
    A = ES_ANCHOR
    # aligned anchors at stride A: any cross-doc exact token match of
    # length >= 2A-1 must contain one fully-aligned anchor on each
    # side's own grid... NOT true in general for both grids at once —
    # the guarantee that matters is one-sided: the match's copy in
    # doc_a contains an a-aligned anchor whose counterpart in doc_b
    # sits at arbitrary offset. So doc_a indexes ALIGNED anchors and
    # doc_b indexes EVERY position's A-gram (the classic asymmetric
    # seed-and-extend index: O(n/A) seeds probe an O(n) index, the
    # shuffle moves n/A + n rows instead of n^2 comparisons).
    idx_aligned = anchor_index(toked, A)
    idx_all = anchor_index(toked, 1)
    # boilerplate cap on the probe side's key (hot anchors appear in
    # many docs; the hot list is tiny by construction, like DF_CAP)
    hot = (
        idx_all.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") > ES_ANCHOR_CAP)
        .select("h")
    )
    seeds = idx_aligned.join(F.broadcast(hot), "h", "left_anti")
    probes = idx_all.join(F.broadcast(hot), "h", "left_anti")
    cand = (
        seeds.alias("a")
        .join(
            probes.alias("b"),
            (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("a.pos").alias("pa"),
            F.col("b.doc_id").alias("doc_b"), F.col("b.pos").alias("pb"),
        )
        .distinct()
    )
    ta = toked.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    tb = toked.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    j = cand.join(ta, "doc_a").join(tb, "doc_b")
    # every anchor inside one maximal span extends to the SAME span
    return (
        _lce_extend(j, ["doc_a", "doc_b"])
        .filter(F.col("match_len") >= ES_MIN_LEN)
        .distinct()
    )


def _lce_extend(j: DataFrame, keep: list) -> DataFrame:
    """Longest-common-extension span recovery shared by dd11 and dc3:
    ``j`` carries the candidate diagonal (pa, pb) plus both token
    arrays (ta, tb); each seed extends left and right to its maximal
    equal run as pure array folds (first-mismatch over zip_with
    equality — no UDF). Returns keep + (start_a, start_b, match_len)."""

    def first_false(eq: Column) -> Column:
        # tokens-equal prefix length of a boolean array
        p = F.array_position(eq, F.lit(False))
        return F.when(p == 0, F.size(eq)).otherwise(p - 1)

    maxr = F.least(F.size("ta") - F.col("pa"), F.size("tb") - F.col("pb"))
    right = first_false(
        F.zip_with(
            F.slice("ta", F.col("pa") + 1, maxr),
            F.slice("tb", F.col("pb") + 1, maxr),
            lambda x, y: x == y,
        )
    )
    minl = F.least(F.col("pa"), F.col("pb"))
    left = first_false(
        F.zip_with(
            F.reverse(F.slice("ta", F.col("pa") - minl + 1, minl)),
            F.reverse(F.slice("tb", F.col("pb") - minl + 1, minl)),
            lambda x, y: x == y,
        )
    )
    return j.select(
        *keep,
        (F.col("pa") - left).cast("bigint").alias("start_a"),
        (F.col("pb") - left).cast("bigint").alias("start_b"),
        (left + right).cast("bigint").alias("match_len"),
    )


def lce_sql_from(ta_src: str, tb_src: str, prefix: str = "") -> str:
    """The ext→pos0→lce→spans CTE chain shared by dd11 and dc3:
    longest-common-extension folds around a preceding
    ``{prefix}cand(doc_a, pa, doc_b, pb)`` relation, parameterized on
    the two (doc_id, toks) token relations — the SQL twin of the
    factored Spark-side :func:`_lce_extend` (shingle_sql_from's
    convention). ``prefix`` renames EVERY emitted CTE (incl. the
    final ``{prefix}spans``) so two chains can share one WITH
    block."""
    p = prefix
    return f"""{p}ext AS (
            SELECT c.doc_a, c.doc_b, c.pa, c.pb,
                   least(len(ta.toks) - c.pa, len(tb.toks) - c.pb) AS maxr,
                   least(c.pa, c.pb) AS minl,
                   ta.toks AS ta, tb.toks AS tb
            FROM {p}cand c
            JOIN {ta_src} ta ON ta.doc_id = c.doc_a
            JOIN {tb_src} tb ON tb.doc_id = c.doc_b
        ),
        {p}pos0 AS (
            SELECT doc_a, doc_b, pa, pb, maxr, minl,
                   list_position(
                       [ta[pa + k] = tb[pb + k] for k in range(1, CAST(maxr AS BIGINT) + 1)],
                       false) AS rp,
                   list_position(
                       [ta[pa - k + 1] = tb[pb - k + 1] for k in range(1, CAST(minl AS BIGINT) + 1)],
                       false) AS lp
            FROM {p}ext
        ),
        {p}lce AS (
            -- list_position returns 0 for "no mismatch found" (full run)
            SELECT doc_a, doc_b, pa, pb,
                   CASE WHEN rp IS NULL OR rp = 0 THEN maxr ELSE rp - 1 END AS r,
                   CASE WHEN lp IS NULL OR lp = 0 THEN minl ELSE lp - 1 END AS l
            FROM {p}pos0
        ),
        {p}spans AS (
            SELECT DISTINCT doc_a, doc_b,
               CAST(pa - l AS BIGINT) AS start_a,
               CAST(pb - l AS BIGINT) AS start_b,
               CAST(l + r AS BIGINT) AS match_len
            FROM {p}lce
            WHERE l + r >= {ES_MIN_LEN}
        )"""


def excise_sql(
    doc_col: str,
    start_col: str,
    toked_body: str,
    affected_only: bool = True,
    as_cte: str | None = None,
    spans_src: str = "spans",
    prefix: str = "",
) -> str:
    """SQL twin of :func:`excise_intervals`: the iv→ivs interval-merge
    CTE chain over a preceding ``spans`` relation (taking the
    ``doc_col`` side's ``start_col`` coordinate) plus the final
    token-excision SELECT over ``toked_body`` = a (doc_id, toks)
    query. Shared by dd11b's oracle and pipe3's funnel oracle
    (``affected_only=False`` — every toked2 doc emits a row).
    ``as_cte`` wraps the final SELECT in a named CTE instead so a
    caller (pipe5) can keep composing past the manifest.
    ``prefix`` namespaces the internal CTE names
    (iv/marked/isl/merged/ivs/toked2) like :func:`span_sql_between` /
    :func:`lce_sql_from` do, so two excision chains can coexist in
    one WITH block without a silent name collision."""
    p = prefix
    head = f"{as_cte} AS (\n        " if as_cte else ""
    tail = "\n        )" if as_cte else ""
    return f"""{p}iv AS (
            -- DISTINCT makes (doc_id, s, e) unique, so ORDER BY (s, e)
            -- is a TOTAL order within each doc: without it, the same
            -- interval arriving from two partner docs can tie-break
            -- differently in the prevmax and island-sum windows and
            -- split one island in two (double-counting n_removed)
            SELECT DISTINCT {doc_col} AS doc_id, {start_col} AS s,
                            {start_col} + match_len AS e
            FROM {spans_src}
        ),
        {p}marked AS (
            SELECT doc_id, s, e,
                   max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS prevmax
            FROM {p}iv
        ),
        {p}isl AS (
            SELECT doc_id, s, e,
                   sum(CASE WHEN prevmax IS NULL OR s > prevmax THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY s, e
                             ROWS UNBOUNDED PRECEDING) AS isl
            FROM {p}marked
        ),
        {p}merged AS (
            SELECT doc_id, isl, min(s) AS s, max(e) AS e
            FROM {p}isl GROUP BY doc_id, isl
        ),
        {p}ivs AS (
            SELECT doc_id,
                   list(struct_pack(s := s, e := e) ORDER BY s, e) AS ivs,
                   sum(e - s) AS n_removed
            FROM {p}merged GROUP BY doc_id
        ),
        {p}toked2 AS ({toked_body}){',' if as_cte else ''}
        {head}SELECT t.doc_id,
               CAST(len(t.toks) AS BIGINT) AS n_tokens,
               CAST(coalesce(v.n_removed, 0) AS BIGINT) AS n_removed,
               -- array_to_string of an EMPTY list is NULL in DuckDB
               -- (Spark's concat_ws gives ''): coalesce for the
               -- fully-removed-document case; v.ivs coalesces to []
               -- in left-join mode (untouched doc keeps every token)
               md5(coalesce(array_to_string(
                   [t.toks[i] for i in range(1, len(t.toks) + 1)
                    if len(list_filter(coalesce(v.ivs, []),
                          iv -> (i - 1) >= iv.s AND (i - 1) < iv.e)) = 0],
                   ' '), '')) AS clean_fp
        FROM {p}toked2 t {'JOIN' if affected_only else 'LEFT JOIN'} {p}ivs v USING (doc_id){tail}"""


_DD11_CTE = f"""d0 AS (SELECT doc_id, md5(text) AS fp FROM documents),
        grp AS (SELECT fp, min(doc_id) AS rep_id FROM d0 GROUP BY fp),
        toked AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents
            WHERE doc_id IN (SELECT rep_id FROM grp)
              AND len(string_split(text, ' ')) >= {ES_ANCHOR}
        ),
        idx_aligned AS (
            SELECT doc_id, i * {ES_ANCHOR} AS pos,
                   {md5h60_sql(f"array_to_string(toks[i * {ES_ANCHOR} + 1 : i * {ES_ANCHOR} + {ES_ANCHOR}], ' ')")} AS h
            FROM toked,
                 unnest(range(0, CAST(floor((len(toks) - {ES_ANCHOR}) / {ES_ANCHOR}) AS BIGINT) + 1)) AS t(i)
        ),
        idx_all AS (
            SELECT doc_id, CAST(i AS BIGINT) AS pos,
                   {md5h60_sql(f"array_to_string(toks[i + 1 : i + {ES_ANCHOR}], ' ')")} AS h
            FROM toked,
                 unnest(range(0, len(toks) - {ES_ANCHOR} + 1)) AS t(i)
        ),
        hot AS (
            SELECT h FROM idx_all GROUP BY h
            HAVING count(DISTINCT doc_id) > {ES_ANCHOR_CAP}
        ),
        seeds AS (SELECT * FROM idx_aligned ANTI JOIN hot USING (h)),
        probes AS (SELECT * FROM idx_all ANTI JOIN hot USING (h)),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, a.pos AS pa,
                            b.doc_id AS doc_b, b.pos AS pb
            FROM seeds a JOIN probes b
              ON a.h = b.h AND a.doc_id < b.doc_id
        ),
        {lce_sql_from('toked', 'toked')}
"""


@query(
    "dd11_exact_substring_spans",
    oracle=f"""
        WITH {_DD11_CTE.strip()}
        SELECT * FROM spans
    """,
    doc="dd11 exact-substring duplicate spans at ARBITRARY alignment — "
        "the Lee et al. 2022 ('Deduplicating Training Data Makes "
        "Language Models Better') pass that dd8's fixed 64-token grid "
        "cannot see: a quoted passage shifted by one token defeats "
        "aligned chunk hashing but is caught here. Spark-first "
        "replacement for their suffix array: asymmetric seed-and-"
        "extend — one side indexes only GRID-ALIGNED "
        f"{ES_ANCHOR}-token anchors (n/{ES_ANCHOR} rows), the other "
        "indexes every position's anchor (n rows); any cross-doc "
        f"match of length ≥ {ES_MIN_LEN} necessarily contains an "
        "aligned anchor of its doc_a copy, so detection at that "
        "length is EXACT (a pigeonhole over the stride, not a "
        "probabilistic sketch). Colliding anchors become candidate "
        "(pair, diagonal) seeds; the maximal span is recovered by "
        "longest-common-extension in both directions as pure array "
        "folds (first-mismatch over zip_with equality — no UDF), and "
        "all anchors inside one maximal span extend to the same "
        "(start_a, start_b, len) row, so DISTINCT collapses them. "
        "Exact duplicates are collapsed to representatives first "
        "(identical docs match everywhere — dd1's domain, not this "
        "pass's), and boilerplate anchors occurring in > "
        f"{ES_ANCHOR_CAP} docs are dropped via a tiny-by-construction "
        "hot list (DF_CAP's argument). Cost: O(n) index + O(seed "
        "collisions × span length), never O(n²) comparisons.",
    tags=("dedup", "text"),
)
def dd11_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_substring_spans_of(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------- dd11b

@query(
    "dd11b_substring_removal",
    oracle=f"""
        WITH {_DD11_CTE.strip()},
        {excise_sql('doc_b', 'start_b',
                    "SELECT doc_id, string_split(text, ' ') AS toks FROM documents")}
    """,
    doc="dd11b exact-substring REMOVAL — the action Lee et al. 2022 "
        "take on dd11's spans: every duplicated span is cut from the "
        "HIGHER-id document of each pair (the earlier copy survives "
        "intact), overlapping spans first merged per document in ONE "
        "groupBy + sorted array fold (r11 — replaces the two-window "
        "gaps-and-islands chain; the SQL oracle keeps the window "
        "formulation, same verdict). "
        "Tokens are dropped by positional interval test as a pure "
        "filter-with-index lambda over the token array (the interval "
        "list per doc is tiny); output per affected document: token "
        "count, tokens removed, and the md5 of the cleaned text (the "
        "compact cross-engine witness of the exact surviving token "
        "sequence). Spans — and hence removals — are computed over "
        "exact-dup representatives (dd1 handles identical copies; "
        "this pass edits distinct contents).",
    tags=("dedup", "text", "pipeline"),
)
def dd11b_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_removal_of(load_table(spark, sf_dir, "documents"))


def substring_removal_of(d: DataFrame) -> DataFrame:
    spans = exact_substring_spans_of(d)
    # no distinct needed: duplicate intervals (same span found via
    # different doc_a partners) are absorbed by excise_intervals'
    # collect_set inside its one groupBy exchange (r11 — the old
    # window formulation needed a pre-distinct for a total ORDER BY)
    iv = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("match_len")).alias("e"),
    )
    return excise_intervals(d, iv)


def excise_intervals(
    d: DataFrame, iv: DataFrame, affected_only: bool = True
) -> DataFrame:
    """Merge per-document token intervals ``iv = (doc_id, s, e)``
    (half-open [s, e), gaps-and-islands window) and cut the covered
    tokens from ``d = (doc_id, text)`` — dd11b's removal machinery,
    factored (r10) so pipe3 can excise dc3-shaped corpus/benchmark
    spans with the identical merge/cut semantics. One row per
    AFFECTED document (dd11b's shape), or — with
    ``affected_only=False`` — per EVERY doc in ``d`` (pipe3's cleaned
    manifest: untouched docs carry n_removed=0 and the hash of their
    full token stream, so the oracle pins the whole export, not just
    the edits). Duplicate (doc_id, s, e) rows in ``iv`` are absorbed
    by the collect_set — callers need NOT pre-distinct (pipe3 used to
    pay a full extra exchange for that; see substring_removal_of's
    tie-break note for why inputs are id-deterministic regardless).

    Interval merge: ONE groupBy-doc_id shuffle + a sorted array fold,
    not the prevmax/island window chain (the SQL twin keeps the
    window formulation — same verdict, DuckDB plans it fine). The
    fold is the classic sorted-starts invariant: within one pass over
    intervals sorted by (s, e), a new island starts iff s exceeds the
    running max end, which after the previous island closed equals
    the LAST island's max end (every earlier island's max end is
    below some later interval's start by the island-boundary
    definition). Cutting the window chain removes two shuffles and
    two stage barriers from pipe3's critical path — its sf0.1 wall
    cost is DAG depth, not data volume (SCALING.md: flat ~20 s across
    three decades of sf before this rewrite). Per-doc interval lists
    are bounded (spans against a tiny benchmark set), so the
    collect_list is not a skew hazard at 100 TB."""
    raw = iv.groupBy("doc_id").agg(
        F.sort_array(F.collect_set(F.struct("s", "e"))).alias("raw")
    )
    merged = F.aggregate(
        F.col("raw"),
        F.slice(F.col("raw"), 1, 0),  # empty array of the element type
        lambda acc, v: F.when(F.size(acc) == 0, F.array(v)).otherwise(
            F.when(
                v["s"] > F.element_at(acc, -1)["e"],
                F.concat(acc, F.array(v)),
            ).otherwise(
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1),
                    F.array(
                        F.struct(
                            F.element_at(acc, -1)["s"].alias("s"),
                            F.greatest(
                                F.element_at(acc, -1)["e"], v["e"]
                            ).alias("e"),
                        )
                    ),
                )
            )
        ),
    )
    ivs = raw.select("doc_id", merged.alias("ivs")).withColumn(
        "n_removed",
        F.aggregate(
            "ivs", F.lit(0).cast("bigint"), lambda a, v: a + (v["e"] - v["s"])
        ),
    )
    toked = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    cut = F.filter(
        F.col("toks"),
        lambda x, i: ~F.exists(
            F.col("ivs"), lambda v: (i >= v["s"]) & (i < v["e"])
        ),
    )
    # null ivs (doc untouched, left-join mode): keep every token
    kept = F.when(F.col("ivs").isNull(), F.col("toks")).otherwise(cut)
    return toked.join(ivs, "doc_id", "inner" if affected_only else "left").select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.coalesce(F.col("n_removed"), F.lit(0)).cast("bigint").alias("n_removed"),
        F.md5(F.concat_ws(" ", kept)).alias("clean_fp"),
    )


# ---------------------------------------------------------------- dc3


def span_spans_between(
    corpus: DataFrame, bench: DataFrame, dedup_spans: bool = True
) -> DataFrame:
    """dc3's core: exact shared-token spans (length ≥ ES_MIN_LEN)
    between an arbitrary corpus relation and a tiny benchmark
    relation, both (doc_id, text) — factored out (r9) so pipe3's
    funnel can point it at the near-dup SURVIVORS instead of the full
    corpus. Returns (doc_a=corpus doc, doc_b=bench doc, start_a,
    start_b, match_len). Callers own any exact-duplicate collapse of
    the corpus side; the asymmetric grid/dense indexing, the
    hot-anchor cap with benchmark exemption, and the LCE extension
    live here (one implementation, one SQL twin).

    ``dedup_spans=False`` skips the trailing DISTINCT (several
    anchors inside one maximal span all extend to the SAME span row):
    a caller that immediately re-aggregates on a projection of the
    output — pipe3's excision distincts (doc_a, start_a, end) —
    would otherwise pay two back-to-back full-relation shuffles on
    the critical path for one deduplication's worth of semantics."""
    A = ES_ANCHOR
    ctoked = pin(
        corpus.select("doc_id", F.split(F.col("text"), " ").alias("toks")).filter(
            F.size("toks") >= A
        )
    )
    btoked = pin(
        bench.select("doc_id", F.split(F.col("text"), " ").alias("toks")).filter(
            F.size("toks") >= A
        )
    )
    # asymmetric seed-and-extend pointed ACROSS the split: the CORPUS
    # (the 100 TB side) indexes only grid-aligned anchors (n/A rows);
    # the BENCHMARK (tiny, behaves like a broadcast probe set) indexes
    # every position's A-gram. Any shared span of length >= 2A-1
    # contains a corpus-grid-aligned anchor (pigeonhole over the
    # stride), whose benchmark counterpart sits at arbitrary offset —
    # caught by the dense benchmark index. Detection at that length
    # is EXACT, not a sketch.
    idx_c = anchor_index(ctoked, A)
    idx_b = anchor_index(btoked, 1)
    # boilerplate cap on the corpus side's anchor df, with a BENCHMARK
    # EXEMPTION (r8 advisor): dropping every df>cap anchor from BOTH
    # sides made the most widely replicated contamination self-hiding
    # — a benchmark passage quoted in > cap distinct (non-identical)
    # corpus hosts lost all of its grid anchors and became
    # undetectable. Anchors that also occur in the (tiny, dense)
    # benchmark index are exempt from the drop; their corpus fan-out
    # is bounded instead by keeping the first ES_EXEMPT_CAP
    # (doc_id, pos) rows per anchor — deterministic, oracle-mirrored.
    # Residual blind spot (documented, not silent): a host past the
    # exempt cap on an anchor that is its span's ONLY aligned anchor;
    # at 2A-1 ≤ span < 3A-1 a span has 1-2 grid anchors, longer spans
    # have more, so the cap must be exhausted on every one to miss.
    # True boilerplate (df>cap, NOT in any benchmark doc) is still
    # dropped from both sides exactly as before.
    hot = (
        idx_c.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") > ES_ANCHOR_CAP)
        .select("h")
    )
    bench_h = idx_b.select("h").distinct()
    exempt = hot.join(bench_h, "h", "left_semi")
    hot_drop = hot.join(bench_h, "h", "left_anti")
    seeds_norm = idx_c.join(F.broadcast(hot), "h", "left_anti")
    seeds_ex = (
        idx_c.join(F.broadcast(exempt), "h", "left_semi")
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("h").orderBy("doc_id", "pos")),
        )
        .filter(F.col("rn") <= ES_EXEMPT_CAP)
        .drop("rn")
    )
    seeds = seeds_norm.unionByName(seeds_ex)
    probes = idx_b.join(F.broadcast(hot_drop), "h", "left_anti")
    # no DISTINCT on the candidate relation: each side has unique
    # (doc_id, pos) — one A-gram per position — and seeds_norm /
    # seeds_ex are disjoint by construction (anti-hot vs semi-exempt
    # with exempt ⊆ hot), so the equi-join on h cannot produce a
    # duplicate (doc_a, pa, doc_b, pb); the old distinct was a full
    # shuffle of the widest relation in the chain for nothing (r11
    # critical-path audit — pipe3's wall cost is DAG depth, not data)
    cand = (
        seeds.alias("c")
        .join(probes.alias("b"), F.col("c.h") == F.col("b.h"))
        .select(
            F.col("c.doc_id").alias("doc_a"), F.col("c.pos").alias("pa"),
            F.col("b.doc_id").alias("doc_b"), F.col("b.pos").alias("pb"),
        )
    )
    ta = ctoked.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    tb = btoked.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    j = cand.join(ta, "doc_a").join(tb, "doc_b")
    spans = _lce_extend(j, ["doc_a", "doc_b"]).filter(
        F.col("match_len") >= ES_MIN_LEN
    )
    return spans.distinct() if dedup_spans else spans


def span_decontam_of(d: DataFrame) -> DataFrame:
    """dc3's pipeline over an arbitrary (doc_id, text) relation —
    parameterized so the fixture test can plant a benchmark passage
    QUOTED inside a long corpus document at arbitrary alignment (the
    contamination mode dc2's whole-document Jaccard dilutes below τ
    when the host document is long)."""
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    corpus, bench = d.filter(~is_bench), d.filter(is_bench)

    # collapse exact corpus duplicates first (identical hosts carry
    # identical contamination — detect once on the representative,
    # fan the verdict back out to every member at the end)
    members = exact_members(corpus)
    reps = corpus.join(representatives(members).select("doc_id"), "doc_id", "left_semi")
    spans = span_spans_between(reps, bench)
    # fan the representative's spans back out to every exact-duplicate
    # member (identical text ⇒ identical span coordinates)
    fan = members.select(F.col("doc_id").alias("member_id"), F.col("rep_id").alias("doc_a"))
    return spans.join(fan, "doc_a").select(
        F.col("member_id").alias("doc_id"),
        F.col("doc_b").alias("bench_id"),
        F.col("start_a").alias("start_doc"),
        F.col("start_b").alias("start_bench"),
        "match_len",
    )


def span_sql_between(ctoked: str, btoked: str, prefix: str = "") -> str:
    """DuckDB CTE chain from two tokenized (doc_id, toks) sources to
    the ``spans`` relation — the SQL twin of
    :func:`span_spans_between` (grid/dense asymmetric index,
    hot-anchor cap with benchmark exemption, LCE extension), shared
    by the dc3 oracle and pipe3's funnel oracle. ``prefix`` renames
    EVERY CTE the chain emits (seed side, cand, and the lce chain
    through ``{prefix}spans``) so it composes into a WITH block that
    already defines ``hot`` (pipe3's funnel shingle index) and so two
    span chains can coexist in one block."""
    A = ES_ANCHOR
    p = prefix
    h_aligned = md5h60_sql(f"array_to_string(toks[i * {A} + 1 : i * {A} + {A}], ' ')")
    h_all = md5h60_sql(f"array_to_string(toks[i + 1 : i + {A}], ' ')")
    return f"""{p}idx_c AS (
            SELECT doc_id, i * {A} AS pos,
                   {h_aligned} AS h
            FROM {ctoked},
                 unnest(range(0, CAST(floor((len(toks) - {A}) / {A}) AS BIGINT) + 1)) AS t(i)
        ),
        {p}idx_b AS (
            SELECT doc_id, CAST(i AS BIGINT) AS pos,
                   {h_all} AS h
            FROM {btoked},
                 unnest(range(0, len(toks) - {A} + 1)) AS t(i)
        ),
        {p}hot AS (
            SELECT h FROM {p}idx_c GROUP BY h
            HAVING count(DISTINCT doc_id) > {ES_ANCHOR_CAP}
        ),
        {p}exempt AS (SELECT h FROM {p}hot SEMI JOIN {p}idx_b USING (h)),
        {p}hot_drop AS (SELECT h FROM {p}hot ANTI JOIN {p}idx_b USING (h)),
        {p}seeds AS (
            SELECT doc_id, pos, h FROM {p}idx_c ANTI JOIN {p}hot USING (h)
            UNION ALL
            SELECT doc_id, pos, h FROM (
                SELECT i.doc_id, i.pos, i.h,
                       row_number() OVER (
                           PARTITION BY i.h ORDER BY i.doc_id, i.pos
                       ) AS rn
                FROM {p}idx_c i SEMI JOIN {p}exempt e ON i.h = e.h
            ) WHERE rn <= {ES_EXEMPT_CAP}
        ),
        {p}probes AS (SELECT * FROM {p}idx_b ANTI JOIN {p}hot_drop USING (h)),
        {p}cand AS (
            SELECT DISTINCT c.doc_id AS doc_a, c.pos AS pa,
                            b.doc_id AS doc_b, b.pos AS pb
            FROM {p}seeds c JOIN {p}probes b ON c.h = b.h
        ),
        {lce_sql_from(ctoked, btoked, prefix=p)}"""


_DC3_CTE = f"""corpus AS (
            SELECT doc_id, text FROM documents WHERE doc_id % {BENCH_MOD} <> 0
        ),
        d0 AS (SELECT doc_id, md5(text) AS fp FROM corpus),
        grp AS (SELECT fp, min(doc_id) AS rep_id FROM d0 GROUP BY fp),
        ctoked AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM corpus
            WHERE doc_id IN (SELECT rep_id FROM grp)
              AND len(string_split(text, ' ')) >= {ES_ANCHOR}
        ),
        btoked AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents
            WHERE doc_id % {BENCH_MOD} = 0
              AND len(string_split(text, ' ')) >= {ES_ANCHOR}
        ),
        {span_sql_between('ctoked', 'btoked')}
"""


@query(
    "dc3_span_decontam",
    oracle=f"""
        WITH {_DC3_CTE.strip()}
        SELECT m.doc_id, s.doc_b AS bench_id,
               s.start_a AS start_doc, s.start_b AS start_bench, s.match_len
        FROM spans s
        JOIN grp g ON g.rep_id = s.doc_a
        JOIN d0 m ON m.fp = g.fp
    """,
    doc="dc3 SPAN-LEVEL benchmark decontamination — dd11's asymmetric "
        "seed-and-extend index (Lee et al. 2022) pointed ACROSS the "
        "corpus/benchmark split, closing the hazard dc2 cannot see: a "
        "benchmark passage QUOTED inside a long corpus document "
        "dilutes whole-document shingle Jaccard below τ (the same "
        "length-asymmetry argument that motivated dd2b containment), "
        "but an exact shared token run of length ≥ "
        f"{ES_MIN_LEN} is caught here POSITIONALLY, with the span "
        "coordinates an auditor needs to excise or adjudicate it. "
        "Scale asymmetry is the whole design: the 100 TB CORPUS side "
        f"indexes only grid-aligned {ES_ANCHOR}-token anchors "
        f"(n/{ES_ANCHOR} rows), the tiny benchmark side indexes every "
        "position (pigeonhole over the corpus stride makes detection "
        "exact — reference decontamination is aligned-n-gram only, "
        "reference repo has no span pass); exact corpus duplicates "
        "are collapsed to representatives before indexing and the "
        "verdict fanned back to members (identical hosts ⇒ identical "
        "span coordinates), and boilerplate anchors in > "
        f"{ES_ANCHOR_CAP} corpus docs are dropped via the tiny hot "
        "list — EXCEPT anchors that also occur in the benchmark "
        "index (r9, advisor fix): those are exempt from the drop so "
        "the most widely quoted contamination cannot self-hide, with "
        f"corpus fan-out bounded at {ES_EXEMPT_CAP} deterministic "
        "(doc_id, pos) rows per exempt anchor instead. Cost: "
        "O(corpus/A + bench) index + O(collisions × span "
        "length) — never corpus × benchmark.",
    tags=("dedup", "text", "pipeline"),
)
def dc3_span_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    return span_decontam_of(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------- dd12

DELTA_MOD = 5  # doc_id % 5 == DELTA_REM ⇒ today's "delta" snapshot
DELTA_REM = 3


def near_hist_ids(sh: DataFrame, delta_sh: DataFrame, hist_sh: DataFrame) -> DataFrame:
    """Delta-vs-history near-dup verdict over the df-capped shingle
    inverted index: (doc_id, _near=true) for every delta doc with
    exact shingle-Jaccard ≥ JACCARD_TAU against some history doc.
    Sizes come from the FULL index ``sh`` (exact-quotient rule);
    ``delta_sh``/``hist_sh`` are its two narrowed sides. Factored
    (r10 reviewer) so dd12 and dd13 share ONE copy of the candidate
    join + tie-rounded Jaccard instead of drifting apart."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        delta_sh.select(F.col("doc_id").alias("d_id"), "shingle")
        .join(hist_sh.select(F.col("doc_id").alias("h_id"), "shingle"), "shingle")
        .groupBy("d_id", "h_id")
        .agg(F.count("*").alias("ninter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("d_id"), F.col("n").alias("na")), "d_id")
        .join(sizes.select(F.col("doc_id").alias("h_id"), F.col("n").alias("nb")), "h_id")
        .filter(
            F.round(
                F.col("ninter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("ninter")),
                6,
            )
            >= JACCARD_TAU
        )
        .select(F.col("d_id").alias("doc_id"))
        .distinct()
        .withColumn("_near", F.lit(True))
    )


def near_hist_sql(delta_src: str) -> str:
    """SQL twin of :func:`near_hist_ids` — sizes/inter/nearh CTEs over
    a preceding ``sh`` index, with the delta side given as a
    subquery/CTE name and the history side the % filter."""
    return f"""sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS d_id, b.doc_id AS h_id, count(*) AS ninter
            FROM {delta_src} a JOIN sh b ON a.shingle = b.shingle
            WHERE b.doc_id % {DELTA_MOD} <> {DELTA_REM}
            GROUP BY a.doc_id, b.doc_id
        ),
        nearh AS (
            SELECT DISTINCT i.d_id AS doc_id
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.d_id
            JOIN sizes sb ON sb.doc_id = i.h_id
            WHERE round(i.ninter::DOUBLE / (sa.n + sb.n - i.ninter), 6) >= {JACCARD_TAU}
        )"""


def incremental_dedup_of(d: DataFrame) -> DataFrame:
    """dd12's pipeline over an arbitrary (doc_id, text) relation — the
    parameterization exists so the planted-fixture pytest can assert
    each flag fires on a constructed history/delta split (exact copy,
    one-token near-edit, intra-delta twins, genuinely new doc)."""
    is_delta = F.col("doc_id") % DELTA_MOD == DELTA_REM
    fp = d.select(
        "doc_id",
        normalized_fingerprint(F.col("text")).alias("fp"),
        is_delta.alias("is_delta"),
    )
    delta = fp.filter("is_delta")
    hist_fp = fp.filter(~F.col("is_delta")).select("fp").distinct()

    # ONE global df-capped shingle inverted index — the persistent
    # artifact a production incremental run maintains; both sides of
    # the candidate join read it
    sh = pin(shingle_table_of(d.select("doc_id", "text")))
    near_hist = near_hist_ids(
        sh,
        sh.filter(F.col("doc_id") % DELTA_MOD == DELTA_REM),
        sh.filter(F.col("doc_id") % DELTA_MOD != DELTA_REM),
    )

    from pyspark.sql.window import Window

    flags = (
        delta.join(hist_fp.withColumn("_exact", F.lit(True)), "fp", "left")
        .withColumn(
            "intra_dup",
            F.col("doc_id") != F.min("doc_id").over(Window.partitionBy("fp")),
        )
        .join(near_hist, "doc_id", "left")
    )
    return flags.select(
        "doc_id",
        F.coalesce("_exact", F.lit(False)).alias("exact_hist"),
        "intra_dup",
        F.coalesce("_near", F.lit(False)).alias("near_hist"),
        (
            ~F.coalesce("_exact", F.lit(False))
            & ~F.col("intra_dup")
            & ~F.coalesce("_near", F.lit(False))
        ).alias("accepted"),
    )


@query(
    "dd12_incremental_dedup",
    oracle=f"""
        WITH {SHINGLE_SQL},
        fpx AS (
            SELECT doc_id,
                   md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
                   doc_id % {DELTA_MOD} = {DELTA_REM} AS is_delta
            FROM documents
        ),
        hist AS (SELECT DISTINCT fp FROM fpx WHERE NOT is_delta),
        {near_hist_sql(f'(SELECT * FROM sh WHERE doc_id % {DELTA_MOD} = {DELTA_REM})')},
        flags AS (
            SELECT d.doc_id,
                   d.fp IN (SELECT fp FROM hist) AS exact_hist,
                   d.doc_id <> min(d.doc_id) OVER (PARTITION BY d.fp) AS intra_dup,
                   d.doc_id IN (SELECT doc_id FROM nearh) AS near_hist
            FROM fpx d WHERE d.is_delta
        )
        SELECT doc_id, exact_hist, intra_dup, near_hist,
               (NOT exact_hist AND NOT intra_dup AND NOT near_hist) AS accepted
        FROM flags
    """,
    doc="dd12 INCREMENTAL (delta-vs-history) dedup — the per-snapshot "
        "curation pattern (RefinedWeb/FineWeb-style: each new crawl "
        "snapshot is deduplicated against the already-curated "
        f"history, never recomputing it). Split: doc_id % {DELTA_MOD} "
        f"= {DELTA_REM} is today's delta, the rest is history. Per "
        "delta doc: exact_hist (normalized fingerprint already in the "
        "history fingerprint set — dd1's index probed, not rebuilt), "
        "intra_dup (not the min-id holder of its fingerprint within "
        "the delta — the batch dedupes itself), near_hist (exact "
        f"shingle-Jaccard ≥ {JACCARD_TAU} against some history doc, "
        "candidates from the df-capped shingle inverted index "
        "restricted to delta×history — dc2's cross-split candidate "
        "shape pointed at the snapshot axis, with dd2's full-Jaccard "
        "verify), and the accept verdict. Scale contract: history is "
        "touched ONLY through its two persistent index artifacts (the "
        "fingerprint set and the shingle inverted index — what a "
        "production run maintains incrementally as accepted docs are "
        "appended); every join is delta-driven, so candidate cost is "
        "Σ_shingle df_delta·df_hist, bounded by the df-cap, and the "
        "job scales with the DELTA (1 TB/day) not the corpus "
        "(100 TB) — the whole point of incremental curation. "
        "Relation to dd9: dd9 is the ingestion-tier EXACT-only gate "
        "(prefix fingerprint, anti-join, no near pass); dd12 is the "
        "curation-tier pass that runs after it — full normalized "
        "fingerprints, intra-delta dedup, and the fuzzy "
        "delta-vs-history stage dd9 deliberately omits. They compose: "
        "dd9 cheaply drops byte-dups at ingest, dd12 adjudicates what "
        "remains.",
    tags=("dedup", "pipeline"),
)
def dd12_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return incremental_dedup_of(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------- dd13


def two_tier_dedup_of(d: DataFrame) -> DataFrame:
    """dd13's pipeline over an arbitrary (doc_id, text) relation —
    parameterized so the tier-disagreement pytest can plant docs the
    tiers judge differently (same lead-in / different body: tier 1
    rejects what tier 2's exact pass never would; different lead-in /
    near-dup body: sails through tier 1, caught by tier 2's fuzzy
    pass)."""
    is_delta = F.col("doc_id") % DELTA_MOD == DELTA_REM

    # tier 1 — dd9's INGESTION gate, prefix fingerprints only (the
    # cheap per-doc key an ingest tier can afford): reject deltas
    # whose lead-in is already in history, keep min-id per lead-in
    # within the batch. ingest_intra is defined over the WHOLE delta
    # per prefix (not hist-survivors only) — for any prefix already
    # in history every member is rejected via ingest_hist anyway, so
    # the verdicts agree with dd9 while keeping one window pass.
    pf = d.select(
        "doc_id",
        prefix_fingerprint(F.col("text")).alias("pfp"),
        is_delta.alias("is_delta"),
    )
    hist_pfp = pf.filter(~F.col("is_delta")).select("pfp").distinct()
    # pinned: the tier-1 flag relation (doc_id + 2 booleans, KB-scale)
    # feeds THREE downstream branches — the t2 semi-join, the shingle
    # candidate semi-join, and the final select; without the pin the
    # ingest scan + prefix-md5 + window-min subtree re-executes per
    # branch (same argument as _flags_through_near's pins)
    t1 = pin(
        pf.filter("is_delta")
        .join(hist_pfp.withColumn("_ih", F.lit(True)), "pfp", "left")
        .withColumn(
            "ingest_intra",
            F.col("doc_id") != F.min("doc_id").over(Window.partitionBy("pfp")),
        )
        .select(
            "doc_id",
            F.coalesce("_ih", F.lit(False)).alias("ingest_hist"),
            "ingest_intra",
        )
    )
    surv1 = t1.filter(~F.col("ingest_hist") & ~F.col("ingest_intra")).select("doc_id")

    # tier 2 — dd12's CURATION pass over TIER-1 SURVIVORS ONLY: the
    # whole point of the two-tier shape is that the expensive stage
    # (full normalized fingerprints + the shingle candidate join)
    # never sees what the cheap gate already dropped
    nf = d.select(
        "doc_id",
        normalized_fingerprint(F.col("text")).alias("fp"),
        is_delta.alias("is_delta"),
    )
    hist_fp = nf.filter(~F.col("is_delta")).select("fp").distinct()
    d2 = nf.join(surv1, "doc_id", "left_semi")
    t2 = (
        d2.join(hist_fp.withColumn("_eh", F.lit(True)), "fp", "left")
        .withColumn(
            "intra_dup",
            F.col("doc_id") != F.min("doc_id").over(Window.partitionBy("fp")),
        )
        .select(
            "doc_id",
            F.coalesce("_eh", F.lit(False)).alias("exact_hist"),
            "intra_dup",
        )
    )
    # near-dup vs history: dd12's df-capped inverted-index candidate
    # join (shared helper — one copy of the Jaccard/rounding/cap
    # logic), delta side narrowed to tier-1 survivors
    sh = pin(shingle_table_of(d.select("doc_id", "text")))
    near = near_hist_ids(
        sh,
        sh.join(surv1, "doc_id", "left_semi"),
        sh.filter(F.col("doc_id") % DELTA_MOD != DELTA_REM),
    ).withColumnRenamed("_near", "_nh")

    return (
        t1.join(t2, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            "ingest_hist",
            "ingest_intra",
            F.coalesce("exact_hist", F.lit(False)).alias("exact_hist"),
            F.coalesce("intra_dup", F.lit(False)).alias("intra_dup"),
            F.coalesce("_nh", F.lit(False)).alias("near_hist"),
        )
        .withColumn(
            "accepted",
            ~F.col("ingest_hist")
            & ~F.col("ingest_intra")
            & ~F.col("exact_hist")
            & ~F.col("intra_dup")
            & ~F.col("near_hist"),
        )
    )


@query(
    "dd13_two_tier_dedup",
    oracle=f"""
        WITH {SHINGLE_SQL},
        pfx AS (
            SELECT doc_id, {PREFIX_FP_SQL} AS pfp,
                   doc_id % {DELTA_MOD} = {DELTA_REM} AS is_delta
            FROM documents
        ),
        hist_p AS (SELECT DISTINCT pfp FROM pfx WHERE NOT is_delta),
        t1 AS MATERIALIZED (
            SELECT doc_id,
                   pfp IN (SELECT pfp FROM hist_p) AS ingest_hist,
                   doc_id <> min(doc_id) OVER (PARTITION BY pfp) AS ingest_intra
            FROM pfx WHERE is_delta
        ),
        surv1 AS MATERIALIZED (
            SELECT doc_id FROM t1 WHERE NOT ingest_hist AND NOT ingest_intra
        ),
        fpx AS (
            SELECT doc_id,
                   md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
                   doc_id % {DELTA_MOD} = {DELTA_REM} AS is_delta
            FROM documents
        ),
        hist_f AS (SELECT DISTINCT fp FROM fpx WHERE NOT is_delta),
        t2 AS (
            SELECT doc_id,
                   fp IN (SELECT fp FROM hist_f) AS exact_hist,
                   doc_id <> min(doc_id) OVER (PARTITION BY fp) AS intra_dup
            FROM fpx SEMI JOIN surv1 USING (doc_id)
        ),
        {near_hist_sql('(SELECT * FROM sh SEMI JOIN surv1 USING (doc_id))')}
        SELECT t1.doc_id, t1.ingest_hist, t1.ingest_intra,
               coalesce(t2.exact_hist, false) AS exact_hist,
               coalesce(t2.intra_dup, false) AS intra_dup,
               t1.doc_id IN (SELECT doc_id FROM nearh) AS near_hist,
               (NOT t1.ingest_hist AND NOT t1.ingest_intra
                AND NOT coalesce(t2.exact_hist, false)
                AND NOT coalesce(t2.intra_dup, false)
                AND t1.doc_id NOT IN (SELECT doc_id FROM nearh)) AS accepted
        FROM t1 LEFT JOIN t2 USING (doc_id)
    """,
    doc="dd13 TWO-TIER ingestion dedup — dd9's cheap exact gate and "
        "dd12's fuzzy curation pass composed as ONE declared query, "
        "the production split their docstrings promise: tier 1 "
        "(INGEST) rejects a delta doc whose prefix fingerprint (md5 "
        "of the first 8 tokens) is already in history or is not the "
        "min-id holder of its prefix within the batch — per-doc cost "
        "is one hash and one anti-join against a fingerprint-only "
        "bucketed index, affordable on every ingested byte; tier 2 "
        "(CURATION) runs dd12's full pass — normalized-fingerprint "
        "exact-vs-history, intra-delta dedup, shingle-Jaccard "
        f"near-dup ≥ {JACCARD_TAU} vs history — over TIER-1 "
        "SURVIVORS ONLY, so the expensive candidate join never sees "
        "what the gate dropped. Output: one row per delta doc with "
        "both tiers' flags and the final accept verdict; tier-2 "
        "flags of tier-1 rejects are false (never evaluated — the "
        "doc never reached the tier), making the reject ATTRIBUTABLE "
        "to its tier, which is what an ingestion audit needs. The "
        "tiers genuinely disagree in both directions (pytest "
        "fixture): same lead-in/different body is a tier-1 reject "
        "tier 2 would admit (the aggressive-prefix tradeoff dd9 "
        "documents), different lead-in/near-dup body passes tier 1 "
        "and is caught by tier 2. Scale contract inherited from "
        "both parents: history touched only through its persistent "
        "fingerprint and shingle-index artifacts, every join "
        "delta-driven, candidate cost Σ_shingle df_delta·df_hist "
        "bounded by the df-cap.",
    tags=("dedup", "pipeline"),
)
def dd13_two_tier_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return two_tier_dedup_of(load_table(spark, sf_dir, "documents"))
