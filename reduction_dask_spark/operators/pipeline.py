"""End-to-end corpus-curation pipeline — the flagship LLM-data use
case composed from the operator library: quality filter → exact dedup
→ near-dup dedup → language selection, with a per-stage funnel summary.
Plus the CDC/upsert (MERGE-shaped) pattern emulated relationally.

The funnel is exactly what a 100 TB pre-training curation job reports;
every stage is a shuffle-on-key relational step (no driver loops), and
the whole funnel is oracle-checked end-to-end in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..caching import barrier, pin
from ..registry import query
from ..sources import load_table, spread_scan
from .dedup import (
    BENCH_MOD,
    DECON_MIN_SHARED,
    ES_ANCHOR,
    JACCARD_TAU,
    _JACCARD_SQL,
    excise_intervals,
    excise_sql,
    jaccard_pairs,
    shingle_sql_from,
    shingle_table_of,
    span_spans_between,
    span_sql_between,
)
from .text import normalized_fingerprint

QUALITY_TAU = 0.3
KEEP_LANGS = ("en", "de", "fr", "es")


def _flags_through_near(
    spark: SparkSession, sf_dir: str, quality_gate: DataFrame | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared front of the curation funnels (pipe1/pipe2/pipe3/pipe4):
    quality → Gopher A1.1 → repetition → exact dedup → near dedup.
    Returns ``(docs, flagged, sh_surv)``: the documents table, the
    flag relation through ``near_ok`` (one row per doc), and the
    pinned exact-survivor shingle index the decontam stages reuse.

    ``quality_gate`` (r9, pipe4): optional (doc_id, cls_ok) relation
    replacing the heuristic quality score as the first stage — the
    trained-classifier gate; docs absent from the gate fail closed.

    Single-pass design (tightened r16): the quality, Gopher-rule AND
    repetition expressions all share ONE token-array scan — the
    repetition flags are per-row array folds (text.with_rep_flags,
    gated on gopher_ok so only survivors pay the gram work), so the
    former second corpus scan + exploded gram stream + its shuffle
    aggregations are gone entirely; the fingerprint window and the
    (expensive) Jaccard pair join each run exactly ONCE on their
    shrunken inputs; stages compose as flag conjunctions — vs the
    naive per-stage-subquery funnel that re-executes the whole
    upstream chain for every stage count. At 100 TB that difference
    is the job. Funnel head = one scan + one fp-window shuffle + one
    barrier (was: two barriers, two scans, a pinned gram stream, 4
    gram shuffles and 3 joins)."""
    from .text import (
        GQ_ALPHA_DEN,
        GQ_ALPHA_NUM,
        GQ_MAX_WORDS,
        GQ_MIN_STOPS,
        GQ_MIN_WORDS,
        GQ_MWL_HI,
        GQ_MWL_LO,
        STOPWORDS,
        with_rep_flags,
    )

    # spread_scan: the whole funnel inherits this relation's
    # partitioning through its broadcast joins — one guard here keeps
    # the token scan, the shingle explode AND the span anchor index
    # parallel when the input is a single unsplittable row group
    # (no-op at scale; see sources.spread_scan)
    d = spread_scan(load_table(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    # Gopher A1.1 rules (gq1's integer-cross-multiplied expressions)
    # in the SAME scan as the quality gate
    sum_len = F.aggregate(
        F.transform(toks, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    n_stop = F.size(
        F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(w) for w in STOPWORDS]))
    )
    n_alpha = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    gq_pass = (
        n.between(GQ_MIN_WORDS, GQ_MAX_WORDS)
        & (sum_len >= GQ_MWL_LO * n)
        & (sum_len <= GQ_MWL_HI * n)
        & (n_stop >= GQ_MIN_STOPS)
        & (GQ_ALPHA_DEN * n_alpha >= GQ_ALPHA_NUM * n)
    )

    if quality_gate is None:
        stop_ratio = (
            F.size(F.filter(toks, lambda x: x.isin("a", "the"))).cast("double") / n
        )
        uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n
        quality = F.least(F.lit(1.0), n / F.lit(50.0)) * (1.0 - stop_ratio) * uniq_ratio
        base = d
        q_ok = quality >= QUALITY_TAU
    else:
        # classifier gate replaces the heuristic score: one
        # co-partitioned left join on the key (the gate relation is
        # corpus-sized — never broadcast); docs the gate never scored
        # FAIL CLOSED (coalesce false), the only safe default for a
        # quality filter. The join requires ≤1 gate row per doc_id —
        # a duplicated gate row would fan every downstream stage out
        # per duplicate and inflate all funnel counts — so enforce it
        # with a max-aggregate (bool_or semantics: any passing score
        # row admits the doc); for an already-unique gate this folds
        # into the same single shuffle the join needs anyway.
        gate = quality_gate.groupBy("doc_id").agg(
            F.max(F.col("cls_ok").cast("boolean")).alias("_cls_ok")
        )
        base = d.join(gate, "doc_id", "left")
        q_ok = F.coalesce(F.col("_cls_ok"), F.lit(False))

    # ONE scan computes every per-row stage (r16): quality + Gopher
    # A1.1 + the A1.2 repetition flags — the latter as per-row array
    # folds gated on gopher_ok (text.with_rep_flags: only survivors
    # pay the gram hashing/sorts, exactly the set the old gram stream
    # ran on; CASE short-circuit skips the rest). when/otherwise
    # normalizes a NULL gopher_ok (NULL text) to false, matching the
    # old semi-join + coalesce(false) algebra bit-for-bit.
    staged = base.select(
        "doc_id", "lang",
        normalized_fingerprint(F.col("text")).alias("fp"),
        q_ok.alias("q_ok"),
        (q_ok & gq_pass).alias("gopher_ok"),
        toks.alias("_toks"),
    ).withColumn("_n", F.size("_toks"))
    staged = with_rep_flags(staged, "_toks", "_n", gate="gopher_ok")
    staged = staged.withColumn(
        "rep_ok",
        F.when(
            F.col("gopher_ok")
            & ((F.col("f_top2") + F.col("f_top3") + F.col("f_dup5")) == 0),
            F.lit(True),
        ).otherwise(F.lit(False)),
    ).select("doc_id", "lang", "fp", "q_ok", "gopher_ok", "rep_ok")

    # exact dedup: survivor = smallest doc_id per fingerprint among
    # repetition survivors. A window-min over fp (one shuffle, no
    # self-join). NULL algebra: if no rep survivor shares the fp, the
    # conditional min is NULL and rep_ok=false & NULL = false.
    flagged = staged.withColumn(
        "exact_ok",
        F.col("rep_ok")
        & (
            F.col("doc_id")
            == F.min(F.when(F.col("rep_ok"), F.col("doc_id"))).over(
                Window.partitionBy("fp")
            )
        ),
    )
    # barriered (eager localCheckpoint — see caching.barrier): doc_id
    # + boolean flags only (KB-scale); the near-dup, decontamination,
    # and final-select branches each read it, and the upstream side
    # embeds the whole token-expression scan — a lazy pin dedup'd
    # execution (15.2 s -> 6 s at sf0.1) but left the full lineage in
    # every downstream plan: the r11 profile showed the funnel
    # compositions paying 6-9 s of DRIVER plan-building on those
    # embedded trees, flat across sf. r16 collapsed the former
    # staged/flagged barrier pair into this one (the gram stream the
    # first barrier isolated no longer exists). A lazy pin here
    # instead (r17 A/B) lost 10-20% on every funnel query: the
    # un-truncated token-fold lineage re-executes under the AQE cache
    # race and re-enters every downstream plan build.
    flagged = barrier(
        flagged.select(
            "doc_id", "lang", "q_ok", "gopher_ok", "rep_ok", "exact_ok"
        )
    )

    # near-dup dedup AMONG EXACT SURVIVORS ONLY: the pair join's cost is
    # Σ_shingle df², so running it before exact dedup is quadratic in
    # duplicate multiplicity (the ×10 probe, whose replicas are 10-way
    # exact dups, measured 17× superlinear for the old order). Funnel
    # order exact→near is also lossless here: an exact duplicate has
    # the SAME shingle set as its keeper, so any pair it would have
    # verified is verified by the keeper too (and the dropped member is
    # always the higher id, which exceeds the group-min keeper id).
    surv = d.join(flagged.filter("exact_ok").select("doc_id"), "doc_id").select(
        "doc_id", "text"
    )
    # pinned (r17 — was barriered r11-r16): candidate generation and
    # pipe1's decontam branch both read the survivor shingle index,
    # but an EAGER materialization job of corpus-sized exploded rows
    # cost more than the lazy pin it replaced — interleaved sf0.1 A/B,
    # funnel sum-of-mins 28.2→24.4 s and 28.5→25.1 s (-12/-13%). The
    # pin fills inside the first consumer job; the subtree above it is
    # one join + explode over the barriered flag relation, so the AQE
    # double-compute risk is bounded by that shallow subtree.
    sh_surv = pin(shingle_table_of(surv))
    pairs = jaccard_pairs(sh_surv, tau=JACCARD_TAU)
    drop = pairs.select(F.col("doc_b").alias("doc_id"), F.lit(True).alias("is_dup")).distinct()
    flagged = flagged.join(drop, "doc_id", "left").select(
        "doc_id", "lang", "q_ok", "gopher_ok", "rep_ok", "exact_ok",
        (F.col("exact_ok") & ~F.coalesce("is_dup", F.lit(False))).alias("near_ok"),
    )
    return d, flagged, sh_surv


def doc_survival_flags(
    spark: SparkSession, sf_dir: str, quality_gate: DataFrame | None = None
) -> DataFrame:
    """The FULL curation flag relation (one row per document):
    :func:`_flags_through_near`'s five stages plus benchmark
    decontamination (dc1's broadcast shingle anti-overlap) and the
    language allowlist — the conjunction chain pipe1 counts and pipe2
    exports from."""
    d, flagged, sh_surv = _flags_through_near(spark, sf_dir, quality_gate)

    # benchmark decontamination (dc1's relation) on the near survivors:
    # the benchmark shingle set is tiny → broadcast; the corpus side
    # REUSES the pinned survivor shingle index (exact survivors ⊇ near
    # survivors; the conjunction with near_ok narrows it). Benchmark-
    # split documents themselves can't be "contaminated by themselves"
    # and pass through, as in dc1.
    bench_sh = (
        shingle_table_of(d.filter(F.col("doc_id") % BENCH_MOD == 0))
        .select("shingle")
        .distinct()
    )
    contam = (
        sh_surv.filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= DECON_MIN_SHARED)
        .select("doc_id", F.lit(True).alias("is_contam"))
    )
    flagged = flagged.join(contam, "doc_id", "left").withColumn(
        "decontam_ok", F.col("near_ok") & ~F.coalesce("is_contam", F.lit(False))
    )

    return flagged.select(
        "doc_id", "q_ok", "gopher_ok", "rep_ok", "exact_ok", "near_ok", "decontam_ok",
        (F.col("decontam_ok") & F.col("lang").isin(*KEEP_LANGS)).alias("lang_ok"),
    )


def _funnel_sql(quality_pred: str | None = None) -> str:
    """The funnel's DuckDB CTE chain. ``quality_pred`` (pipe4)
    replaces the heuristic quality-score predicate on the first
    stage with an arbitrary boolean SQL expression over ``toks`` —
    the oracle twin of _flags_through_near's ``quality_gate``."""
    from ..functions import md5h60_sql
    from .dedup import DF_CAP, K_SHINGLE, BENCH_MOD as _BM, DECON_MIN_SHARED as _DMS
    from .text import (
        GQ_ALPHA_DEN,
        GQ_ALPHA_NUM,
        GQ_MAX_WORDS,
        GQ_MIN_STOPS,
        GQ_MIN_WORDS,
        GQ_MWL_HI,
        GQ_MWL_LO,
        REP_DUP5_PCT,
        REP_TOP2_PCT,
        REP_TOP3_PCT,
        QUALITY_OF_TOKS_SQL,
        _STOP_SQL,
    )

    qp = quality_pred or f"{QUALITY_OF_TOKS_SQL} >= {QUALITY_TAU}"

    return f"""
    WITH
    m0 AS (
        SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents
    ),
    q AS MATERIALIZED (
        SELECT doc_id, lang, text, toks,
               len(toks) AS n,
               list_sum(list_transform(toks, x -> len(x))) AS sum_len,
               len(list_filter(list_distinct(toks), x -> x IN {_STOP_SQL})) AS n_stop,
               len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha
        FROM m0
        WHERE {qp}
    ),
    gq AS MATERIALIZED (
        SELECT doc_id, lang, text, toks FROM q
        WHERE n BETWEEN {GQ_MIN_WORDS} AND {GQ_MAX_WORDS}
          AND sum_len >= {GQ_MWL_LO} * n AND sum_len <= {GQ_MWL_HI} * n
          AND n_stop >= {GQ_MIN_STOPS}
          AND {GQ_ALPHA_DEN} * n_alpha >= {GQ_ALPHA_NUM} * n
    ),
    rg2 AS (
        SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1]
                               for i in range(1, len(toks))]) AS g
        FROM gq WHERE len(toks) >= 2
    ),
    rm2 AS (SELECT doc_id, max(c) AS maxc2 FROM
            (SELECT doc_id, g, count(*) AS c FROM rg2 GROUP BY doc_id, g)
            GROUP BY doc_id),
    rg3 AS (
        SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                               for i in range(1, len(toks) - 1)]) AS g
        FROM gq WHERE len(toks) >= 3
    ),
    rm3 AS (SELECT doc_id, max(c) AS maxc3 FROM
            (SELECT doc_id, g, count(*) AS c FROM rg3 GROUP BY doc_id, g)
            GROUP BY doc_id),
    rg5 AS (
        SELECT doc_id,
               unnest([struct_pack(p := i,
                       g := toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                            || ' ' || toks[i+3] || ' ' || toks[i+4])
                       for i in range(1, len(toks) - 3)]) AS u
        FROM gq WHERE len(toks) >= 5
    ),
    rg5f AS (SELECT doc_id, u.p AS p, u.g AS g FROM rg5),
    rc5 AS (SELECT doc_id, g FROM rg5f GROUP BY doc_id, g HAVING count(*) >= 2),
    rcov AS (
        SELECT doc_id, count(*) AS cov5 FROM (
            SELECT DISTINCT rg5f.doc_id, unnest(range(rg5f.p, rg5f.p + 5)) AS pos
            FROM rg5f JOIN rc5 USING (doc_id, g)
        ) GROUP BY doc_id
    ),
    repf AS MATERIALIZED (
        SELECT g.doc_id, g.lang, g.text FROM gq g
        LEFT JOIN rm2 ON rm2.doc_id = g.doc_id
        LEFT JOIN rm3 ON rm3.doc_id = g.doc_id
        LEFT JOIN rcov ON rcov.doc_id = g.doc_id
        WHERE NOT (200 * coalesce(rm2.maxc2, 0) > {REP_TOP2_PCT} * len(g.toks))
          AND NOT (300 * coalesce(rm3.maxc3, 0) > {REP_TOP3_PCT} * len(g.toks))
          AND NOT (100 * coalesce(rcov.cov5, 0) > {REP_DUP5_PCT} * len(g.toks))
    ),
    fp AS MATERIALIZED (
        SELECT doc_id, lang,
               md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS f
        FROM repf
    ),
    exact AS MATERIALIZED (
        SELECT fp.doc_id, fp.lang
        FROM fp JOIN (SELECT f, min(doc_id) AS doc_id FROM fp GROUP BY f) k
          ON fp.f = k.f AND fp.doc_id = k.doc_id
    ),
    exact_docs AS (
        SELECT e.doc_id, dd.text FROM exact e JOIN documents dd USING (doc_id)
    ),
    {shingle_sql_from('exact_docs', materialized=True)},
    {_JACCARD_SQL},
    neardup AS MATERIALIZED (
        SELECT e.doc_id, e.lang FROM exact e
        WHERE e.doc_id NOT IN (SELECT doc_b FROM jac WHERE jaccard >= {JACCARD_TAU})
    ),
    bd AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE doc_id % {_BM} = 0
    ),
    bshs AS (
        SELECT doc_id,
               unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                     for i in range(1, len(toks) - 1)])) AS shingle_s
        FROM bd WHERE len(toks) >= {K_SHINGLE}
    ),
    bsh0 AS (SELECT doc_id, {md5h60_sql('shingle_s')} AS shingle FROM bshs),
    bhot AS (SELECT shingle FROM bsh0 GROUP BY shingle HAVING count(*) > {DF_CAP}),
    bsh AS (SELECT DISTINCT shingle FROM bsh0 ANTI JOIN bhot USING (shingle)),
    contam AS (
        SELECT s.doc_id FROM sh s JOIN bsh USING (shingle)
        WHERE s.doc_id % {_BM} <> 0
        GROUP BY s.doc_id HAVING count(*) >= {_DMS}
    ),
    decon AS (
        SELECT doc_id, lang FROM neardup
        WHERE doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    lang AS (
        SELECT doc_id FROM decon WHERE lang IN {KEEP_LANGS!r}
    )
"""


_FUNNEL_SQL = _funnel_sql()


@query(
    "pipe1_corpus_curation",
    oracle=_FUNNEL_SQL
    + """
    SELECT 'total' AS stage, CAST(count(*) AS BIGINT) AS n FROM documents
    UNION ALL SELECT 'quality', CAST(count(*) AS BIGINT) FROM q
    UNION ALL SELECT 'gopher', CAST(count(*) AS BIGINT) FROM gq
    UNION ALL SELECT 'repetition', CAST(count(*) AS BIGINT) FROM repf
    UNION ALL SELECT 'exact_dedup', CAST(count(*) AS BIGINT) FROM exact
    UNION ALL SELECT 'near_dedup', CAST(count(*) AS BIGINT) FROM neardup
    UNION ALL SELECT 'decontam', CAST(count(*) AS BIGINT) FROM decon
    UNION ALL SELECT 'lang', CAST(count(*) AS BIGINT) FROM lang
    """,
    doc="pipe1 curation funnel — the FULL 8-stage composition "
        "PIPELINES.md §1 promises (extended r8, verdict item 5): "
        "quality ≥ τ → Gopher A1.1 rules (gq1) → Gopher A1.2 "
        "repetition rules (rep1) → exact dedup (min-id per "
        "fingerprint) → near-dup dedup (drop higher-id of each "
        "verified Jaccard pair) → benchmark decontamination (dc1's "
        "broadcast shingle anti-overlap, reusing the near-dup "
        "stage's pinned survivor shingle index) → language "
        "allowlist; returns the per-stage survivor counts. The "
        "composed 100 TB curation job, oracle-checked end-to-end. "
        "(Bench timings before r8 cover the 5-stage funnel — the r8 "
        "step-up in pipe1's bench row is the three added stages, "
        "not a regression.)",
    tags=("pipeline", "dedup", "text", "bench"),
)
def pipe1_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _funnel_counts(doc_survival_flags(spark, sf_dir), "quality")


def _funnel_counts(flags: DataFrame, first_stage: str) -> DataFrame:
    """One-row flag-sum aggregate unpivoted to the (stage, n) funnel
    shape — shared by pipe1 (heuristic first stage, labeled
    'quality') and pipe4 (classifier gate, labeled 'gate')."""
    counts = flags.agg(
        F.count("*").alias("total"),
        F.sum(F.col("q_ok").cast("long")).alias(first_stage),
        F.sum(F.col("gopher_ok").cast("long")).alias("gopher"),
        F.sum(F.col("rep_ok").cast("long")).alias("repetition"),
        F.sum(F.col("exact_ok").cast("long")).alias("exact_dedup"),
        F.sum(F.col("near_ok").cast("long")).alias("near_dedup"),
        F.sum(F.col("decontam_ok").cast("long")).alias("decontam"),
        F.sum(F.col("lang_ok").cast("long")).alias("lang"),
    )
    stages = (
        "total", first_stage, "gopher", "repetition",
        "exact_dedup", "near_dedup", "decontam", "lang",
    )
    return counts.select(
        F.explode(
            F.array(*[
                F.struct(F.lit(s).alias("stage"), F.col(s).alias("n")) for s in stages
            ])
        ).alias("r")
    ).select("r.stage", "r.n")


# ---------------------------------------------------------------- pipe2

EXPORT_SHARDS = 4  # dataloader shard files (a cluster run uses O(1000))
PACK_BUDGET = 256  # tokens per training sequence pack (shared with pack1)


def _export_manifest(kept: DataFrame) -> DataFrame:
    """pipe2's export half over any (doc_id, n_tok, skey) relation:
    shard by the shuffle key, per-shard greedy running-budget packing,
    one manifest row per shard — factored (r10) so pipe5 can export
    the span-excised token counts through the identical math.

    Preconditions (r16 ADVICE — the lag-flag n_seqs below equals
    COUNT(DISTINCT seq_id) only under them): ``n_tok`` must be
    NON-NEGATIVE (prefix sums of non-negative deltas make seq_id
    non-decreasing along the window order, so equal values are
    contiguous) and ``(skey, doc_id)`` must be unique per shard (a
    duplicate key would make the window order ambiguous). Both hold
    for every current caller (n_tok is a token count; doc_id is a
    key); a caller violating them would silently diverge from the
    oracle's count(DISTINCT)."""
    sharded = kept.withColumn("shard", F.col("skey") % EXPORT_SHARDS)
    w = (
        Window.partitionBy("shard")
        .orderBy("skey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seqs = sharded.withColumn(
        "seq_id",
        F.floor(F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / PACK_BUDGET),
    )
    # n_seqs = COUNT(DISTINCT seq_id), computed as a sum of sequence-
    # START flags instead of a distinct aggregate (r16, guide §2.3/
    # §2.4): prefix sums of non-negative n_tok are non-decreasing, so
    # seq_id is non-decreasing along the window order and equal values
    # are contiguous — a lag over the SAME window spec (no extra
    # shuffle, no extra sort; one window pass computes both) marks
    # each first-of-run exactly once. The old countDistinct planned an
    # Expand + second aggregation exchange over the whole kept
    # relation — corpus-sized at 100 TB; the flag is one column and
    # folds into the existing map-side aggregation.
    wrow = Window.partitionBy("shard").orderBy("skey", "doc_id")
    seqs = seqs.withColumn(
        "_seq_start",
        F.when(
            F.lag("seq_id").over(wrow).isNull()
            | (F.col("seq_id") != F.lag("seq_id").over(wrow)),
            F.lit(1),
        ).otherwise(F.lit(0)).cast("long"),
    )
    n_seqs = F.sum("_seq_start")
    return seqs.groupBy(F.col("shard").cast("bigint").alias("shard")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        n_seqs.alias("n_seqs"),
        F.round(
            F.sum("n_tok") / (n_seqs * F.lit(float(PACK_BUDGET))),
            6,
        ).alias("fill_frac"),
    )


def _export_manifest_sql(kept_body: str) -> str:
    """SQL twin of :func:`_export_manifest`: CTEs from a
    (doc_id, n_tok, skey) query to the final per-shard manifest
    SELECT — shared by the pipe2 and pipe5 oracles."""
    return f"""kept AS ({kept_body}),
    sharded AS (
        SELECT doc_id, n_tok, skey, skey % {EXPORT_SHARDS} AS shard FROM kept
    ),
    run AS (
        SELECT shard, doc_id, n_tok,
               COALESCE(sum(n_tok) OVER (
                   PARTITION BY shard ORDER BY skey, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        FROM sharded
    ),
    seqs AS (
        SELECT shard, doc_id, n_tok, prefix // {PACK_BUDGET} AS seq_id FROM run
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT seq_id) AS BIGINT) AS n_seqs,
           round(sum(n_tok) / (count(DISTINCT seq_id) * {PACK_BUDGET}.0), 6) AS fill_frac
    FROM seqs
    GROUP BY shard"""


@query(
    "pipe2_export_manifest",
    oracle=_FUNNEL_SQL
    + f"""
    , {_export_manifest_sql('''
        SELECT d.doc_id, len(string_split(d.text, ' ')) AS n_tok,
               (('0x' || substring(md5('0:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT) AS skey
        FROM documents d JOIN lang USING (doc_id)''')}
    """,
    doc="pipe2 training-data EXPORT manifest — the composition that "
        "turns pipe1's curated survivor set into what a dataloader "
        "actually consumes, closing PIPELINES.md §1 end-to-end: "
        "curated docs (pipe1's full 8-stage funnel) → shuf1's epoch-0 "
        "deterministic shuffle key md5('0:'||doc_id) → shard = "
        f"skey % {EXPORT_SHARDS} → per-shard greedy sequence packing "
        f"(pack1's exclusive running token count, {PACK_BUDGET}-token "
        "budget, in SHUFFLED order — real pipelines shuffle before "
        "packing so each training sequence mixes unrelated documents) "
        "→ one manifest row per shard: docs, token mass, sequences "
        "started, fill fraction (>1 means long docs spill across "
        "budget boundaries — n_seqs counts STARTED sequences). "
        "Scale design: the shard count is the parallelism knob — the "
        "running-sum window is PARTITIONED BY shard (bounded "
        "per-partition order, never a global sort), the shuffle key "
        "is a uniform content hash so shards are balanced with no "
        "skew handling, and the within-shard order is exactly the "
        "global shuffle restricted to the shard, so concatenating "
        "shard streams reproduces a bit-for-bit deterministic "
        "training order on any cluster size or partitioning. The "
        "manifest is the resume/audit contract every pretraining "
        "job ships with its shards.",
    tags=("pipeline", "text"),
)
def pipe2_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import md5h60

    flags = doc_survival_flags(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    kept = d.join(flags.filter("lang_ok").select("doc_id"), "doc_id").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
        md5h60(F.concat(F.lit("0:"), F.col("doc_id").cast("string"))).alias("skey"),
    )
    return _export_manifest(kept)


# ---------------------------------------------------------------- pipe3


def span_excision_of(docs: DataFrame, near_ids: DataFrame) -> DataFrame:
    """pipe3's excision half over an arbitrary (doc_id, text) relation
    plus a near-dup-survivor id relation — parameterized so the
    planted-contamination pytest can hand in a constructed corpus.
    Corpus side = near survivors outside the benchmark split; bench
    side = the benchmark split of the RAW corpus (the eval suite
    exists independently of curation verdicts). Returns the CLEANED
    MANIFEST — one row per near survivor: dd11b's (n_tokens,
    n_removed, clean_fp), with untouched docs at n_removed=0 and the
    hash of their full token stream, so the oracle pins the entire
    exported corpus, not only the edited rows."""
    # barriered: the id relation is KB-scale but its upstream is the
    # ENTIRE funnel (incl. the Jaccard pair join); two branches read
    # it (the span chain's corpus side and the excision's toked
    # side), and each would otherwise carry — and under AQE's
    # concurrent stage start, re-execute — the whole funnel tree
    near_ids = barrier(near_ids.select("doc_id"))
    surv_docs = docs.join(near_ids, "doc_id", "left_semi").select("doc_id", "text")
    corpus = surv_docs.filter(F.col("doc_id") % BENCH_MOD != 0)
    bench = docs.filter(F.col("doc_id") % BENCH_MOD == 0).select("doc_id", "text")
    # dedup_spans=False: excise_intervals' collect_set dedups the
    # projected intervals anyway — one dedup's worth of semantics,
    # zero extra exchanges
    spans = span_spans_between(corpus, bench, dedup_spans=False)
    # no distinct: excise_intervals' collect_set absorbs duplicate
    # intervals inside its one groupBy exchange
    iv = spans.select(
        F.col("doc_a").alias("doc_id"),
        F.col("start_a").alias("s"),
        (F.col("start_a") + F.col("match_len")).alias("e"),
    )
    return excise_intervals(surv_docs, iv, affected_only=False)


@query(
    "pipe3_span_excision",
    oracle=_FUNNEL_SQL
    + f""",
    ctoked3 AS (
        SELECT d.doc_id, string_split(d.text, ' ') AS toks
        FROM documents d SEMI JOIN neardup USING (doc_id)
        WHERE d.doc_id % {BENCH_MOD} <> 0
          AND len(string_split(d.text, ' ')) >= {ES_ANCHOR}
    ),
    btoked3 AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE doc_id % {BENCH_MOD} = 0
          AND len(string_split(text, ' ')) >= {ES_ANCHOR}
    ),
    {span_sql_between('ctoked3', 'btoked3', prefix='es_')},
    {excise_sql('doc_a', 'start_a',
                "SELECT d.doc_id, string_split(d.text, ' ') AS toks "
                "FROM documents d SEMI JOIN neardup USING (doc_id)",
                affected_only=False, spans_src='es_spans')}
    """,
    doc="pipe3 SPAN-EXCISION funnel — dc3's span-level benchmark "
        "decontamination composed INTO the curation funnel (the r9 "
        "factoring of span_spans_between exists exactly for this): "
        "the funnel's quality → Gopher → repetition → exact → "
        "near-dup stages run first, then the asymmetric grid/dense "
        "seed-and-extend span pass points at the NEAR-DUP SURVIVORS "
        "only, and every detected benchmark span is EXCISED dd11b-"
        "style (gaps-and-islands interval merge, positional token "
        "cut) instead of dropping the whole document — the "
        "surgical alternative to pipe1's doc-level decontam stage, "
        "closing the long-host dilution hazard (a quoted benchmark "
        "passage inside a long document dilutes doc-level shingle "
        "overlap; the span pass catches it positionally). Output: "
        "the cleaned-corpus MANIFEST — one row per near survivor "
        "with token count, tokens removed (0 for untouched docs), "
        "and the md5 of the surviving token stream, so the oracle "
        "value-checks the entire export, not only the edits. Scale "
        "composition is the point: the expensive span index runs on "
        "the post-funnel corpus (already exact-deduped, so the "
        "corpus side needs NO duplicate collapse — the funnel's "
        "exact stage did it), the corpus side indexes only n/A "
        "grid anchors, and the excision is a per-doc map over a "
        "tiny broadcast-size interval list.",
    tags=("pipeline", "dedup", "text"),
)
def pipe3_span_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, flagged, _sh_surv = _flags_through_near(spark, sf_dir)
    return span_excision_of(docs, flagged.filter("near_ok").select("doc_id"))


# ---------------------------------------------------------------- pipe4


def _cls1_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import cls1_quality_classifier

    return cls1_quality_classifier(spark, sf_dir).select(
        "doc_id", (F.col("keep") == 1).alias("cls_ok")
    )


def _cls1_pred_sql() -> str:
    from .text import _cls_weight_sql

    return f"list_sum(list_transform(toks, t -> {_cls_weight_sql('t')})) >= 0"


@query(
    "pipe4_gated_funnel",
    oracle=_funnel_sql(quality_pred=_cls1_pred_sql())
    + """
    SELECT 'total' AS stage, CAST(count(*) AS BIGINT) AS n FROM documents
    UNION ALL SELECT 'gate', CAST(count(*) AS BIGINT) FROM q
    UNION ALL SELECT 'gopher', CAST(count(*) AS BIGINT) FROM gq
    UNION ALL SELECT 'repetition', CAST(count(*) AS BIGINT) FROM repf
    UNION ALL SELECT 'exact_dedup', CAST(count(*) AS BIGINT) FROM exact
    UNION ALL SELECT 'near_dedup', CAST(count(*) AS BIGINT) FROM neardup
    UNION ALL SELECT 'decontam', CAST(count(*) AS BIGINT) FROM decon
    UNION ALL SELECT 'lang', CAST(count(*) AS BIGINT) FROM lang
    """,
    doc="pipe4 CLASSIFIER-GATED funnel — the funnel's first stage "
        "swapped from the heuristic quality score to a model "
        "verdict via _flags_through_near(quality_gate=...): the "
        "(doc_id, cls_ok) gate relation joins in on the key (one "
        "co-partitioned shuffle — the gate is corpus-sized, never "
        "broadcast) and docs ABSENT from the gate fail closed. This "
        "registered twin gates on cls1's deterministic hash-weight "
        "linear classifier, so the ENTIRE gated funnel is value-"
        "checked against DuckDB end-to-end; the trained IRLS gate "
        "(cls2) rides the identical code path as pipe4b — iterative "
        "fits aren't SQL-expressible, which is exactly why the gate "
        "PLUMBING gets its oracle here with a closed-form stand-in. "
        "This is the CCNet/GPT-3-style quality-classifier curation "
        "shape: train/score once, gate the funnel at scan speed.",
    tags=("pipeline", "dedup", "text", "ml"),
)
def pipe4_gated_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    gate = _cls1_gate(spark, sf_dir)
    return _funnel_counts(doc_survival_flags(spark, sf_dir, quality_gate=gate), "gate")


@query(
    "pipe4b_trained_gated_funnel",
    oracle=None,  # the gate comes from cls2's iterative IRLS fit — not
    # SQL-expressible; pipe4 oracle-checks the identical funnel path
    # with a closed-form gate, and the pytest pins fail-closed
    # semantics plus heuristic/trained gate disagreement
    doc="pipe4b the SAME gated funnel as pipe4 but with the TRAINED "
        "quality classifier (cls2: hashed bag-of-words, ridge IRLS "
        "fit in-engine, broadcast-β scoring) as the gate — the "
        "composition a production corpus pipeline actually runs: "
        "featurize → fit → score → gate → dedup → decontam → "
        "export. The gate path (fail-closed key join) is byte-"
        "identical to pipe4's oracle-checked one; only the gate "
        "relation differs. cls2's held-out quality is itself "
        "measured by cls2b before the gate is trusted.",
    tags=("pipeline", "dedup", "text", "ml"),
)
def pipe4b_trained_gated_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import cls2_trained_classifier

    gate = cls2_trained_classifier(spark, sf_dir).select(
        "doc_id", (F.col("pred") == 1).alias("cls_ok")
    )
    return _funnel_counts(doc_survival_flags(spark, sf_dir, quality_gate=gate), "gate")


# ---------------------------------------------------------------- pipe5


@query(
    "pipe5_clean_export",
    oracle=_FUNNEL_SQL
    + f""",
    ctoked5 AS (
        SELECT d.doc_id, string_split(d.text, ' ') AS toks
        FROM documents d SEMI JOIN lang USING (doc_id)
        WHERE d.doc_id % {BENCH_MOD} <> 0
          AND len(string_split(d.text, ' ')) >= {ES_ANCHOR}
    ),
    btoked5 AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE doc_id % {BENCH_MOD} = 0
          AND len(string_split(text, ' ')) >= {ES_ANCHOR}
    ),
    {span_sql_between('ctoked5', 'btoked5', prefix='es_')},
    {excise_sql('doc_a', 'start_a',
                "SELECT d.doc_id, string_split(d.text, ' ') AS toks "
                "FROM documents d SEMI JOIN lang USING (doc_id)",
                affected_only=False, as_cte='manifest', spans_src='es_spans')},
    {_export_manifest_sql(f'''
        SELECT m.doc_id, CAST(m.n_tokens - m.n_removed AS BIGINT) AS n_tok,
               (('0x' || substring(md5('0:' || CAST(m.doc_id AS VARCHAR)), 1, 15))::BIGINT) AS skey
        FROM manifest m''')}
    """,
    doc="pipe5 the WHOLE 100 TB path as one declared, oracle-checked "
        "query — what pipe1→pipe3→pipe2 compose to: the full 8-stage "
        "funnel picks the lang survivors, dc3's span pass excises "
        "benchmark quotes from them (pipe3's surgical decontam, here "
        "applied to the FINAL keep set), and the export half shards, "
        "shuffles and greedy-packs the CLEANED token counts "
        "(n_tokens − n_removed) into pipe2's per-shard manifest. "
        "This is the composition a pretraining data job actually "
        "ships: the manifest's token mass is what the dataloader "
        "will really read — exporting raw counts after excision "
        "under-fills every sequence the excised tokens used to pad. "
        "Scale: one funnel pass (pinned shared scans), one span index "
        "over the final keep set (n/A grid rows), one hash-partitioned "
        "window — nothing here is new work at scale, only the "
        "composition; every piece's cap/skew story is inherited and "
        "separately value-checked (test_cap_binding).",
    tags=("pipeline", "dedup", "text"),
)
def pipe5_clean_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import md5h60

    flags = doc_survival_flags(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    manifest = span_excision_of(docs, flags.filter("lang_ok").select("doc_id"))
    kept = manifest.select(
        "doc_id",
        (F.col("n_tokens") - F.col("n_removed")).cast("bigint").alias("n_tok"),
        md5h60(F.concat(F.lit("0:"), F.col("doc_id").cast("string"))).alias("skey"),
    )
    return _export_manifest(kept)


@query(
    "scd1_merge_upsert",
    oracle="""
        WITH updates AS (
            SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal
            FROM customer WHERE c_custkey % 7 = 0
        ),
        merged AS (
            SELECT c_custkey, c_name, c_acctbal FROM updates
            UNION ALL
            SELECT c.c_custkey, c.c_name, c.c_acctbal FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = c.c_custkey)
        )
        SELECT c_custkey, c_name, c_acctbal FROM merged
    """,
    doc="scd1 MERGE/upsert emulation (no Delta in this image): updates "
        "∪ (base ANTI-JOIN updates) — the CDC pattern from the public "
        "Spark playbook. The delta side is AQE-planned, not force-"
        "broadcast: a real CDC delta is usually small (AQE then "
        "broadcasts it), but the demo delta is a fixed FRACTION of the "
        "base, which must degrade to a shuffled anti-join — against a "
        "bucketed base (tests/test_bucketing.py) that join exchanges "
        "only the delta.",
    tags=("pipeline", "join"),
)
def scd1_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    updates = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", "c_name", (F.col("c_acctbal") + 100.0).alias("c_acctbal")
    )
    untouched = c.join(updates.select("c_custkey"), "c_custkey", "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    return updates.unionByName(untouched)


# ---------------------------------------------------------------- cdc1

@query(
    "cdc1_snapshot_diff",
    oracle="""
        WITH old AS (SELECT c_custkey, c_acctbal FROM customer),
        new AS (
            SELECT c_custkey,
                   CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                        ELSE c_acctbal END AS c_acctbal
            FROM customer WHERE c_custkey % 13 <> 0
            UNION ALL
            SELECT c_custkey + 10000000, c_acctbal
            FROM customer WHERE c_custkey % 31 = 0
        ),
        j AS (
            SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
                   o.c_acctbal AS old_acctbal, n.c_acctbal AS new_acctbal,
                   o.c_custkey IS NULL AS only_new,
                   n.c_custkey IS NULL AS only_old
            FROM old o FULL JOIN new n ON o.c_custkey = n.c_custkey
        )
        SELECT CASE WHEN only_new THEN 'I' WHEN only_old THEN 'D'
                    ELSE 'U' END AS change_type,
               c_custkey, old_acctbal, new_acctbal
        FROM j WHERE only_new OR only_old OR old_acctbal <> new_acctbal
    """,
    doc="cdc1 changelog GENERATION (scd1/scd2's producer): diff two "
        "table snapshots into an insert/update/delete change set via "
        "one FULL OUTER join on the key — rows only in the new "
        "snapshot are I, only in the old are D, value-changed are U, "
        "unchanged rows are dropped. The demo's new snapshot is a "
        "deterministic transform of customer (%13 deleted, %7 "
        "updated, %31 cloned-as-insert) so both engines build it "
        "identically. Scale: a key-partitioned full outer join is ONE "
        "co-partitioned shuffle per side — zero-exchange against "
        "bucketed snapshots (tests/test_bucketing.py) — and in "
        "production the compared columns narrow to (key, xxhash64 of "
        "tracked cols) first so wide rows never cross the wire; this "
        "is how you bootstrap CDC for a source that only dumps full "
        "snapshots.",
    tags=("pipeline", "join"),
)
def cdc1_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    key = F.col("c_custkey")
    old = c
    new = (
        c.filter(key % 13 != 0)
        .select(
            "c_custkey",
            F.when(key % 7 == 0, F.col("c_acctbal") + 100.0)
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
        )
        .unionByName(
            c.filter(key % 31 == 0).select(
                (key + 10_000_000).alias("c_custkey"), "c_acctbal"
            )
        )
    )
    # presence flags, not value-nullness — robust to nullable tracked cols
    j = (
        old.withColumn("in_old", F.lit(True))
        .alias("o")
        .join(new.withColumn("in_new", F.lit(True)).alias("n"), "c_custkey", "full_outer")
    )
    only_new = F.col("in_old").isNull()
    only_old = F.col("in_new").isNull()
    return (
        j.select(
            F.when(only_new, "I").when(only_old, "D").otherwise("U").alias("change_type"),
            "c_custkey",
            F.col("o.c_acctbal").alias("old_acctbal"),
            F.col("n.c_acctbal").alias("new_acctbal"),
        )
        .filter(
            F.col("change_type").isin("I", "D")
            | (F.col("old_acctbal") != F.col("new_acctbal"))
        )
    )


# ---------------------------------------------------------------- pii1

# Deterministic fake-PII injection: the synthetic corpus carries no
# emails/phones/IPs, so the demo query plants them (same expression in
# both engines) before scrubbing — the redaction regexes and counters
# are the real operator; production calls pii_redact on raw text.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_redact(d: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub emails / US-style phone numbers / IPv4 literals from
    ``text_col``, emitting the clean text plus per-category match
    counts. Pure JVM regexp expressions over one scan — per-row,
    shuffle-free, the shape of every at-scale scrubbing pass."""
    c = F.col(text_col)
    n_email = F.size(F.regexp_extract_all(c, F.lit(_EMAIL_RE), F.lit(0)))
    # phones are counted AFTER email removal (an email's digits can't
    # double-count) — order fixed so both engines agree
    no_email = F.regexp_replace(c, _EMAIL_RE, "<EMAIL>")
    n_phone = F.size(F.regexp_extract_all(no_email, F.lit(_PHONE_RE), F.lit(0)))
    no_phone = F.regexp_replace(no_email, _PHONE_RE, "<PHONE>")
    n_ip = F.size(F.regexp_extract_all(no_phone, F.lit(_IPV4_RE), F.lit(0)))
    clean = F.regexp_replace(no_phone, _IPV4_RE, "<IP>")
    return d.withColumn("n_email", n_email.cast("bigint")).withColumn(
        "n_phone", n_phone.cast("bigint")
    ).withColumn("n_ip", n_ip.cast("bigint")).withColumn("clean_text", clean)


@query(
    "pii1_redact_stats",
    oracle=f"""
        WITH planted AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 5 = 0
                           THEN ' user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
                   || CASE WHEN doc_id % 7 = 0
                           THEN ' 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199' ELSE '' END
                   || CASE WHEN doc_id % 11 = 0
                           THEN ' 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' ELSE '' END
                   AS text
            FROM documents
        ),
        scrub AS (
            SELECT doc_id,
                   len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_email,
                   regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g') AS t1
            FROM planted
        ),
        scrub2 AS (
            SELECT doc_id, n_email,
                   len(regexp_extract_all(t1, '{_PHONE_RE}')) AS n_phone,
                   regexp_replace(t1, '{_PHONE_RE}', '<PHONE>', 'g') AS t2
            FROM scrub
        ),
        scrub3 AS (
            SELECT doc_id, n_email, n_phone,
                   len(regexp_extract_all(t2, '{_IPV4_RE}')) AS n_ip,
                   regexp_replace(t2, '{_IPV4_RE}', '<IP>', 'g') AS clean_text
            FROM scrub2
        )
        SELECT doc_id, CAST(n_email AS BIGINT) AS n_email,
               CAST(n_phone AS BIGINT) AS n_phone,
               CAST(n_ip AS BIGINT) AS n_ip,
               CAST(n_email + n_phone + n_ip AS BIGINT) AS n_pii,
               md5(clean_text) AS clean_md5
        FROM scrub3
        WHERE n_email + n_phone + n_ip > 0
    """,
    doc="pii1 PII scrubbing: regex redaction of emails / phone numbers "
        "/ IPv4 literals with per-category counts — the mandatory "
        "compliance pass of a training-data pipeline. One scan, pure "
        "codegen regexp expressions, no shuffle, no UDF; emits the "
        "scrubbed text hash so the oracle pins the actual redaction "
        "output, not just the counts. Demo input plants deterministic "
        "fake PII (the synthetic corpus has none); production calls "
        "operators.pipeline.pii_redact on raw text.",
    tags=("text", "pipeline"),
)
def pii1_redact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.lit(" user"), F.col("doc_id").cast("string"), F.lit("@example.com"))
                   ).otherwise(""),
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" 555-"), F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"), F.lit("-0199"))
                   ).otherwise(""),
            F.when(F.col("doc_id") % 11 == 0,
                   F.concat(F.lit(" 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".1"))
                   ).otherwise(""),
        ).alias("text"),
    )
    out = pii_redact(planted)
    return out.select(
        "doc_id", "n_email", "n_phone", "n_ip",
        (F.col("n_email") + F.col("n_phone") + F.col("n_ip")).cast("bigint").alias("n_pii"),
        F.md5("clean_text").alias("clean_md5"),
    ).filter(F.col("n_pii") > 0)


# ---------------------------------------------------------------- pack1



@query(
    "pack1_sequence_pack",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ),
        run AS (
            SELECT doc_id, lang, n_tokens,
                   COALESCE(sum(n_tokens) OVER (
                       PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
            FROM t
        )
        SELECT lang,
               CAST(prefix // {PACK_BUDGET} AS BIGINT) AS pack_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(min(doc_id) AS BIGINT) AS first_doc
        FROM run
        GROUP BY lang, prefix // {PACK_BUDGET}
    """,
    doc=f"pack1 training-sequence packing: stream documents (per "
        f"language, doc_id order) into ~{PACK_BUDGET}-token packs via "
        "an exclusive running token count — the deterministic, "
        "relational form of the greedy sequence-packing step that "
        "turns a curated corpus into fixed-budget training rows. The "
        "window is PARTITIONED BY lang (parallel across languages, "
        "never a global sort); at 100 TB the partition key becomes "
        "(lang, shard) for bounded per-partition order — same "
        "expressions, one more key column.",
    tags=("text", "pipeline"),
)
def pack1_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "lang", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = t.withColumn("prefix", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    return (
        run.groupBy("lang", F.floor(F.col("prefix") / PACK_BUDGET).cast("bigint").alias("pack_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


# ---------------------------------------------------------------- prof1

_PROF_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@query(
    "prof1_column_profile",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}' AS col_name,
               CAST(count({c}) AS BIGINT) AS n_nonnull,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               round(min({c})::DOUBLE, 6) AS min_val,
               round(max({c})::DOUBLE, 6) AS max_val,
               round(avg({c}::DOUBLE), 6) AS mean_val
        FROM lineitem"""
        for c in _PROF_COLS
    ),
    doc="prof1 data-quality column profiling (the `describe`/audit "
        "step a curation pipeline runs before training): per numeric "
        "column the non-null count, exact distinct count, min/max and "
        "mean, long-format one row per column. ONE scan: all per-"
        "column aggregates are computed in a single agg pass (count/"
        "min/max/avg partial map-side; the exact countDistinct "
        "columns expand internally). At 100 TB swap the exact "
        "distinct for approx_count_distinct (a10's pattern) — exact "
        "is kept here because the oracle checks values.",
    tags=("pipeline", "agg"),
)
def prof1_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROF_COLS:
        col = F.col(c)
        aggs += [
            F.count(col).cast("bigint").alias(f"{c}__n"),
            F.countDistinct(col).cast("bigint").alias(f"{c}__d"),
            F.round(F.min(col).cast("double"), 6).alias(f"{c}__mn"),
            F.round(F.max(col).cast("double"), 6).alias(f"{c}__mx"),
            F.round(F.avg(col.cast("double")), 6).alias(f"{c}__av"),
        ]
    one = li.agg(*aggs)
    stacked = one.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("col_name"),
                    F.col(f"{c}__n").alias("n_nonnull"),
                    F.col(f"{c}__d").alias("n_distinct"),
                    F.col(f"{c}__mn").alias("min_val"),
                    F.col(f"{c}__mx").alias("max_val"),
                    F.col(f"{c}__av").alias("mean_val"),
                )
                for c in _PROF_COLS
            ])
        ).alias("s")
    )
    return stacked.select("s.*")


# ---------------------------------------------------------------- cdc2

@query(
    "cdc2_changelog_apply",
    oracle="""
        WITH log AS (
            SELECT o_orderkey AS key,
                   epoch_us(o_orderdate) * 10 + (o_orderkey % 10) AS seq,
                   CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
                   o_totalprice AS val
            FROM orders
        ),
        latest AS (
            SELECT key, op, val,
                   row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
            FROM log
        )
        SELECT key, round(val, 2) AS val
        FROM latest WHERE rn = 1 AND op = 'U'
    """,
    doc="cdc2 changelog apply with DELETES — the retraction-aware "
        "sibling of ivm1 (which merges additive deltas) and scd1 "
        "(which upserts without tombstones): a (key, seq, op, val) "
        "change log collapses to final state by latest-wins — "
        "row_number over a per-key sequence-descending window, keep "
        "rn=1, drop keys whose last op is a tombstone. The seq is "
        "made total per key (timestamp*10 + key mod 10) because "
        "latest-wins under a tied sequence is UNDEFINED — real CDC "
        "streams must carry a total order (LSN) or the apply is "
        "non-deterministic. Per-key window (fully parallel); at "
        "100 TB apply incrementally per micro-batch against a "
        "bucketed state table (st10's pattern) instead of "
        "re-collapsing history.",
    tags=("pipeline", "window"),
)
def cdc2_changelog_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    log = o.select(
        F.col("o_orderkey").alias("key"),
        (F.unix_micros(F.col("o_orderdate")) * 10 + F.col("o_orderkey") % 10).alias("seq"),
        F.when(F.col("o_orderkey") % 10 == 0, "D").otherwise("U").alias("op"),
        F.col("o_totalprice").alias("val"),
    )
    w = Window.partitionBy("key").orderBy(F.desc("seq"))
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") == "U"))
        .select("key", F.round("val", 2).alias("val"))
    )


# --------------------------------------------------------------- pack2

PACK_SHARD_CAP = 100_000  # max docs per sequential packing task


def _bfd_pack(sizes):
    """Best-fit-decreasing over a descending size array: place each item
    in the open bin with the SMALLEST headroom that still fits (bisect
    on a sorted headroom list — O(n log bins) comparisons vs the naive
    first-fit linear scan's O(n·bins)). Returns (n_docs, fill) arrays
    per bin. BFD shares FFD's 11/9·OPT + O(1) guarantee and the
    first-fit property that at most ONE bin ends at most half full
    (two such bins would have been merged)."""
    import bisect

    import numpy as np

    rooms: list[tuple[int, int]] = []  # sorted (headroom, bin_id)
    n_docs: list[int] = []
    fill: list[int] = []
    for s in sizes:
        i = bisect.bisect_left(rooms, (s, -1))
        if i < len(rooms):
            room, b = rooms.pop(i)
            bisect.insort(rooms, (room - s, b))
            n_docs[b] += 1
            fill[b] += s
        else:
            bisect.insort(rooms, (PACK_BUDGET - s, len(n_docs)))
            n_docs.append(1)
            fill.append(s)
    return np.asarray(n_docs, dtype=np.int64), np.asarray(fill, dtype=np.int64)


@query(
    "pack2_ffd_packing",
    oracle=None,  # sequential bin packing inside applyInPandas — rows + tests
    doc="pack2 best-fit-decreasing sequence packing, SHARDED — pack1's "
        "streaming prefix-sum packer is one-pass but SPLITS documents; "
        "pack2 keeps documents ATOMIC and minimizes the bin-packing "
        "waste with the classic decreasing heuristic (≤ 11/9·OPT + "
        "O(1)). Scale shape (the r5-verdict fix): packing is "
        "inherently sequential, but the DOMAIN is sharded — docs hash "
        "into bounded (lang, shard) groups of ≤ PACK_SHARD_CAP docs "
        "(shard count per language derived from a tiny broadcast count "
        "relation), so no task ever sees a whole language (~half the "
        "corpus at 100 TB). Within a shard, best-fit via bisect on a "
        "sorted headroom list replaces the O(n·bins) first-fit scan. "
        "For docs ≪ budget, per-shard BFD loses almost no fill vs "
        "global FFD; the residual cost is at most ONE ≤-half-full bin "
        "per shard (first-fit property), and a second per-language "
        "pass — whose group is bounded by the shard count, not the "
        "corpus — re-packs exactly those tail bins as atomic items. "
        "Documents longer than the budget are truncated to one full "
        "bin (the training convention). Invariant-tested: no pack "
        "over budget, every doc placed once, per-language pack count "
        "within the FFD guarantee of the ceil(total/budget) lower "
        "bound, and the sharded form agrees with single-shard fill "
        "quality.",
    tags=("pipeline", "text"),
)
def pack2_ffd_packing(
    spark: SparkSession, sf_dir: str, shard_cap: int = PACK_SHARD_CAP
) -> DataFrame:
    import numpy as np
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        "doc_id",
        F.least(F.lit(PACK_BUDGET), F.size(F.split("text", " "))).alias("n_tok"),
    )
    # tiny per-language shard-count relation (|langs| rows), broadcast
    shards = toks.groupBy("lang").agg(
        F.ceil(F.count("*") / F.lit(shard_cap)).cast("int").alias("n_shards")
    )
    sharded = toks.join(F.broadcast(shards), "lang").withColumn(
        "shard", F.pmod(F.xxhash64("doc_id"), F.col("n_shards")).cast("int")
    )

    def pack_shard(key, pdf):
        order = np.lexsort((pdf["doc_id"].to_numpy(), -pdf["n_tok"].to_numpy()))
        n_docs, fill = _bfd_pack(pdf["n_tok"].to_numpy()[order])
        return pd.DataFrame({"lang": key[0], "n_docs": n_docs, "fill": fill})

    packed = sharded.groupBy("lang", "shard").applyInPandas(
        pack_shard, schema="lang string, n_docs bigint, fill bigint"
    )

    # tail-merge pass: each shard leaves at most one bin ≤ half full
    # (first-fit property), so the per-language group here is bounded
    # by the shard count — re-pack those bins as atomic items.
    under = packed.filter(F.col("fill") * 2 <= PACK_BUDGET)
    kept = packed.filter(F.col("fill") * 2 > PACK_BUDGET)

    def merge_tail(key, pdf):
        order = np.lexsort((pdf["n_docs"].to_numpy(), -pdf["fill"].to_numpy()))
        fills = pdf["fill"].to_numpy()[order]
        docs = pdf["n_docs"].to_numpy()[order]
        import bisect

        rooms: list[tuple[int, int]] = []
        m_docs: list[int] = []
        m_fill: list[int] = []
        for f_i, d_i in zip(fills, docs):
            i = bisect.bisect_left(rooms, (int(f_i), -1))
            if i < len(rooms):
                room, b = rooms.pop(i)
                bisect.insort(rooms, (room - int(f_i), b))
                m_docs[b] += int(d_i)
                m_fill[b] += int(f_i)
            else:
                bisect.insort(rooms, (PACK_BUDGET - int(f_i), len(m_docs)))
                m_docs.append(int(d_i))
                m_fill.append(int(f_i))
        return pd.DataFrame({"lang": key[0], "n_docs": m_docs, "fill": m_fill})

    merged = under.groupBy("lang").applyInPandas(
        merge_tail, schema="lang string, n_docs bigint, fill bigint"
    )
    out = kept.unionByName(merged)
    w = Window.partitionBy("lang").orderBy(F.desc("fill"), F.desc("n_docs"))
    return out.select(
        "lang",
        (F.row_number().over(w) - 1).cast("bigint").alias("pack_id"),
        "n_docs",
        "fill",
    )


# ---------------------------------------------------------------- rpt1

@query(
    "rpt1_corpus_report",
    oracle="""
        WITH d AS (
            SELECT doc_id, lang,
                   string_split(text, ' ') AS toks,
                   md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
            FROM documents
        ),
        base AS (
            SELECT count(*) AS n_docs,
                   count(DISTINCT fp) AS n_distinct,
                   avg(len(toks)) AS mean_tokens
            FROM d
        ),
        lf AS (SELECT lang, count(*) AS c FROM d GROUP BY lang),
        ent AS (
            SELECT -sum((c::DOUBLE / t.n) * ln(c::DOUBLE / t.n)) AS h
            FROM lf, (SELECT sum(c) AS n FROM lf) t
        )
        SELECT CAST(base.n_docs AS BIGINT) AS n_docs,
               CAST(base.n_distinct AS BIGINT) AS n_distinct_contents,
               round(1.0 - base.n_distinct / CAST(base.n_docs AS DOUBLE), 6)
                   AS dup_rate,
               round(base.mean_tokens, 6) AS mean_tokens,
               round(ent.h, 6) AS lang_entropy
        FROM base, ent
    """,
    doc="rpt1 corpus report card — the one-row dashboard a data team "
        "reads before anything else: size, distinct-content count and "
        "the implied exact-dup rate (dd1's fingerprint), mean "
        "document length, and language-distribution entropy (mixture "
        "balance; 0 = monolingual). One scan + one tiny language "
        "rollup; every number is the headline of a deeper registered "
        "query (dd1, t1, mw1, zipf1) — this is the index page. "
        "O(1) output at any corpus size.",
    tags=("pipeline", "agg", "text"),
)
def rpt1_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import normalized_fingerprint

    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        F.size(F.split("text", " ")).alias("n_tok"),
        normalized_fingerprint(F.col("text")).alias("fp"),
    )
    base = d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").alias("n_distinct"),
        F.avg("n_tok").alias("mean_tokens"),
    )
    lf = d.groupBy("lang").agg(F.count("*").alias("c"))
    tot = lf.agg(F.sum("c").alias("n"))
    ent = (
        lf.crossJoin(F.broadcast(tot))
        .agg((-F.sum((F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("n")))).alias("h"))
    )
    return base.crossJoin(F.broadcast(ent)).select(
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_distinct").cast("bigint").alias("n_distinct_contents"),
        F.round(F.lit(1.0) - F.col("n_distinct") / F.col("n_docs").cast("double"), 6).alias("dup_rate"),
        F.round("mean_tokens", 6).alias("mean_tokens"),
        F.round("h", 6).alias("lang_entropy"),
    )


# ---------------------------------------------------------------- shuf1

SHUF_EPOCHS = 2  # training epochs in the shuffled schedule


@query(
    "shuf1_epoch_shuffle",
    oracle=f"""
        WITH e AS (SELECT unnest(range({SHUF_EPOCHS})) AS epoch),
        keyed AS (
            SELECT e.epoch, d.doc_id,
                   (('0x' || substring(md5(CAST(e.epoch AS VARCHAR) || ':' ||
                        CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT) AS skey
            FROM documents d CROSS JOIN e
        )
        SELECT CAST(epoch AS BIGINT) AS epoch,
               CAST(doc_id AS BIGINT) AS doc_id,
               row_number() OVER (ORDER BY epoch, skey, doc_id) AS global_pos
        FROM keyed
    """,
    doc="shuf1 seeded epoch shuffle: the reproducible training-order "
        "shuffle every pretraining run needs — each epoch permutes the "
        "corpus by a portable content hash of (epoch, doc_id), and the "
        "concatenated epoch streams get a single global position (the "
        "sample index a dataloader resumes from after preemption). "
        "Determinism is the whole point: re-running the query, on any "
        "cluster size or partitioning, reproduces the identical order "
        "bit-for-bit (engine rand()/shuffle are partitioning-dependent; "
        "md5 is not). Scale: the position comes from global_rank's "
        "two-pass range-partition + offset pattern — never a "
        "single-partition window — and hash keys are uniform by "
        "construction, so the range partitions are balanced with no "
        "skew handling needed. At 100 TB this is one balanced sort "
        "shuffle, the floor for any global permutation.",
    tags=("text", "pipeline"),
)
def shuf1_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import md5h60
    from .relational import global_rank

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(SHUF_EPOCHS).select(F.col("id").cast("bigint").alias("epoch"))
    keyed = d.crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "doc_id",
        md5h60(
            F.concat(F.col("epoch").cast("string"), F.lit(":"), F.col("doc_id").cast("string"))
        ).alias("skey"),
    )
    return global_rank(keyed, "epoch", "skey", "doc_id", out="global_pos").select(
        F.col("epoch").cast("bigint").alias("epoch"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "global_pos",
    )


# ---------------------------------------------------------------- bkt1

BKT_WIDTH = 32  # pad-to boundary granularity (tokens)


@query(
    "bkt1_length_buckets",
    oracle=f"""
        WITH t AS (
            SELECT lang, len(string_split(text, ' ')) AS n_tok FROM documents
        ),
        b AS (
            SELECT lang,
                   CAST(ceil(greatest(n_tok, 1) / {BKT_WIDTH}.0) * {BKT_WIDTH} AS BIGINT) AS pad_to,
                   n_tok
            FROM t
        )
        SELECT lang, pad_to,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               CAST(count(*) * pad_to - sum(n_tok) AS BIGINT) AS pad_waste,
               round(1.0 - sum(n_tok) / CAST(count(*) * pad_to AS DOUBLE), 6) AS waste_frac
        FROM b
        GROUP BY lang, pad_to
    """,
    doc="bkt1 sequence-length bucketing: group documents into "
        f"padded-length buckets (pad each sequence up to the next "
        f"multiple of {BKT_WIDTH} tokens) and report per-(lang, bucket) "
        "doc counts, real token mass, and padding waste — the batching "
        "diagnostic behind bucketed dataloaders (pad-to-bucket beats "
        "pad-to-global-max by exactly the waste this table shows, and "
        "the bucket histogram sizes the buckets). Complements pack1/"
        "pack2: packing concatenates, bucketing pads; real pipelines "
        "pick per corpus. Pure map + one groupBy on a low-cardinality "
        "key — scan-speed at 100 TB, no skew (bucket count is tiny and "
        "the agg is partial-aggregated map-side).",
    tags=("text", "pipeline"),
)
def bkt1_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    b = d.select(
        "lang",
        (F.ceil(F.greatest(n_tok, F.lit(1)) / F.lit(float(BKT_WIDTH))) * BKT_WIDTH)
        .cast("bigint")
        .alias("pad_to"),
        n_tok.alias("n_tok"),
    )
    return b.groupBy("lang", "pad_to").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        (F.count("*") * F.col("pad_to") - F.sum("n_tok")).cast("bigint").alias("pad_waste"),
        F.round(
            F.lit(1.0) - F.sum("n_tok") / (F.count("*") * F.col("pad_to")).cast("double"), 6
        ).alias("waste_frac"),
    )
