"""Text-analysis operators for LLM-data pipelines (BASELINE.json
north-star extensions; not in the reference, which is numeric-only).

All pure DataFrame/SQL — tokenization and n-gram statistics are array
expressions (JVM-side, codegen), no Python UDFs in the hot path. Each
operator is oracle-checked against DuckDB.

Scale: every operator is a per-row expression or a token-level
explode→agg; no driver materialization, partition-parallel at any size.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions import md5i, md5i_sql, phash_sql
from ..caching import barrier, pin
from ..registry import query
from ..session import local_frame
from ..sources import load_table, parquet_row_count, spread_scan

STOPWORDS = ("a", "the")
_STOP_SQL = "('a', 'the')"

# Canonical DuckDB twin of the t2 quality heuristic over a `toks`
# list column (length-capped × non-stopword × type/token diversity).
# Import THIS instead of re-typing the expression — iso1's PAV
# calibration, dedup's curriculum oracle, the funnel oracles and the
# cur1 sampler all score with it, and bit-exactness of those oracles
# depends on every copy matching the Spark-side expression (r15
# review: one definition, no drift). t2's own oracle (below) keeps
# its component-column form for its output schema — keep in sync.
QUALITY_OF_TOKS_SQL = (
    "least(1.0, len(toks) / 50.0)"
    f" * (1.0 - len(list_filter(toks, x -> x IN {_STOP_SQL}))::DOUBLE / len(toks))"
    " * (len(list_distinct(toks))::DOUBLE / len(toks))"
)


def tokens(col: Column) -> Column:
    return F.split(col, " ")


# ---------------------------------------------------------------- T1

@query(
    "t1_token_stats",
    oracle="""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
               round(list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks), 6) AS avg_tok_len
        FROM d
    """,
    doc="T1 token counting (whitespace tokenizer): total/unique tokens "
        "and mean token length per document.",
    tags=("text",),
)
def t1_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    total_len = F.aggregate(
        F.transform(toks, lambda x: F.length(x)), F.lit(0), lambda acc, x: acc + x
    )
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_uniq"),
        F.round(total_len.cast("double") / F.size(toks), 6).alias("avg_tok_len"),
    )


# ---------------------------------------------------------------- T2

@query(
    "t2_quality_score",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents
        ), s AS (
            SELECT doc_id, n_chars,
                   len(toks) AS n_tokens,
                   len(list_filter(toks, x -> x IN {_STOP_SQL}))::DOUBLE / len(toks) AS stop_ratio,
                   len(list_distinct(toks))::DOUBLE / len(toks) AS uniq_ratio
            FROM d
        )
        SELECT doc_id,
               round(stop_ratio, 6) AS stop_ratio,
               round(uniq_ratio, 6) AS uniq_ratio,
               round(least(1.0, n_tokens / 50.0) * (1.0 - stop_ratio) * uniq_ratio, 6) AS quality
        FROM s
    """,
    doc="T2 quality scoring: stopword ratio, lexical diversity "
        "(type/token ratio) and a composite [0,1] quality heuristic — "
        "the standard pre-training corpus filter shape (length × "
        "non-boilerplate × diversity).",
    tags=("text",),
)
def t2_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("double") / n
    )
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    quality = F.least(F.lit(1.0), n / F.lit(50.0)) * (F.lit(1.0) - stop_ratio) * uniq_ratio
    return d.select(
        "doc_id",
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(uniq_ratio, 6).alias("uniq_ratio"),
        F.round(quality, 6).alias("quality"),
    )


# ---------------------------------------------------------------- T3

@query(
    "t3_lang_id_naive_bayes",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
        counts AS (
            SELECT d.lang, t.tok, sum(t.tf) AS n_lt
            FROM tf t JOIN documents d USING (doc_id)
            GROUP BY d.lang, t.tok
        ),
        lang_tot AS (SELECT lang, sum(n_lt) AS n_l FROM counts GROUP BY lang),
        vocab AS (SELECT count(DISTINCT tok) AS v FROM tf),
        nd AS (SELECT doc_id, sum(tf) AS n_doc FROM tf GROUP BY doc_id),
        matched AS (
            SELECT t.doc_id, c.lang, sum(t.tf * ln(c.n_lt + 1.0)) AS s1
            FROM tf t JOIN counts c USING (tok)
            GROUP BY t.doc_id, c.lang
        ),
        scores AS (
            SELECT n.doc_id, l.lang,
                   round(coalesce(m.s1, 0.0)
                         - n.n_doc * ln(l.n_l + vocab.v), 6) AS score
            FROM nd n CROSS JOIN lang_tot l CROSS JOIN vocab
            LEFT JOIN matched m ON m.doc_id = n.doc_id AND m.lang = l.lang
        ),
        ranked AS (
            SELECT doc_id, lang, score,
                   row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
            FROM scores
        )
        SELECT doc_id, lang AS pred_lang FROM ranked WHERE rn = 1
    """,
    doc="T3 language-ID: corpus-trained token naive-Bayes (unigram "
        "log-likelihood with Laplace smoothing, argmax over languages). "
        "Fully relational — explode, count join, window argmax; the "
        "'n-gram heuristic' langid pattern at any corpus size.",
    tags=("text",),
)
def t3_lang_id_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # ONE pass over the token stream → per-(doc, tok) term frequencies;
    # every downstream branch derives from tf. The Laplace-smoothed
    # score is FACTORED so no dense |vocab|×|langs| model relation is
    # ever materialized (at corpus scale that dense model is billions
    # of rows, almost all of them the smoothing constant):
    #   score(d, l) = Σ_tok tf·ln(n_lt + 1) − N_d·ln(n_l + V)
    # The first term only needs (tok, lang) pairs that actually occur
    # (inner join tf⋈counts); the second is a per-doc total × a
    # broadcast lang constant. Identical argmax to the textbook form;
    # the oracle mirrors the same factoring so the 6dp-rounded scores
    # match bit-for-bit.
    tf = pin(
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    counts = pin(
        tf.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "tok")
        .agg(F.sum("tf").alias("n_lt"))
    )
    lang_tot = counts.groupBy("lang").agg(F.sum("n_lt").alias("n_l"))
    # r16 (guide §2.3/§2.4): V = |distinct tok| read off the already-
    # aggregated counts relation (counts partitions every tf token by
    # (lang, tok), so its distinct toks are exactly tf's) instead of a
    # second countDistinct pass over the corpus-sized tf — the distinct
    # now scans |langs|·|V| model rows, not the token stream.
    vocab = counts.agg(F.countDistinct("tok").alias("v"))
    # r16 (guide §2.4 — remove shuffles outright): N_d is the document
    # token count, a per-row expression on the scan (split always
    # yields ≥1 element, and explode drops NULL-text rows — filter
    # matches that), replacing a full groupBy-doc_id aggregation over
    # tf. Long cast mirrors sum(tf)'s type.
    nd = d.filter(F.col("text").isNotNull()).select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_doc")
    )
    matched = (
        tf.join(counts, "tok")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("tf") * F.log(F.col("n_lt") + 1.0)).alias("s1"))
    )
    scores = (
        nd.crossJoin(F.broadcast(lang_tot))
        .crossJoin(F.broadcast(vocab))
        .join(matched, ["doc_id", "lang"], "left")
        .select(
            "doc_id",
            "lang",
            F.round(
                F.coalesce(F.col("s1"), F.lit(0.0))
                - F.col("n_doc") * F.log(F.col("n_l") + F.col("v")),
                6,
            ).alias("score"),
        )
    )
    # r16 (guide §2.3 — aggregate before you shuffle): argmax as a
    # hash aggregate with map-side partial aggregation instead of the
    # row_number window (shuffle + per-partition SORT of every
    # (doc, lang) score row). min of the (−score, lang) struct is
    # lexicographic: highest score first, ties by ascending lang —
    # exactly the window's (score DESC, lang ASC) first row. Scores
    # are 6dp-rounded doubles, so the comparison is deterministic.
    best = scores.groupBy("doc_id").agg(
        F.min(F.struct((-F.col("score")).alias("ns"), F.col("lang").alias("lang"))).alias("b")
    )
    return best.select("doc_id", F.col("b.lang").alias("pred_lang"))


# ---------------------------------------------------------------- T4

@query(
    "t4_fingerprint",
    oracle="""
        SELECT doc_id,
               md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
        FROM documents
    """,
    doc="T4 document fingerprint: md5 of whitespace-normalized, "
        "lowercased text — the exact-dedup key.",
    tags=("text", "dedup"),
)
def t4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return d.select("doc_id", F.md5(norm).alias("fingerprint"))


def normalized_fingerprint(col: Column) -> Column:
    return F.md5(F.lower(F.regexp_replace(F.trim(col), r"\s+", " ")))


@query(
    "t1b_token_count_regex",
    oracle=r"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT) AS n_uniq
        FROM documents
    """,
    doc="T1b BPE-ish regex tokenization: alpha runs / digit runs / "
        "single non-alphanumeric — the pre-tokenizer split shape GPT-2 "
        "style BPE applies before merges; regexp_extract_all is "
        "JVM-side, identical pattern semantics in DuckDB.",
    tags=("text",),
)
def t1b_token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pat = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
    toks = F.regexp_extract_all(F.col("text"), F.lit(pat), 0)
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_uniq"),
    )


# ---------------------------------------------------------------- tq1

REP_TAU = 0.12  # top-token frequency ratio above which a doc is repetitive


@query(
    "tq1_repetition_stats",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        cnt AS (
            SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok
        ),
        top AS (
            SELECT doc_id, tok, c,
                   sum(c) OVER (PARTITION BY doc_id) AS n_tokens,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY c DESC, tok DESC) AS rn
            FROM cnt
        )
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               tok AS top_tok, CAST(c AS BIGINT) AS top_count,
               round(c::DOUBLE / n_tokens, 6) AS top_ratio,
               c::DOUBLE / n_tokens > {REP_TAU} AS repetitive
        FROM top WHERE rn = 1
    """,
    doc="tq1 repetition statistics (Gopher-rule family): per document, "
        "the most frequent token and its frequency share; documents "
        f"whose top token exceeds {REP_TAU} of all tokens are flagged "
        "repetitive — the boilerplate/spam signal used alongside t2's "
        "quality score in curation funnels. Shape: token explode → "
        "two-level count → per-doc argmax (max-over-struct, no second "
        "shuffle since the window reuses the doc_id partitioning).",
    tags=("text",),
)
def tq1_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    # single groupBy: total tokens + argmax(count, token) over a struct
    best = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.max(F.struct(F.col("c"), F.col("tok"))).alias("top"),
    )
    ratio = F.col("top.c").cast("double") / F.col("n_tokens")
    return best.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("top.tok").alias("top_tok"),
        F.col("top.c").cast("bigint").alias("top_count"),
        F.round(ratio, 6).alias("top_ratio"),
        (ratio > REP_TAU).alias("repetitive"),
    )


# ---------------------------------------------------------------- mw1

MIX_TEMP = 2.0  # temperature: sampling share ∝ count^(1/T)


@query(
    "mw1_mix_weights",
    oracle=f"""
        WITH n AS (
            SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
        ),
        z AS (SELECT sum(pow(n_docs, 1.0 / {MIX_TEMP})) AS z, sum(n_docs) AS total FROM n)
        SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
               round(pow(n_docs, 1.0 / {MIX_TEMP}) / z.z, 6) AS share,
               round(least(1.0, (pow(n_docs, 1.0 / {MIX_TEMP}) / z.z) * z.total / n_docs), 6)
                 AS sample_rate
        FROM n, z
    """,
    doc="mw1 data-mixing weights: temperature-resampled language "
        f"shares (share ∝ n^(1/T), T={MIX_TEMP}) and the per-language "
        "sampling rate that realizes them — the multilingual/"
        "multi-source rebalancing step of a pre-training data recipe "
        "(upsamples tail languages, downsamples the head). The "
        "per-group counts are a one-shuffle aggregate; the normalizer "
        "is a 1-row broadcast — no driver round-trip.",
    tags=("text", "pipeline"),
)
def mw1_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    w = F.pow(F.col("n_docs"), 1.0 / MIX_TEMP)
    z = n.agg(F.sum(w).alias("z"), F.sum("n_docs").alias("total"))
    share = w / F.col("z")
    return n.crossJoin(F.broadcast(z)).select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.round(share, 6).alias("share"),
        F.round(F.least(F.lit(1.0), share * F.col("total") / F.col("n_docs")), 6).alias("sample_rate"),
    )


# ---------------------------------------------------------------- mw4

DOREMI_LAM = 4.0  # excess-loss multiplier (DoReMi's eta * steps)


@query(
    "mw4_doremi_mixture",
    oracle=f"""
        WITH m0 AS (
            SELECT lang, string_split(text, ' ') AS toks FROM documents
        ),
        pl AS (
            SELECT lang,
                   CAST(round(-ln(len(list_distinct(toks))::DOUBLE
                                  / len(toks)) * 1000000) AS BIGINT) AS loss_q
            FROM m0
        ),
        d AS (
            SELECT lang, count(*) AS n_docs, sum(loss_q) AS sq
            FROM pl GROUP BY lang
        ),
        t AS (SELECT sum(n_docs) AS n, sum(sq) AS tq FROM d),
        e AS (
            SELECT lang, n_docs,
                   sq / (n_docs * 1e6) AS mean_loss,
                   greatest(0.0, sq / (n_docs * 1e6) - tq / (n * 1e6)) AS excess,
                   n_docs::DOUBLE / n AS share
            FROM d, t
        ),
        z AS (SELECT sum(share * exp({DOREMI_LAM} * excess)) AS z FROM e)
        SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
               round(mean_loss, 6) AS mean_loss,
               round(excess, 6) AS excess,
               round(share * exp({DOREMI_LAM} * excess) / z.z, 6) AS weight
        FROM e, z
    """,
    doc="mw4 DoReMi-shaped domain-mixture reweighting: per-language "
        "proxy loss (repetition surprisal -ln(type/token ratio) — the "
        "static stand-in for the proxy-model log-loss DoReMi trains; "
        "Xie et al. 2023, arXiv:2305.10429), excess loss over the "
        "corpus-wide reference mean clipped at 0 (DoReMi's "
        "max(0, l_d - l_ref)), and the exponentiated-gradient mixture "
        "weight w_d proportional to share_d * exp(lam * excess_d), "
        f"lam={DOREMI_LAM}. Honest scope note: with a STATIC proxy "
        "loss the per-round EG normalizer is a scalar common to all "
        "domains and cancels, so T rounds collapse to this one "
        "closed-form softmax pass — the iterative machinery only "
        "matters when the proxy loss is re-estimated per round (that "
        "loop is log1/cls2's IRLS territory). Parity/scale: per-doc "
        "losses are quantized to integer micro-units before the "
        "domain sum (order-free exact aggregation, the ts4 "
        "fixed-point pattern), domain stats are one map-side-combined "
        "groupBy, and the normalizer is a |domains|-row broadcast — "
        "mixture weights for a 100 TB corpus cost one scan.",
    tags=("text", "pipeline"),
)
def mw4_doremi_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    loss = -F.log(
        F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    )
    pl = d.select(
        "lang",
        F.round(loss * 1000000).cast("bigint").alias("loss_q"),
    )
    dom = pl.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("loss_q").alias("sq")
    )
    tot = dom.agg(F.sum("n_docs").alias("n"), F.sum("sq").alias("tq"))
    mean_loss = F.col("sq") / (F.col("n_docs") * F.lit(1e6))
    excess = F.greatest(
        F.lit(0.0), mean_loss - F.col("tq") / (F.col("n") * F.lit(1e6))
    )
    share = F.col("n_docs").cast("double") / F.col("n")
    e = dom.join(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        mean_loss.alias("mean_loss"),
        excess.alias("excess"),
        share.alias("share"),
    )
    z = e.agg(
        F.sum(F.col("share") * F.exp(DOREMI_LAM * F.col("excess"))).alias("z")
    )
    return e.join(F.broadcast(z)).select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.round("mean_loss", 6).alias("mean_loss"),
        F.round("excess", 6).alias("excess"),
        F.round(
            F.col("share") * F.exp(DOREMI_LAM * F.col("excess")) / F.col("z"), 6
        ).alias("weight"),
    )


# ---------------------------------------------------------------- t5

VOCAB_K = 40  # induced vocabulary size


@query(
    "t5_vocab_oov",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        cnt AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
        vocab AS (
            SELECT tok FROM (
                SELECT tok, row_number() OVER (ORDER BY n DESC, tok) AS rn FROM cnt
            ) WHERE rn <= {VOCAB_K}
        )
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(*) FILTER (WHERE v.tok IS NULL) AS BIGINT) AS n_oov,
               round(count(*) FILTER (WHERE v.tok IS NULL)::DOUBLE / count(*), 6)
                 AS oov_ratio
        FROM tok t LEFT JOIN vocab v USING (tok)
        GROUP BY t.doc_id
    """,
    doc=f"t5 vocabulary induction + OOV scoring: the top-{VOCAB_K} "
        "corpus tokens by frequency (ties by token) become the "
        "vocabulary; each document is scored by its out-of-vocabulary "
        "token ratio — the pre-tokenizer coverage check of a training "
        "pipeline (docs with high OOV against the induced vocab are "
        "misencoded/foreign/noise). Relational shape: vocab = "
        "heavy-hitter count (one token shuffle) + top-k; scoring = "
        "broadcast LEFT join of the tiny vocab against the exploded "
        "token stream + per-doc aggregate. At 100 TB the vocab stays "
        "KB-sized however large the corpus; the token stream is "
        "scanned once and never shuffled on raw strings (the per-doc "
        "regroup keys on doc_id).",
    tags=("text", "pipeline"),
)
def t5_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    cnt = tok.groupBy("tok").agg(F.count("*").alias("n"))
    # top-K via orderBy+limit → TakeOrderedAndProject: per-partition
    # partial top-K heaps, never a single-partition global sort (the
    # distinct-token relation is billions of rows at corpus scale)
    vocab = (
        cnt.orderBy(F.desc("n"), F.asc("tok"))
        .limit(VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("n_oov").cast("bigint").alias("n_oov"),
            F.round(F.col("n_oov").cast("double") / F.col("n_tokens"), 6).alias("oov_ratio"),
        )
    )


# ---------------------------------------------------------------- t6

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10
QTERM_MOD = 7  # demo query set: md5i(tok) % 7 == 0 (~1/7 of the vocab)


def bm25_topk(
    docs: DataFrame,
    query_terms: DataFrame,
    k1: float = BM25_K1,
    b: float = BM25_B,
    topk: int = BM25_TOPK,
) -> DataFrame:
    """Okapi BM25 top-k retrieval over (doc_id, text) for a table of
    single-term queries (column ``tok``).

    Relational shape — the classic inverted-index dataflow:
    tf = one explode + one (doc_id, tok) shuffle; dl derives from tf
    (no second scan); df/N/avgdl are token- and 1-row aggregates; the
    query set joins the postings by term (broadcast when small). The
    per-term top-k is a window PARTITIONED BY term — parallel across
    query terms, never a global sort. At 100 TB nothing driver-side
    grows: postings shuffle once on (doc, term), scores stream.

    Scores are rounded to 6dp BEFORE ranking so the rank order is
    identical in Spark and the DuckDB oracle (registry float rule).
    """
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("dfreq"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    idf = F.log(1.0 + (F.col("n_docs") - F.col("dfreq") + 0.5) / (F.col("dfreq") + 0.5))
    score = F.round(
        idf
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))),
        6,
    )
    scored = (
        tf.join(query_terms.select("tok"), "tok")
        .join(F.broadcast(dfreq.join(query_terms.select("tok"), "tok")), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("tok", "doc_id", score.alias("bm25"))
    )
    w = Window.partitionBy("tok").orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= topk)
        .select("tok", "doc_id", "bm25", F.col("rn").cast("int").alias("rn"))
    )


@query(
    "t6_bm25_topk",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
        dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
        dfreq AS (SELECT tok, count(*) AS dfreq FROM tf GROUP BY tok),
        stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
        q AS (SELECT tok FROM dfreq WHERE {md5i_sql('tok')} % {QTERM_MOD} = 0),
        scored AS (
            SELECT t.tok, t.doc_id,
                   round(
                       ln(1.0 + (s.n_docs - d.dfreq + 0.5) / (d.dfreq + 0.5))
                       * (t.tf * ({BM25_K1} + 1.0))
                       / (t.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * l.dl / s.avgdl)),
                       6) AS bm25
            FROM tf t
            JOIN q USING (tok)
            JOIN dfreq d USING (tok)
            JOIN dl l USING (doc_id)
            CROSS JOIN stats s
        )
        SELECT tok, doc_id, bm25, CAST(rn AS INTEGER) AS rn FROM (
            SELECT *, row_number() OVER (PARTITION BY tok ORDER BY bm25 DESC, doc_id) AS rn
            FROM scored
        ) WHERE rn <= {BM25_TOPK}
    """,
    doc=f"t6 Okapi BM25 top-{BM25_TOPK} retrieval (k1={BM25_K1}, "
        f"b={BM25_B}): inverted-index term-frequency scoring with "
        "length normalization — the keyword-retrieval baseline of a "
        "training-data search/inspection stack (and the lexical half "
        "of hybrid lexical+vector retrieval next to ss1-ss7). Demo "
        f"query set = the ~1/{QTERM_MOD} of the vocabulary with "
        f"md5i(tok) % {QTERM_MOD} == 0 (portable hash, not a magic "
        "term list); the production entry point takes any (tok) query "
        "table (operators.text.bm25_topk).",
    tags=("text", "similarity"),
)
def t6_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import md5i

    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .distinct()
        .filter(md5i("tok") % QTERM_MOD == 0)
    )
    return bm25_topk(d, vocab)


# ---------------------------------------------------------------- mw2

MIX_SCALE = 1_000_000  # phash domain for the rate threshold


@query(
    "mw2_mixture_sample",
    oracle=f"""
        WITH n AS (
            SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
        ),
        z AS (SELECT sum(pow(n_docs, 1.0 / {MIX_TEMP})) AS z, sum(n_docs) AS total FROM n),
        rates AS (
            SELECT lang,
                   round(least(1.0, (pow(n_docs, 1.0 / {MIX_TEMP}) / z.z) * z.total / n_docs), 6)
                     AS sample_rate
            FROM n, z
        )
        SELECT d.doc_id, d.lang, r.sample_rate
        FROM documents d JOIN rates r USING (lang)
        WHERE {phash_sql('d.doc_id', MIX_SCALE)}
              < CAST(round(r.sample_rate * {MIX_SCALE}) AS BIGINT)
    """,
    doc="mw2 mixture REALIZATION: materialize the temperature-"
        "rebalanced corpus that mw1 only priced — per-language keep "
        "rates (share ∝ n^(1/T)) applied as a deterministic hash "
        "filter phash(doc_id) < rate·1e6. One aggregate for the "
        "(tiny) rate table, one broadcast join, one filtered scan — "
        "no shuffle of the corpus, no RNG (retry-stable at any "
        "parallelism, unlike df.sample). This is the step that turns "
        "mixing weights into the actual training set.",
    tags=("text", "pipeline", "sample"),
)
def mw2_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import phash

    d = load_table(spark, sf_dir, "documents")
    n = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    w = F.pow(F.col("n_docs"), 1.0 / MIX_TEMP)
    z = n.agg(F.sum(w).alias("z"), F.sum("n_docs").alias("total"))
    rates = (
        n.crossJoin(F.broadcast(z))
        .select(
            "lang",
            F.round(
                F.least(F.lit(1.0), (w / F.col("z")) * F.col("total") / F.col("n_docs")), 6
            ).alias("sample_rate"),
        )
    )
    return (
        d.select("doc_id", "lang")
        .join(F.broadcast(rates), "lang")
        .filter(
            phash("doc_id", MIX_SCALE)
            < F.round(F.col("sample_rate") * MIX_SCALE).cast("bigint")
        )
        .select("doc_id", "lang", "sample_rate")
    )


# ---------------------------------------------------------------- chunk1

CHUNK_TOKENS = 32    # context-window size in tokens
CHUNK_STRIDE = 24    # 8-token overlap between consecutive chunks


@query(
    "chunk1_token_chunks",
    oracle=f"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        s AS (
            SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks), {CHUNK_STRIDE})) AS start
            FROM d
        )
        SELECT doc_id,
               CAST((start - 1) / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
               CAST(len(toks[start : start + {CHUNK_TOKENS - 1}]) AS BIGINT) AS n_tokens,
               array_to_string(toks[start : start + {CHUNK_TOKENS - 1}], ' ') AS chunk_text
        FROM s
    """,
    doc="chunk1 context-window chunking: split each document into "
        f"{CHUNK_TOKENS}-token chunks on a {CHUNK_STRIDE}-token stride "
        f"({CHUNK_TOKENS - CHUNK_STRIDE}-token overlap, last chunk "
        "ragged) — the tokenize-and-chunk step feeding sequence "
        "packing (pack1). Pure array expressions: sequence() for "
        "chunk starts, posexplode, slice — per-row JVM codegen work, "
        "no shuffle at all (the output inherits the scan "
        "partitioning; at 100 TB this is a map-only stage).",
    tags=("text", "pipeline"),
)
def chunk1_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    starts = F.sequence(F.lit(1), F.size(toks), F.lit(CHUNK_STRIDE))
    return (
        d.select("doc_id", toks.alias("toks"), F.posexplode(starts).alias("chunk_id", "start"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.size(F.slice("toks", F.col("start"), F.lit(CHUNK_TOKENS)))
            .cast("bigint")
            .alias("n_tokens"),
            F.array_join(F.slice("toks", F.col("start"), F.lit(CHUNK_TOKENS)), " ").alias(
                "chunk_text"
            ),
        )
    )


# ---------------------------------------------------------------- ngram1

NGRAM_TOP_K = 20


@query(
    "ngram1_top_bigrams",
    oracle=f"""
        WITH d AS (SELECT string_split(text, ' ') AS toks FROM documents),
        s AS (
            SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM d
        ),
        b AS (SELECT toks[i] || ' ' || toks[i + 1] AS ngram FROM s)
        SELECT ngram, CAST(count(*) AS BIGINT) AS n
        FROM b GROUP BY ngram
        ORDER BY n DESC, ngram LIMIT {NGRAM_TOP_K}
    """,
    doc="ngram1 corpus-level top-K bigram counts: adjacent-token "
        "pairs via zip_with over two shifted slices (JVM codegen, no "
        "UDF), explode, count, top-K. The explode is map-side; the "
        "only wide exchange is the partial-aggregated bigram count "
        "shuffle, and the top-K is TakeOrderedAndProject (per-"
        "partition heaps), never a global sort. Deterministic "
        "tie-break by ngram.",
    tags=("text",),
)
def ngram1_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    bigrams = F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    )
    return (
        d.select(F.explode(bigrams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("ngram"))
        .limit(NGRAM_TOP_K)
    )

# ---------------------------------------------------------------- cls1

CLS_BUCKETS = 512    # hashed feature space (fastText-style bag of buckets)
CLS_WMOD = 2049      # weight lattice: phash(bucket) - 1024 ∈ [-1024, 1024]


def _cls_weight(tok: Column) -> Column:
    """Per-token classifier weight: feature-hash the token into one of
    CLS_BUCKETS buckets, then derive the bucket's weight from a second
    hash, scaled onto the lattice k/1024 ∈ [-1, 1]. Multiples of
    2^-10 are exactly representable, so the per-document SUM is exact
    in ANY accumulation order — the oracle can't drift by float
    reassociation."""
    from ..functions import md5i, phash

    return (phash(md5i(tok) % CLS_BUCKETS, CLS_WMOD) - F.lit(1024)) / F.lit(1024.0)


def _cls_weight_sql(tok: str) -> str:
    return f"(({phash_sql(f'({md5i_sql(tok)}) % {CLS_BUCKETS}', CLS_WMOD)}) - 1024) / 1024.0"


@query(
    "cls1_quality_classifier",
    oracle=f"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        s AS (
            SELECT doc_id,
                   list_sum(list_transform(toks, t -> {_cls_weight_sql('t')})) AS sw,
                   len(toks) AS n
            FROM d
        )
        SELECT doc_id,
               CAST(round(sw * 1024) AS BIGINT) AS score_x1024,
               CAST(n AS BIGINT) AS n_tokens,
               CAST(CAST(sw >= 0 AS INT) AS BIGINT) AS keep
        FROM s
    """,
    doc="cls1 fastText-style linear quality classifier: each token is "
        "feature-hashed into one of 512 buckets; a broadcast-free "
        "hash-derived weight per bucket stands in for trained "
        "coefficients (the container has no trained model — swap "
        "_cls_weight for a broadcast weight-table join, t3's pattern, "
        "when one exists). keep = total score ≥ 0; the score is "
        "emitted as the EXACT lattice integer score_x1024 = Σ k_token "
        "(weights sit on the k/1024 lattice, so the sum is exact in "
        "any order) next to n_tokens — the mean-margin quotient is "
        "derivable but deliberately not hashed: a rounded sw/n sits "
        "1 ulp from a round-half boundary for some documents and the "
        "engines then disagree in the 6th decimal (caught at sf0.1). "
        "The whole classifier is ONE map-only expression — transform "
        "+ aggregate over the token array inside codegen, zero "
        "shuffle, zero UDF: at 100 TB this runs at scan speed.",
    tags=("text", "pipeline"),
)
def cls1_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    sw = F.aggregate(
        F.transform(toks, _cls_weight), F.lit(0.0), lambda acc, x: acc + x
    )
    return d.select(
        "doc_id",
        toks.alias("toks"),
        sw.alias("sw"),
    ).select(
        "doc_id",
        F.round(F.col("sw") * 1024).cast("bigint").alias("score_x1024"),
        F.size("toks").cast("bigint").alias("n_tokens"),
        (F.col("sw") >= 0).cast("int").cast("bigint").alias("keep"),
    )


# ---------------------------------------------------------------- mw3

TOKEN_BUDGET = 800   # per-source token quota


@query(
    "mw3_token_budget_pack",
    oracle=f"""
        WITH d AS (
            SELECT source, doc_id,
                   len(string_split(text, ' ')) AS n_tokens,
                   {md5i_sql('doc_id')} AS h
            FROM documents
        ),
        c AS (
            SELECT source, doc_id, n_tokens,
                   SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum_tokens
            FROM d
        )
        SELECT source, doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(cum_tokens AS BIGINT) AS cum_tokens
        FROM c WHERE cum_tokens - n_tokens < {TOKEN_BUDGET}
    """,
    doc="mw3 per-source token-budget realization: admit documents in "
        "deterministic hash order until each source has contributed "
        f"~{TOKEN_BUDGET} tokens (greedy quota — the 'take N tokens "
        "per domain' step of mixture construction, where mw2 is the "
        "rate-based variant). Running sum over a window PARTITIONED "
        "BY source — parallel across sources, no global window. At "
        "100 TB a huge single source would serialize its partition; "
        "the documented scale path pre-prunes with a per-source "
        "TakeOrdered of ~budget/avg_tokens smallest hashes before the "
        "exact window, bounding window input to O(budget) rows per "
        "source.",
    tags=("text", "pipeline", "sample"),
)
def mw3_token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import md5i

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "source",
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        md5i("doc_id").alias("h"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") - F.col("n_tokens") < TOKEN_BUDGET)
        .select(
            "source",
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        )
    )


# ---------------------------------------------------------------- spl1

SPLIT_MOD = 1000
VAL_LO, TEST_LO = 800, 900  # train < 800 <= val < 900 <= test


@query(
    "spl1_stratified_split",
    oracle=f"""
        WITH assigned AS (
            SELECT doc_id, lang,
                   CASE WHEN {phash_sql('doc_id', SPLIT_MOD)} < {VAL_LO} THEN 'train'
                        WHEN {phash_sql('doc_id', SPLIT_MOD)} < {TEST_LO} THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        )
        SELECT lang, split, CAST(count(*) AS BIGINT) AS n,
               round(count(*)::DOUBLE
                     / sum(count(*)) OVER (PARTITION BY lang), 6) AS frac
        FROM assigned GROUP BY lang, split
    """,
    doc="spl1 deterministic stratified train/val/test split: every "
        "document is assigned by a portable hash of its id (80/10/10), "
        "reported as per-language counts and realized fractions — the "
        "holdout-construction step of a training-data pipeline. Hash "
        "assignment (not rand()) is retry-stable at any parallelism "
        "and REPRODUCIBLE: re-running on a grown corpus never moves an "
        "existing document across splits, which is what keeps eval "
        "sets frozen as crawls append. Map-only assignment + one "
        "shuffle of |langs|×3 count rows.",
    tags=("text", "pipeline", "sample"),
)
def spl1_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import phash

    d = load_table(spark, sf_dir, "documents")
    h = phash("doc_id", SPLIT_MOD)
    assigned = d.select(
        "lang",
        F.when(h < VAL_LO, "train").when(h < TEST_LO, "val").otherwise("test").alias("split"),
    )
    counts = assigned.groupBy("lang", "split").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang")
    return counts.select(
        "lang",
        "split",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 6).alias("frac"),
    )


# ---------------------------------------------------------------- lp1

@query(
    "lp1_nb_loglik_quality",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
        counts AS (
            SELECT d.lang, t.tok, sum(t.tf) AS n_lt
            FROM tf t JOIN documents d USING (doc_id)
            GROUP BY d.lang, t.tok
        ),
        lang_tot AS (SELECT lang, sum(n_lt) AS n_l FROM counts GROUP BY lang),
        vocab AS (SELECT count(DISTINCT tok) AS v FROM tf),
        nd AS (SELECT doc_id, sum(tf) AS n_doc FROM tf GROUP BY doc_id),
        matched AS (
            SELECT t.doc_id, c.lang, sum(t.tf * ln(c.n_lt + 1.0)) AS s1
            FROM tf t JOIN counts c USING (tok)
            GROUP BY t.doc_id, c.lang
        ),
        scores AS (
            SELECT n.doc_id, l.lang, n.n_doc,
                   coalesce(m.s1, 0.0) - n.n_doc * ln(l.n_l + vocab.v) AS score
            FROM nd n CROSS JOIN lang_tot l CROSS JOIN vocab
            LEFT JOIN matched m ON m.doc_id = n.doc_id AND m.lang = l.lang
        ),
        best AS (
            SELECT doc_id, lang, n_doc, score,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY round(score, 6) DESC, lang) AS rn
            FROM scores
        )
        SELECT doc_id, lang AS best_lang,
               round(score / n_doc, 6) AS per_token_ll
        FROM best WHERE rn = 1
    """,
    doc="lp1 language-model quality score: each document's best "
        "per-token log-likelihood under the corpus-trained unigram "
        "naive-Bayes model (t3's factored scoring) — the cheap "
        "'perplexity-style' quality filter of a curation funnel "
        "(documents no language model explains are noise/misencoded; "
        "the production form swaps in a KenLM-style model as a "
        "broadcast table, same plan). Length normalization makes the "
        "signal comparable across documents. Same relational shape as "
        "t3: no dense vocab×langs relation is ever built.",
    tags=("text", "pipeline"),
)
def lp1_nb_loglik_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tf = pin(
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    counts = (
        tf.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "tok")
        .agg(F.sum("tf").alias("n_lt"))
    )
    lang_tot = counts.groupBy("lang").agg(F.sum("n_lt").alias("n_l"))
    vocab = tf.agg(F.countDistinct("tok").alias("v"))
    nd = tf.groupBy("doc_id").agg(F.sum("tf").alias("n_doc"))
    matched = (
        tf.join(counts, "tok")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("tf") * F.log(F.col("n_lt") + 1.0)).alias("s1"))
    )
    scores = (
        nd.crossJoin(F.broadcast(lang_tot))
        .crossJoin(F.broadcast(vocab))
        .join(matched, ["doc_id", "lang"], "left")
        .select(
            "doc_id",
            "lang",
            "n_doc",
            (
                F.coalesce(F.col("s1"), F.lit(0.0))
                - F.col("n_doc") * F.log(F.col("n_l") + F.col("v"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc(F.round(F.col("score"), 6)), F.asc("lang"))
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("lang").alias("best_lang"),
            F.round(F.col("score") / F.col("n_doc"), 6).alias("per_token_ll"),
        )
    )


# ---------------------------------------------------------------- cm1

def _cm1_oracle() -> str:
    from ..registry import REGISTRY

    t3_sql = REGISTRY["t3_lang_id_naive_bayes"].oracle
    return f"""
        WITH t3 AS ({t3_sql})
        SELECT d.lang AS true_lang, t3.pred_lang,
               CAST(count(*) AS BIGINT) AS n,
               round(count(*) / CAST(sum(count(*)) OVER (PARTITION BY d.lang)
                                     AS DOUBLE), 6) AS frac_of_true
        FROM t3 JOIN documents d USING (doc_id)
        GROUP BY d.lang, t3.pred_lang
    """


@query(
    "cm1_langid_confusion",
    oracle=None,  # composed from t3's registered oracle at import time
    doc="cm1 classifier-evaluation confusion matrix: t3's language "
        "predictions joined back to ground truth, counted per "
        "(true, predicted) cell with per-true-class fractions (row-"
        "normalized recall view) — the standard model-quality report "
        "a curation pipeline runs after any classifier stage. The "
        "oracle is COMPOSED from t3's registered oracle text (one "
        "WITH wrapper), so the two stay in lockstep by construction. "
        "Scale: inherits t3's factored-NB plan; the matrix itself is "
        "|langs|² cells, the fraction window partitions by true "
        "lang.",
    tags=("text", "ml", "analytics"),
)
def cm1_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    preds = t3_lang_id_naive_bayes(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("true_lang")
    )
    cells = preds.join(d, "doc_id").groupBy("true_lang", "pred_lang").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("true_lang")
    return cells.select(
        "true_lang",
        "pred_lang",
        "n",
        F.round(F.col("n") / F.sum("n").over(w), 6).alias("frac_of_true"),
    )



# ---------------------------------------------------------------- gq1

# Gopher-style rule thresholds (Rae et al. 2021, "Scaling Language
# Models: ... Gopher" §A1.1 repetition/quality filters, adapted to the
# synthetic corpus). All ratio rules are evaluated as INTEGER
# cross-multiplications so Spark and DuckDB agree bit-for-bit with no
# float boundary rounding.
GQ_MIN_WORDS, GQ_MAX_WORDS = 40, 100000
GQ_MWL_LO, GQ_MWL_HI = 2, 10       # mean word length bounds
GQ_MIN_STOPS = 2                   # >= 2 distinct stopwords present
GQ_ALPHA_NUM, GQ_ALPHA_DEN = 4, 5  # >= 80% words contain a letter


@query(
    "gq1_gopher_rules",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), m AS (
            SELECT doc_id,
                   len(toks) AS n,
                   list_sum(list_transform(toks, x -> len(x))) AS sum_len,
                   len(list_filter(list_distinct(toks), x -> x IN {_STOP_SQL})) AS n_stop,
                   len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha
            FROM d
        ), f AS (
            SELECT doc_id,
                   CASE WHEN n BETWEEN {GQ_MIN_WORDS} AND {GQ_MAX_WORDS} THEN 0 ELSE 1 END AS f_nwords,
                   CASE WHEN sum_len >= {GQ_MWL_LO} * n AND sum_len <= {GQ_MWL_HI} * n THEN 0 ELSE 1 END AS f_mwl,
                   CASE WHEN n_stop >= {GQ_MIN_STOPS} THEN 0 ELSE 1 END AS f_stop,
                   CASE WHEN {GQ_ALPHA_DEN} * n_alpha >= {GQ_ALPHA_NUM} * n THEN 0 ELSE 1 END AS f_alpha
            FROM m
        ), t AS (
            SELECT *, f_nwords + f_mwl + f_stop + f_alpha AS nf FROM f
        )
        SELECT rule,
               CAST(sum(fail) AS BIGINT) AS n_fail,
               CAST(sum(CASE WHEN fail = 1 AND nf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sole_fail,
               CAST((SELECT count(*) FROM t WHERE nf = 0) AS BIGINT) AS n_survivors
        FROM (
            SELECT 'n_words' AS rule, f_nwords AS fail, nf FROM t
            UNION ALL SELECT 'mean_word_len', f_mwl, nf FROM t
            UNION ALL SELECT 'stopwords', f_stop, nf FROM t
            UNION ALL SELECT 'alpha_ratio', f_alpha, nf FROM t
        ) GROUP BY rule
    """,
    doc="gq1 Gopher-style rule-based quality filter WITH PER-RULE "
        "ATTRIBUTION (Rae et al. 2021 A1.1): word-count bounds, mean-"
        "word-length bounds, minimum distinct stopwords, alphabetic-"
        "word ratio. Beyond t2's composite score, this reports per "
        "rule how many docs it kills and how many it ALONE kills "
        "(n_sole_fail) — the report a curation team reads before "
        "tuning thresholds. One scan, all rules as integer-"
        "cross-multiplied codegen expressions (no float boundary "
        "flake), one 4-row stack + tiny aggregate; output is O(rules) "
        "at any corpus size.",
    tags=("text", "pipeline"),
)
def gq1_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    m = d.select(
        "doc_id",
        F.size(toks).alias("n"),
        F.aggregate(F.transform(toks, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x).alias("sum_len"),
        F.size(
            F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(w) for w in STOPWORDS]))
        ).alias("n_stop"),
        F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]"))).alias("n_alpha"),
    )
    f = m.select(
        "doc_id",
        F.when(F.col("n").between(GQ_MIN_WORDS, GQ_MAX_WORDS), 0).otherwise(1).alias("f_nwords"),
        F.when(
            (F.col("sum_len") >= GQ_MWL_LO * F.col("n")) & (F.col("sum_len") <= GQ_MWL_HI * F.col("n")), 0
        ).otherwise(1).alias("f_mwl"),
        F.when(F.col("n_stop") >= GQ_MIN_STOPS, 0).otherwise(1).alias("f_stop"),
        F.when(GQ_ALPHA_DEN * F.col("n_alpha") >= GQ_ALPHA_NUM * F.col("n"), 0).otherwise(1).alias("f_alpha"),
    ).withColumn("nf", F.col("f_nwords") + F.col("f_mwl") + F.col("f_stop") + F.col("f_alpha"))
    stacked = f.select(
        F.expr(
            "stack(4, 'n_words', f_nwords, 'mean_word_len', f_mwl, "
            "'stopwords', f_stop, 'alpha_ratio', f_alpha) AS (rule, fail)"
        ),
        "nf",
    )
    survivors = f.agg(F.sum(F.when(F.col("nf") == 0, 1).otherwise(0)).alias("n_survivors"))
    return (
        stacked.groupBy("rule")
        .agg(
            F.sum("fail").cast("bigint").alias("n_fail"),
            F.sum(F.when((F.col("fail") == 1) & (F.col("nf") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("n_sole_fail"),
        )
        .crossJoin(F.broadcast(survivors))
    )


from ..registry import REGISTRY as _REG_CM  # noqa: E402

_REG_CM["cm1_langid_confusion"].oracle = _cm1_oracle()


# ---------------------------------------------------------------- t12

TFIDF_TOP_K = 5


@query(
    "t12_tfidf_keywords",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
               FROM tok GROUP BY doc_id, tok),
        df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        nd AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT t.doc_id, t.tok,
                   t.tf * ln((nd.n_docs + 1.0) / (d.df + 1.0)) AS tfidf
            FROM tf t JOIN df d USING (tok) CROSS JOIN nd
        ),
        ranked AS (
            SELECT doc_id, tok, tfidf,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY tfidf DESC, tok) AS rn
            FROM scored
        )
        SELECT doc_id, CAST(rn AS INTEGER) AS rank, tok AS keyword,
               round(tfidf, 6) AS tfidf
        FROM ranked WHERE rn <= {TFIDF_TOP_K}
    """,
    doc="t12 TF-IDF keyword extraction: top-5 terms per document by "
        "tf·ln((N+1)/(df+1)) — the classic smoothed IDF. Plan: one "
        "token explode → (doc, tok) tf groupBy; the document-"
        "frequency relation is |vocab| rows (map-side combined); one "
        "1-row corpus-count broadcast; the per-doc top-k is a window "
        "PARTITIONED BY doc_id (bounded by per-doc vocabulary). "
        "Feeds t6's BM25 index shape and t5's vocab stats — this is "
        "the per-document salience view.",
    tags=("text",),
)
def t12_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    nd = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "tok",
            (
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP_K)
        .select(
            "doc_id",
            F.col("rn").cast("int").alias("rank"),
            F.col("tok").alias("keyword"),
            F.round("tfidf", 6).alias("tfidf"),
        )
    )


# ---------------------------------------------------------------- mg1

MG_K = 200          # summary capacity; recall guaranteed for freq > n/k
MG_SHARDS = 32


@query(
    "mg1_heavy_hitters",
    oracle=f"""
        WITH tok AS (
            SELECT unnest(string_split(text, ' ')) AS token FROM documents
        ),
        n AS (SELECT count(*) AS n FROM tok),
        ct AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token)
        SELECT ct.token, CAST(ct.cnt AS BIGINT) AS cnt
        FROM ct, n WHERE ct.cnt * {MG_K} > n.n
    """,
    doc="mg1 heavy hitters via Misra-Gries (1982) candidate "
        "generation + exact verify: every token with global "
        "frequency > n/k must exceed its shard's local n_s/k in at "
        "least one shard (averaging argument), so the UNION of "
        "per-shard size-k MG summaries has GUARANTEED recall — the "
        "candidate set is O(shards x k) regardless of vocabulary "
        "size, and one exact counting pass over just the candidates "
        "(broadcast semi-join) yields exact counts with zero false "
        "positives. This is the bounded-memory alternative to t5's "
        "full-vocabulary groupBy when the token space is unbounded "
        "(URLs, n-grams, user agents at 100 TB): the wide shuffle "
        "carries only candidate tokens. Output semantics are "
        "sketch-independent (all tokens with cnt*k > n), so the "
        "oracle is the plain exact computation.",
    tags=("text", "agg", "approx", "sketch"),
)
def mg1_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(tokens(F.col("text"))).alias("token"),
        (F.col("doc_id") % MG_SHARDS).alias("shard"),
    )

    def mg_summary(pdf: pd.DataFrame) -> pd.DataFrame:
        counters: dict[str, int] = {}
        for t in pdf["token"]:
            if t in counters:
                counters[t] += 1
            elif len(counters) < MG_K:
                counters[t] = 1
            else:
                for key in list(counters):
                    counters[key] -= 1
                    if counters[key] == 0:
                        del counters[key]
        return pd.DataFrame({"token": list(counters)})

    cand = (
        tok.groupBy("shard")
        .applyInPandas(mg_summary, "token string")
        .select("token")
        .distinct()
    )
    n_total = tok.count()
    exact = (
        tok.join(F.broadcast(cand), "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    return exact.filter(F.col("cnt") * MG_K > F.lit(n_total))


# ---------------------------------------------------------------- cur1

CUR_PHASES = ("warmup", "main", "anneal")
_POW32D = 4294967296.0


def _cur_rate(phase: str, d: int) -> float:
    if phase == "warmup":
        return 1.0 if d >= 8 else (0.2 if d >= 4 else 0.02)
    if phase == "main":
        return 0.9 if d >= 8 else (0.7 if d >= 4 else 0.3)
    return 1.0 if d == 10 else 0.5


CUR_RATES = [(p, d, _cur_rate(p, d)) for p in CUR_PHASES for d in range(1, 11)]
_CUR_VALUES_SQL = ", ".join(f"('{p}', {d}, {r!r})" for p, d, r in CUR_RATES)


@query(
    "cur1_curriculum_sample",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), s AS (
            SELECT doc_id,
                   round({QUALITY_OF_TOKS_SQL}, 6) AS quality
            FROM d
        ), r AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY quality, doc_id) AS rnk,
                   count(*) OVER () AS n
            FROM s
        ), dec AS (
            SELECT doc_id, CAST((rnk - 1) * 10 // n AS INTEGER) + 1 AS decile FROM r
        ), rates AS (
            SELECT * FROM (VALUES {_CUR_VALUES_SQL}) AS t(phase, decile, rate)
        ), coin AS (
            SELECT ra.phase, dec.decile, ra.rate, dec.doc_id,
                   ({md5i_sql("'cur:' || ra.phase || ':' || dec.doc_id")}) / {_POW32D!r} AS u
            FROM dec JOIN rates ra USING (decile)
        )
        SELECT phase, CAST(decile AS INTEGER) AS decile, rate,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN u < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        FROM coin GROUP BY phase, decile, rate
    """,
    doc="cur1 curriculum sampling schedule — the quality-stratified "
        "data schedule LLM training runs use (clean-first warmup, "
        "broadened main phase, annealing mix): documents are ranked "
        "into global quality DECILES (t2's composite score, ranked by "
        "the two-pass distributed global_rank — never a single-"
        "partition window), each curriculum phase assigns a keep-rate "
        "per decile (30-row broadcast literal table), and membership "
        "is a deterministic portable coin (md5 of phase×doc), so the "
        "schedule is reproducible and every phase's sample is "
        "decided in ONE pass over the corpus with no data movement "
        "beyond the rank. Output: per (phase, decile) eligible and "
        "sampled counts with the rate — the table a training-data "
        "dashboard shows per curriculum stage.",
    tags=("text", "pipeline"),
)
def cur1_curriculum_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import md5i
    from .relational import global_rank

    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_t = F.size(toks)
    stop_ratio = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("double") / n_t
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n_t
    quality = F.round(
        F.least(F.lit(1.0), n_t / F.lit(50.0)) * (F.lit(1.0) - stop_ratio) * uniq_ratio,
        6,
    )
    scored = d.select("doc_id", quality.alias("quality"))
    ranked = global_rank(scored, "quality", "doc_id", out="rnk")
    n = scored.agg(F.count("*").alias("n"))
    dec = ranked.crossJoin(F.broadcast(n)).select(
        "doc_id",
        (((F.col("rnk") - 1) * 10 / F.col("n")).cast("int") + 1).alias("decile"),
    )
    rates = local_frame(spark, CUR_RATES, "phase string, decile int, rate double")
    coin = dec.join(F.broadcast(rates), "decile").select(
        "phase",
        "decile",
        "rate",
        (
            md5i(F.concat_ws("", F.lit("cur:"), F.col("phase"), F.lit(":"), F.col("doc_id")))
            / F.lit(_POW32D)
        ).alias("u"),
    )
    return coin.groupBy("phase", "decile", "rate").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("u") < F.col("rate"), 1).otherwise(0)).cast("bigint").alias("n_sampled"),
    )


# ---------------------------------------------------------------- zipf1

@query(
    "zipf1_token_zipf",
    oracle="""
        WITH tok AS (
            SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        freq AS (SELECT tok, count(*) AS f FROM tok GROUP BY tok),
        r AS (
            SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS rnk FROM freq
        ),
        l AS (SELECT ln(CAST(rnk AS DOUBLE)) AS lx, ln(CAST(f AS DOUBLE)) AS ly FROM r),
        s AS (
            SELECT count(*) AS n, avg(lx) AS mx, avg(ly) AS my,
                   covar_samp(lx, ly) AS sxy, var_samp(lx) AS sxx, var_samp(ly) AS syy
            FROM l
        )
        SELECT CAST(n AS BIGINT) AS n_types,
               round(sxy / sxx, 6) AS zipf_slope,
               round(my - (sxy / sxx) * mx, 6) AS intercept,
               round((sxy * sxy) / (sxx * syy), 6) AS r2
        FROM s
    """,
    doc="zipf1 corpus Zipf diagnostic — the log-log rank/frequency "
        "slope every corpus-health dashboard tracks (natural text "
        "fits slope ≈ −1; templated/boilerplate-heavy or synthetic "
        "corpora bend it, so drift in the slope flags contamination "
        "upstream of training): token frequencies in one "
        "map-side-combined aggregate, GLOBAL frequency ranks from "
        "the two-pass distributed global_rank (never a single-"
        "partition window over the vocabulary), then ols1's "
        "closed-form one-pass regression over (ln rank, ln freq). "
        "Output is one row at any corpus size.",
    tags=("text", "metric"),
)
def zipf1_token_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import global_rank

    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("f"))
    )
    ranked = global_rank(freq, F.desc("f"), F.asc("tok"), out="rnk")
    l = ranked.select(
        F.log(F.col("rnk").cast("double")).alias("lx"),
        F.log(F.col("f").cast("double")).alias("ly"),
    )
    s = l.agg(
        F.count("*").alias("n"),
        F.avg("lx").alias("mx"),
        F.avg("ly").alias("my"),
        F.covar_samp("lx", "ly").alias("sxy"),
        F.var_samp("lx").alias("sxx"),
        F.var_samp("ly").alias("syy"),
    )
    slope = F.col("sxy") / F.col("sxx")
    return s.select(
        F.col("n").cast("bigint").alias("n_types"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(F.col("my") - slope * F.col("mx"), 6).alias("intercept"),
        F.round((F.col("sxy") * F.col("sxy")) / (F.col("sxx") * F.col("syy")), 6).alias("r2"),
    )


# ---------------------------------------------------------------- emb4

EMB4_WINDOW = 2   # skip-gram context width (tokens to the right)
EMB4_VOCAB = 300  # top-V vocabulary by frequency
EMB4_DIM = 16     # embedding dimensionality


@query(
    "emb4_pmi_svd_embeddings",
    oracle=None,  # driver-side eigendecomposition — rows + numpy parity
    doc="emb4 corpus-trained word embeddings via PPMI + truncated SVD "
        "(Levy & Goldberg, NeurIPS'14: SGNS implicitly factorizes the "
        "shifted PMI matrix — this computes the explicit counterpart, "
        "the strong classical baseline): skip-gram co-occurrence "
        f"pairs within {EMB4_WINDOW} tokens are generated MAP-SIDE "
        "(array transform + explode per document — no positional "
        "self-join), restricted to the broadcast top-"
        f"{EMB4_VOCAB} vocabulary (orderBy+limit, per-partition "
        "heaps), counted in one map-side-combined aggregate, and the "
        "bounded V×V PPMI matrix is factorized on the DRIVER "
        f"(numpy eigh, U·√Σ, d={EMB4_DIM}) — the aggregate-then-tiny-"
        "solve split: nothing scales with the corpus except the two "
        "token scans, and the model that ships is V×d floats. "
        "Deterministic sign convention per component. Output "
        "(token, vector) rows; pinned by a numpy end-to-end parity "
        "test and a PMI symmetry invariant.",
    tags=("text", "ml", "similarity"),
)
def emb4_pmi_svd_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    freq = (
        d.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("f"))
    )
    vocab = freq.orderBy(F.desc("f"), F.asc("tok")).limit(EMB4_VOCAB)
    # skip-gram pairs map-side: for offset k in 1..W emit (t_i, t_{i+k})
    # both directions via symmetrization at count time
    toked = d.select(toks.alias("t")).filter(F.size("t") >= 2)
    pair_arrays = [
        F.zip_with(
            F.slice("t", 1, F.size("t") - k),
            F.slice("t", 1 + k, F.size("t") - k),
            lambda a, b: F.struct(a.alias("x"), b.alias("y")),
        )
        for k in range(1, EMB4_WINDOW + 1)
    ]
    pairs = toked.select(
        F.explode(F.concat(*pair_arrays)).alias("p")
    ).select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
    v1 = vocab.select(F.col("tok").alias("x"))
    v2 = vocab.select(F.col("tok").alias("y"))
    co = (
        pairs.join(F.broadcast(v1), "x")
        .join(F.broadcast(v2), "y")
        .groupBy("x", "y")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    words = sorted({r["x"] for r in co} | {r["y"] for r in co})
    idx = {w: i for i, w in enumerate(words)}
    V = len(words)
    C = np.zeros((V, V))
    for r in co:
        C[idx[r["x"]], idx[r["y"]]] += r["n"]
    C = C + C.T  # symmetrize (left+right contexts)
    total = C.sum()
    pa = C.sum(axis=1) / total
    with np.errstate(divide="ignore", invalid="ignore"):
        pmi = np.log((C / total) / np.outer(pa, pa))
    ppmi = np.where(np.isfinite(pmi), np.maximum(pmi, 0.0), 0.0)
    vals, vecs = np.linalg.eigh(ppmi)
    order = np.argsort(vals)[::-1][:EMB4_DIM]
    vals, vecs = np.maximum(vals[order], 0.0), vecs[:, order]
    for i in range(vecs.shape[1]):
        j = int(np.argmax(np.abs(vecs[:, i])))
        if vecs[j, i] < 0:
            vecs[:, i] = -vecs[:, i]
    emb = vecs * np.sqrt(vals)[None, :]
    rows = [
        (w, [round(float(v), 6) for v in emb[idx[w]]]) for w in words
    ]
    return local_frame(spark, rows, "token string, vector array<double>")


# ---------------------------------------------------------------- rep1

REP_TOP2_PCT = 20  # fail if top 2-gram covers > 20% of tokens
REP_TOP3_PCT = 18  # fail if top 3-gram covers > 18% of tokens
REP_DUP5_PCT = 15  # fail if duplicated 5-grams cover > 15% of positions


def _gram_col(toks: Column, k: int) -> Column:
    """All k-grams of a token array WITH multiplicity (dedup's
    shingles_of_tokens minus the array_distinct — repetition rules
    need the counts the dedup index deliberately drops). The slice
    length clamps at 0 so docs shorter than k yield an empty array
    instead of an ANSI negative-length error."""
    n = F.size(toks)
    ln = F.greatest(n - (k - 1), F.lit(0))
    out = F.slice(toks, 1, ln)
    for j in range(1, k):
        out = F.zip_with(
            out, F.slice(toks, 1 + j, ln),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return out


def _max_run_count(sorted_hashes: Column) -> Column:
    """Largest multiplicity of any value in a SORTED array — one O(n)
    fold (0 for an empty array, NULL for a NULL array): the per-row
    twin of ``groupBy(gram).count() → max(count)``."""
    run_now = lambda a, x: F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1))
    return F.aggregate(
        sorted_hashes,
        F.struct(
            F.lit(None).cast("long").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            run_now(a, x).alias("run"),
            F.greatest(a["best"], run_now(a, x)).alias("best"),
        ),
        lambda a: a["best"],
    )


def with_rep_flags(
    df: DataFrame, toks: str, n: str, gate: str | None = None
) -> DataFrame:
    """Append the Gopher A1.2 repetition flags (f_top2, f_top3,
    f_dup5 — int 0/1) computed PER ROW from the ``toks`` array column.

    r16 optimization (guide §2.4 — remove shuffles outright): the
    repetition rules are per-document statistics, so the former
    explode → pinned (doc_id, p, g2, g3, g5) stream → two two-level
    groupBy aggregations + a count≥2 join + a lag window → three
    joins back pipeline (4 shuffles of a gram stream that is ~24
    bytes × every token position, plus a pinned cache of the same)
    collapses into pure array expressions inside the ONE scan that
    already holds the token array:

    - max k-gram multiplicity = sort the xxhash64'd gram array, max
      run length by one O(n) fold (``_max_run_count``);
    - duplicated-5-gram positional coverage = sort (hash, pos) pairs,
      mark positions whose hash equals a sorted neighbor (the exact
      count≥2 membership), then the same first=5 / min(Δp, 5)
      successor fold over the ascending marked positions the lag
      window computed.

    Flag values equal the stream form's: the counts are equivalent
    under a DIFFERENT 64-bit fingerprint family (hash-chained
    h_k = xxhash64(h_{k-1}, tok) here vs xxhash64(gram string) in the
    stream form — same collision class, but the hash VALUES are not
    compatible with pre-r16 artifacts), and the integer thresholds are
    identical; pinned by the planted-doc pytest. At 100 TB this
    removes the funnel's widest shuffle
    entirely — per-doc O(len·log len) sort work replaces it, done
    where the tokens already sit, embarrassingly parallel at scan.
    Per-doc work is bounded by document length exactly as the old
    per-(doc, gram) reduce was.

    ``gate`` (boolean column name): compute the gram arrays only when
    the gate holds (CASE short-circuit; the downstream layers see
    NULL and propagate it) — rows failing the gate still emit flags
    0, matching the stream form's left-join + fill(0). Layered
    selects keep each expensive array computed once (CollapseProject
    does not inline a non-cheap alias referenced more than once).

    Per-row constants (measured at sf0.1, single scan task): gram
    fingerprints are HASH-CHAINED — h_k[i] = xxhash64(h_{k-1}[i],
    tok[i+k-1]) — so no k-gram string is ever materialized (the
    concat_ws + hash form cost ~2× more); sorting uses sort_array
    (native ordering) rather than array_sort (interpreted comparator
    lambda). Chained hashes equal iff the underlying token windows
    are equal (modulo 64-bit collisions — the same sketch tradeoff
    the stream form took)."""
    g = F.col(gate) if gate is not None else None

    def gated(c: Column) -> Column:
        return F.when(g, c) if gate is not None else c

    t = F.col(toks)
    nt = F.size(t)

    def chain(prev: Column, k: int) -> Column:
        # extend (k-1)-gram hashes with token k: aligned slices so no
        # zip_with null-padding can fabricate a phantom gram
        ln = F.greatest(nt - (k - 1), F.lit(0))
        return F.zip_with(
            F.slice(prev, 1, ln), F.slice(t, k, ln), lambda a, b: F.xxhash64(a, b)
        )

    ln2 = F.greatest(nt - 1, F.lit(0))
    l1 = df.withColumn(
        "_g2",
        gated(
            F.zip_with(
                F.slice(t, 1, ln2), F.slice(t, 2, ln2), lambda a, b: F.xxhash64(a, b)
            )
        ),
    )
    l1b = l1.withColumns(
        {"_s2": F.sort_array(F.col("_g2")), "_g3": chain(F.col("_g2"), 3)}
    ).drop("_g2")
    l1c = l1b.withColumns(
        {
            "_maxc2": _max_run_count(F.col("_s2")),
            "_s3": F.sort_array(F.col("_g3")),
            "_g4": chain(F.col("_g3"), 4),
        }
    ).drop("_s2", "_g3")
    l1d = l1c.withColumns(
        {"_maxc3": _max_run_count(F.col("_s3")), "_g5": chain(F.col("_g4"), 5)}
    ).drop("_s3", "_g4")
    l2 = l1d.withColumn(
        # (hash, pos) sorted lexicographically: equal hashes adjacent
        "_zs",
        F.sort_array(
            F.transform(
                F.col("_g5"), lambda x, i: F.struct(x.alias("h"), i.alias("p"))
            )
        ),
    ).drop("_g5")
    n5m1 = F.greatest(F.size("_zs") - 1, F.lit(0))
    # _eq[i] = (zs[i].h == zs[i+1].h); materialized once, read twice
    l3 = l2.withColumn(
        "_eq",
        F.zip_with(
            F.slice("_zs", 1, n5m1),
            F.slice("_zs", 2, n5m1),
            lambda a, b: a["h"] == b["h"],
        ),
    )
    # marked = positions whose hash occurs ≥ 2 times in the doc
    marked = F.zip_with(
        F.col("_zs"),
        F.zip_with(
            F.concat(F.array(F.lit(False)), F.col("_eq")),
            F.concat(F.col("_eq"), F.array(F.lit(False))),
            lambda a, b: a | b,
        ),
        lambda s, m: F.when(m, s["p"]),
    )
    l4 = l3.withColumn(
        "_rep_pos", F.array_sort(F.filter(marked, lambda x: x.isNotNull()))
    ).drop("_zs", "_eq")
    # positional-union coverage: 5 for the first repeated position,
    # min(Δp, 5) per successor — the lag-window fold, now per row
    cov5 = F.aggregate(
        F.col("_rep_pos"),
        F.struct(F.lit(None).cast("int").alias("prev"), F.lit(0).cast("long").alias("tot")),
        lambda a, x: F.struct(
            x.alias("prev"),
            (
                a["tot"]
                + F.when(a["prev"].isNull(), F.lit(5)).otherwise(
                    F.least(x - a["prev"], F.lit(5))
                )
            ).alias("tot"),
        ),
        lambda a: a["tot"],
    )
    l5 = l4.withColumn("_cov5", cov5).drop("_rep_pos")
    nn = F.col(n)
    # integer cross-multiplication — no float threshold flake; NULL
    # maxc/cov (gated-off or NULL-text rows) falls to otherwise(0)
    return l5.withColumns(
        {
            "f_top2": F.when(200 * F.col("_maxc2") > REP_TOP2_PCT * nn, 1).otherwise(0),
            "f_top3": F.when(300 * F.col("_maxc3") > REP_TOP3_PCT * nn, 1).otherwise(0),
            "f_dup5": F.when(100 * F.col("_cov5") > REP_DUP5_PCT * nn, 1).otherwise(0),
        }
    ).drop("_maxc2", "_maxc3", "_cov5")


def repetition_flags_of(d: DataFrame) -> DataFrame:
    """Per-document Gopher repetition-rule fail flags (f_top2, f_top3,
    f_dup5) from a (doc_id, text) relation — rep1's aggregation runs
    on top; the fixture test plants repetitious documents here.

    r16: ONE corpus scan, ZERO explodes, ZERO shuffles — the flags are
    per-row array folds (:func:`with_rep_flags`). The pre-r16 stream
    form (posexplode → pinned gram stream → 4 shuffles + 3 joins) is
    value-identical but shuffled ~24 bytes per token position; the
    per-row form moves nothing and computes where the tokens sit."""
    toks = tokens(F.col("text"))
    base = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    return with_rep_flags(base, "toks", "n").select(
        "doc_id", "f_top2", "f_top3", "f_dup5"
    )


@query(
    "rep1_repetition_rules",
    oracle=f"""
        WITH d0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        base AS (SELECT doc_id, toks, len(toks) AS n FROM d0),
        g2 AS (
            SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1]
                                   for i in range(1, len(toks))]) AS g
            FROM base WHERE n >= 2
        ),
        m2 AS (SELECT doc_id, max(c) AS maxc2 FROM
               (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g)
               GROUP BY doc_id),
        g3 AS (
            SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                   for i in range(1, len(toks) - 1)]) AS g
            FROM base WHERE n >= 3
        ),
        m3 AS (SELECT doc_id, max(c) AS maxc3 FROM
               (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g)
               GROUP BY doc_id),
        g5 AS (
            SELECT doc_id,
                   unnest([struct_pack(p := i,
                           g := toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                || ' ' || toks[i+3] || ' ' || toks[i+4])
                           for i in range(1, len(toks) - 3)]) AS u
            FROM base WHERE n >= 5
        ),
        g5f AS (SELECT doc_id, u.p AS p, u.g AS g FROM g5),
        c5 AS (SELECT doc_id, g FROM g5f GROUP BY doc_id, g HAVING count(*) >= 2),
        cov AS (
            SELECT doc_id, count(*) AS cov5 FROM (
                SELECT DISTINCT g5f.doc_id, unnest(range(g5f.p, g5f.p + 5)) AS pos
                FROM g5f JOIN c5 USING (doc_id, g)
            ) GROUP BY doc_id
        ),
        f AS (
            SELECT b.doc_id,
                   CASE WHEN 200 * coalesce(m2.maxc2, 0) > {REP_TOP2_PCT} * b.n THEN 1 ELSE 0 END AS f_top2,
                   CASE WHEN 300 * coalesce(m3.maxc3, 0) > {REP_TOP3_PCT} * b.n THEN 1 ELSE 0 END AS f_top3,
                   CASE WHEN 100 * coalesce(cov.cov5, 0) > {REP_DUP5_PCT} * b.n THEN 1 ELSE 0 END AS f_dup5
            FROM base b
            LEFT JOIN m2 ON m2.doc_id = b.doc_id
            LEFT JOIN m3 ON m3.doc_id = b.doc_id
            LEFT JOIN cov ON cov.doc_id = b.doc_id
        ),
        t AS (SELECT *, f_top2 + f_top3 + f_dup5 AS nf FROM f)
        SELECT rule,
               CAST(sum(fail) AS BIGINT) AS n_fail,
               CAST(sum(CASE WHEN fail = 1 AND nf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sole_fail,
               CAST((SELECT count(*) FROM t WHERE nf = 0) AS BIGINT) AS n_survivors
        FROM (
            SELECT 'top_2gram' AS rule, f_top2 AS fail, nf FROM t
            UNION ALL SELECT 'top_3gram', f_top3, nf FROM t
            UNION ALL SELECT 'dup_5gram', f_dup5, nf FROM t
        ) GROUP BY rule
    """,
    doc="rep1 Gopher REPETITION rules with per-rule attribution (Rae "
        "et al. 2021 A1.2 — the companion family to gq1's A1.1 "
        "heuristics): fraction of tokens covered by the single most "
        f"frequent 2-gram (> {REP_TOP2_PCT}% fails) and 3-gram "
        f"(> {REP_TOP3_PCT}%), and the fraction of token POSITIONS "
        "covered by 5-grams occurring more than once in the document "
        f"(positional union — > {REP_DUP5_PCT}% fails): the looping/"
        "boilerplate signal every pretraining curation pipeline "
        "screens before the cross-document dedup passes (the original "
        "rules also cover duplicate lines/paragraphs — vacuous on "
        "this single-line corpus, noted not stubbed). Token-fraction "
        "thresholds mean docs under 10 tokens always trip top_2gram "
        "(2/n > 20%) — by design these rules run after gq1's "
        "min-word-count filter, as in the paper. Scale shape: ONE "
        "corpus scan and ONE explode — the 2/3/5-gram arrays are "
        "arrays_zip'ed array-side and the shared pinned (doc_id, p, "
        "g2, g3, g5) stream feeds all three (doc_id, gram) groupBys "
        "(the shingle index's cost class, linear in corpus); coverage "
        "is one distinct over exploded 5-position spans; thresholds "
        "are integer cross-multiplications; output O(rules). Same "
        "(rule, n_fail, n_sole_fail, n_survivors) attribution shape "
        "as gq1.",
    tags=("text", "pipeline"),
)
def rep1_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread_scan (r16): the per-row gram folds are the whole query;
    # on a single-row-group input they would run in ONE scan task
    # (no-op at scale — see sources.spread_scan)
    f = repetition_flags_of(spread_scan(load_table(spark, sf_dir, "documents")))
    t = f.withColumn("nf", F.col("f_top2") + F.col("f_top3") + F.col("f_dup5"))
    # ONE pass over the flags (the gram joins run once), then the
    # 1-row aggregate is exploded to the per-rule attribution shape
    rules = (("top_2gram", "f_top2"), ("top_3gram", "f_top3"), ("dup_5gram", "f_dup5"))
    aggs = [F.sum(F.when(F.col("nf") == 0, 1).otherwise(0)).cast("bigint").alias("surv")]
    for rule, col in rules:
        aggs.append(F.sum(F.col(col)).cast("bigint").alias(f"nf_{col}"))
        aggs.append(
            F.sum(F.when((F.col(col) == 1) & (F.col("nf") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias(f"ns_{col}")
        )
    one = t.agg(*aggs)
    return one.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(rule).alias("rule"),
                    F.col(f"nf_{col}").alias("n_fail"),
                    F.col(f"ns_{col}").alias("n_sole_fail"),
                    F.col("surv").alias("n_survivors"),
                )
                for rule, col in rules
            ])
        ).alias("r")
    ).select("r.rule", "r.n_fail", "r.n_sole_fail", "r.n_survivors")


# ---------------------------------------------------------------- cls2

CLS2_B = 128          # hashed feature buckets (bag-of-words, fastText-style)
CLS2_ITERS = 8        # IRLS/Newton steps
CLS2_RIDGE = 1e-2     # L2 penalty — the planted concept is separable,
                      # unpenalized MLE would diverge
CLS2_CLIP = 35.0      # logit clamp before sigmoid (exp-overflow guard)
CLS2_POS_TOK = "hash"  # proxy label: more 'hash' than 'scan' tokens
CLS2_NEG_TOK = "scan"


def cls2_features(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list[str]]:
    """Per-document hashed bag-of-words features for cls2.

    bucket = md5i(token) % CLS2_B, value = bucket count / n_tokens —
    the vocabulary-unbounded feature map (hashing trick, f16's idea)
    that works at 100 TB where a materialized vocabulary wouldn't.
    One explode + one (doc, bucket) count + a bounded 128-way pivot;
    label is the planted linearly-expressible concept
    count('hash') > count('scan') standing in for a human/LLM quality
    annotation (docstring of cls2_trained_classifier)."""
    from ..functions import md5i

    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    base = d.select(
        "doc_id",
        F.size(toks).alias("n_tok"),
        (
            F.size(F.filter(toks, lambda t: t == F.lit(CLS2_POS_TOK)))
            > F.size(F.filter(toks, lambda t: t == F.lit(CLS2_NEG_TOK)))
        )
        .cast("double")
        .alias("y"),
    )
    ex = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    cnt = ex.groupBy(
        "doc_id", (md5i(F.col("tok")) % CLS2_B).cast("int").alias("b")
    ).count()
    piv = cnt.groupBy("doc_id").pivot("b", list(range(CLS2_B))).sum("count").na.fill(0)
    feat_cols = [f"f{i}" for i in range(CLS2_B)]
    feats = piv.join(base, "doc_id").select(
        "doc_id",
        "y",
        (F.col("doc_id") % 2 == 0).alias("is_train"),
        *[
            (F.col(str(i)).cast("double") / F.col("n_tok")).alias(f"f{i}")
            for i in range(CLS2_B)
        ],
    )
    return feats, feat_cols


@query(
    "cls2_trained_classifier",
    oracle=None,  # iterative Newton fit — not SQL-expressible; numpy
    # end-to-end parity + held-out-accuracy pytest instead
    doc="cls2 TRAINED quality classifier, end to end in-engine: hashed "
        f"bag-of-words features ({CLS2_B} md5 buckets / n_tokens — the "
        "hashing trick, so the feature map needs no vocabulary and "
        "survives 100 TB), ridge-regularized logistic regression fit "
        f"by distributed IRLS ({CLS2_ITERS} Newton steps; driver state "
        "= one 129-vector β, per-step shuffle = one suffstats array "
        "per partition), then a map-only scoring pass over the full "
        "corpus. Train split doc_id%2=0, scored docs carry their "
        "split. The label is a planted deterministic proxy (docs with "
        f"more '{CLS2_POS_TOK}' than '{CLS2_NEG_TOK}' tokens) standing "
        "in for the human/LLM quality annotations a real CCNet/GPT-3-"
        "style quality filter trains on — linearly expressible in the "
        "bucket features, so held-out accuracy measures the trainer, "
        "not label noise. This is the curation composition the corpus "
        "pipeline runs at scale: featurize → fit (bounded driver "
        "state) → broadcast β → score at scan speed; cls1 is the "
        "inference-only half, log1 the fit-only half.",
    tags=("text", "pipeline", "ml"),
)
def cls2_trained_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..ml import logistic_irls

    feats, feat_cols = cls2_features(spark, sf_dir)
    # barriered, not pinned: the IRLS loop triggers CLS2_ITERS
    # separate actions and the scoring pass builds a 129-term
    # expression on top — with a lazy pin each of those plans carries
    # (and re-analyzes) the full 128-column pivot tree; the barrier
    # makes every per-iteration plan a leaf + mapInPandas
    # (caching.barrier: plan-size rationale, r11)
    feats = barrier(feats)
    beta = logistic_irls(
        feats.filter(F.col("is_train")),
        feat_cols,
        "y",
        iters=CLS2_ITERS,
        ridge=CLS2_RIDGE,
        clip_logit=CLS2_CLIP,
    )
    z = F.lit(float(beta[0]))
    for i, c in enumerate(feat_cols):
        z = z + F.col(c) * F.lit(float(beta[i + 1]))
    z = F.greatest(F.lit(-CLS2_CLIP), F.least(F.lit(CLS2_CLIP), z))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feats.select(
        "doc_id",
        F.col("y").cast("bigint").alias("label"),
        F.when(F.col("is_train"), "train").otherwise("test").alias("split"),
        F.round(p, 6).alias("score"),
        (p >= 0.5).cast("bigint").alias("pred"),
    )


@query(
    "cls2b_classifier_eval",
    oracle=None,  # scores come from cls2's iterative IRLS fit — not
    # SQL-expressible; the planted-concept pytest pins held-out
    # AUC ≈ 1 and the reliability-table invariants instead
    doc="cls2b quality-classifier EVALUATION — the measured readout a "
        "trained quality filter must ship with before it gates a "
        "corpus (r6/r7 verdict carry-item): cls2's HELD-OUT split "
        "(doc_id%2=1, never seen by the IRLS fit) scored and pushed "
        "through auc1's Mann-Whitney rank-sum AUC (midrank prefix "
        "sums over DISTINCT scores via the two-pass range-partition "
        "pattern — never a global sort of scored rows) and calib1's "
        "fixed-width 10-bin reliability table (per-bin "
        "mean score vs realized positive rate; the ece_contrib "
        "column sums to the Expected Calibration Error). One row "
        "per non-empty bin; the (auc, npos, nneg) verdict rides "
        "along as 1-row-broadcast columns. Null semantics (r8 "
        "advisor): a degenerate single-class split (npos or nneg = "
        "0, e.g. label drift) has no defined rank-sum AUC — auc is "
        "an EXPLICIT when()-guarded null with the class counts "
        "alongside showing why, never a silent 0/0. Scale: the scored "
        "relation is scanned twice (distinct-score agg, bin agg); "
        "everything after is |bins|-sized. This is the pattern for "
        "evaluating ANY scored gate in-engine: score → rank-sum AUC "
        "→ reliability, no collect.",
    tags=("text", "ml", "metric", "pipeline"),
)
def cls2b_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = pin(
        cls2_trained_classifier(spark, sf_dir).filter(F.col("split") == "test")
    )
    return classifier_readout_of(scored)


def classifier_readout_of(scored: DataFrame) -> DataFrame:
    """cls2b's AUC + reliability readout over any (score, label)
    relation — factored out so the degenerate-split guard is testable
    on a constructed single-class split (r8 advisor item)."""
    from .metrics import CALIB_BINS
    from .relational import global_prefix_agg

    # Mann-Whitney AUC over the held-out scores (auc1's relation)
    v = scored.groupBy("score").agg(
        F.count("*").alias("c"), F.sum("label").alias("cp")
    )
    p = global_prefix_agg(v, ["score"], [("c", "sum", "pfx")]).select(
        "score", "c", "cp", "pfx"
    )
    s = p.agg(
        F.sum(F.col("cp") * (F.col("pfx") + (F.col("c") + 1) / 2.0)).alias("sumr")
    )
    t = scored.agg(
        F.sum("label").alias("npos"), (F.count("*") - F.sum("label")).alias("nneg")
    )
    # degenerate-split guard (r8 advisor): a single-class held-out
    # split (npos or nneg = 0) has no defined rank-sum AUC — emit an
    # EXPLICIT null rather than letting the division produce NaN/null
    # silently; the (npos, nneg) columns ride along so the readout
    # shows WHY the verdict is null
    auc = F.when(
        (F.col("npos") > 0) & (F.col("nneg") > 0),
        (F.col("sumr") - F.col("npos") * (F.col("npos") + 1) / 2.0)
        / (F.col("npos") * F.col("nneg").cast("double")),
    )
    aucrow = t.crossJoin(F.broadcast(s)).select(
        F.col("npos").cast("bigint").alias("npos"),
        F.col("nneg").cast("bigint").alias("nneg"),
        F.round(auc, 6).alias("auc"),
    )
    # calib1's reliability bins over the same held-out scores
    b = scored.select(
        F.least(
            F.lit(CALIB_BINS - 1), F.floor(F.col("score") * CALIB_BINS).cast("int")
        ).alias("bin"),
        "score",
        F.col("label").alias("y"),
    )
    per = b.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.avg("score").alias("mean_score"),
        F.sum("y").alias("n_pos"),
        F.avg(F.col("y").cast("double")).alias("frac_pos"),
    )
    tot = per.agg(F.sum("n").alias("nn"))
    return (
        per.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(aucrow))
        .select(
            "bin",
            F.col("n").cast("bigint").alias("n"),
            F.round("mean_score", 6).alias("mean_score"),
            F.col("n_pos").cast("bigint").alias("n_pos"),
            F.round("frac_pos", 6).alias("frac_pos"),
            F.round(
                F.abs(F.col("mean_score") - F.col("frac_pos"))
                * F.col("n")
                / F.col("nn"),
                6,
            ).alias("ece_contrib"),
            "npos",
            "nneg",
            "auc",
        )
    )


# ---------------------------------------------------------------- dsir1

DSIR_BUCKETS = 2048   # hashed n-gram feature space (paper uses 10^4)
DSIR_K = 200          # selection budget — fixed, corpus-independent
DSIR_SCALE = 1_000_000  # log-ratios fixed to micro-units (exact int sums)
# Above this many docs the per-occurrence feature pin (see dsir1 body)
# downgrades to recompute — the pin scales with token count, and at
# large corpus sizes the extra scan is cheaper than the cache pressure.
DSIR_PIN_MAX_DOCS = int(os.environ.get("SPARK_GRAFT_DSIR_PIN_MAX_DOCS", "10000000"))


@query(
    "dsir1_importance_resample",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
        ),
        feats AS (
            SELECT doc_id, lang,
                   unnest(list_concat(
                       w,
                       list_transform(range(1, len(w)),
                                      i -> w[i] || ' ' || w[i + 1])
                   )) AS f
            FROM toks
        ),
        fb AS (
            SELECT doc_id, lang,
                   {md5i_sql('f')} % {DSIR_BUCKETS} AS bucket
            FROM feats
        ),
        bs AS (
            SELECT bucket,
                   CAST(count(*) AS BIGINT) AS rc,
                   CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS tc
            FROM fb GROUP BY bucket
        ),
        tot AS (
            SELECT CAST(sum(rc) AS BIGINT) AS tr, CAST(sum(tc) AS BIGINT) AS tt
            FROM bs
        ),
        lam AS (
            SELECT bucket,
                   CAST(round((ln((tc + 1.0) / (tt + {DSIR_BUCKETS}.0))
                             - ln((rc + 1.0) / (tr + {DSIR_BUCKETS}.0)))
                             * {DSIR_SCALE}) AS BIGINT) AS lam
            FROM bs CROSS JOIN tot
        ),
        sc AS (
            SELECT fb.doc_id, CAST(sum(lam) AS BIGINT) AS score
            FROM fb JOIN lam USING (bucket) GROUP BY fb.doc_id
        ),
        keyed AS (
            SELECT doc_id, score,
                   score + CAST(round(-ln(-ln(
                       ({md5i_sql('doc_id')} % {DSIR_SCALE} + 0.5)
                       / {DSIR_SCALE}.0))
                       * {DSIR_SCALE}) AS BIGINT) AS gkey
            FROM sc
        )
        SELECT k.doc_id, d.lang,
               k.score AS dsir_score_micro, k.gkey AS gumbel_key_micro
        FROM keyed k JOIN documents d USING (doc_id)
        ORDER BY k.gkey DESC, k.doc_id LIMIT {DSIR_K}
    """,
    doc=f"dsir1 Data Selection via Importance Resampling (Xie et al. "
        "2023, NeurIPS — the LLM-pretraining data-selection method): "
        "score every raw document by the log importance weight of a "
        "hashed-n-gram bag-of-features model between the TARGET "
        "distribution (here the lang='en' slice) and the RAW corpus, "
        "then Gumbel-top-k sample the selection (deterministic "
        f"portable-hash Gumbel noise). {DSIR_BUCKETS} hash buckets "
        "over unigrams+bigrams; add-one smoothing on both sides. "
        "Determinism contract (FIXTURES §4): each bucket's log-ratio "
        "is fixed to INTEGER micro-units once per bucket, so per-doc "
        "scores are exact integer sums — no float-summation-order "
        "drift between engines. Plan/scale (r13): ONE corpus-linear "
        "scan pins the raw (doc, lang, bucket) feature stream and "
        "NOTHING corpus-sized ever shuffles — bucket stats partial-"
        f"agg to ≤{DSIR_BUCKETS} rows/partition, doc scores "
        "broadcast-join λ and partial-agg to ~1 row/doc before the "
        "exchange (a doc's exploded features stay in its partition); "
        f"selection is TakeOrdered {DSIR_K} — no global sort, driver "
        "state is the fixed-size result. At 100 TB the λ table is "
        "still KBs. The ×100 probe (~21× for 100× data, SCALING.md) "
        "is the documented FLOOR: the residual cost is the corpus-"
        "linear per-token explode+hash scan itself, which no shuffle "
        "restructuring removes — DSIR must read every token once.",
    tags=("text", "pipeline", "ml"),
)
def dsir1_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = tokens(F.col("text"))
    n = F.size(w)
    bigrams = F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.zip_with(
            F.slice(w, 1, n - 1),
            F.slice(w, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    )
    # ONE corpus scan, ZERO corpus-sized shuffle (r13, verdict item
    # 5): the r12 plan shuffled per-(doc, lang, bucket) counts — but
    # that key is doc×bucket-grained, so map-side combine could never
    # shrink it below Σ_docs distinct_buckets(doc) rows, and NEITHER
    # consumer actually needs (doc, bucket) co-location: bucket stats
    # are bucket-keyed (partial agg caps at DSIR_BUCKETS rows per
    # partition) and doc scores are doc-keyed (a doc's exploded
    # features never leave its input partition, so partial agg emits
    # ~1 row per doc before the exchange). Pin the UNAGGREGATED
    # feature-bucket stream instead — both branches read it and each
    # aggregates straight to its own tiny shuffle. The pin is
    # modestly larger (per occurrence vs per distinct pair) but it is
    # STORAGE, not shuffle; ×100 probe rows in SCALING.md. r13
    # ADVICE: the per-occurrence pin grows with TOKEN count, so past
    # a corpus-size threshold it would evict other caches / spill —
    # above DSIR_PIN_MAX_DOCS docs (env SPARK_GRAFT_DSIR_PIN_MAX_DOCS)
    # the pin downgrades to recompute: both consumers re-run the
    # scan-bound explode+hash pass instead, trading one extra corpus
    # scan for zero cache pressure — the right trade exactly when the
    # corpus is huge. r15 (r14 verdict item 6): the decision reads the
    # parquet FOOTER row count (cached per sf_dir) instead of running
    # an eager d.count() job inside the timed region every invocation;
    # non-local sf_dir URIs (hdfs://, s3a://) fall back to the count()
    # job — correctness of the gate beats saving one job there.
    feats = (
        d.select("doc_id", "lang", F.explode(F.concat(w, bigrams)).alias("f"))
        .select("doc_id", "lang", (md5i(F.col("f")) % DSIR_BUCKETS).alias("bucket"))
    )
    try:
        n_docs = parquet_row_count(sf_dir, "documents")
    except (OSError, ValueError):  # pyarrow raises ArrowInvalid (ValueError) on URIs
        n_docs = d.count()
    if n_docs <= DSIR_PIN_MAX_DOCS:
        feats = pin(feats)
    bs = feats.groupBy("bucket").agg(
        F.count("*").alias("rc"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("tc"),
    )
    tot = bs.agg(F.sum("rc").alias("tr"), F.sum("tc").alias("tt"))
    lam = bs.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            (
                F.log((F.col("tc") + 1.0) / (F.col("tt") + float(DSIR_BUCKETS)))
                - F.log((F.col("rc") + 1.0) / (F.col("tr") + float(DSIR_BUCKETS)))
            )
            * DSIR_SCALE
        )
        .cast("bigint")
        .alias("lam"),
    )
    # per-occurrence Σλ ≡ Σ_b nf·λ_b exactly (integers; the count is
    # folded into row multiplicity)
    sc = (
        feats.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(F.sum("lam").alias("score"))
    )
    gumbel = F.round(
        -F.log(
            -F.log((md5i(F.col("doc_id")) % DSIR_SCALE + 0.5) / float(DSIR_SCALE))
        )
        * DSIR_SCALE
    ).cast("bigint")
    keyed = sc.select("doc_id", "score", (F.col("score") + gumbel).alias("gkey"))
    return (
        keyed.join(d.select("doc_id", "lang"), "doc_id")
        .orderBy(F.desc("gkey"), F.asc("doc_id"))
        .limit(DSIR_K)
        .select(
            "doc_id",
            "lang",
            F.col("score").alias("dsir_score_micro"),
            F.col("gkey").alias("gumbel_key_micro"),
        )
    )


# ---------------------------------------------------------------- lsplit1


@query(
    "lsplit1_leakage_safe_split",
    oracle=f"""
        WITH g AS (
            SELECT doc_id, lang,
                   min(doc_id) OVER (PARTITION BY md5(text)) AS group_rep
            FROM documents
        )
        SELECT doc_id, lang, group_rep,
               CASE WHEN {md5i_sql('group_rep')} % 10 < 8
                    THEN 'train' ELSE 'val' END AS split
        FROM g
    """,
    doc="lsplit1 leakage-safe train/val split: assign every document "
        "to a split by its exact-duplicate GROUP (min doc_id over the "
        "md5(text) partition), hashed 80/20 — duplicates can never "
        "straddle train and eval, the standard contamination guard "
        "when holding out eval data from a crawled corpus (same "
        "motivation as dc1's benchmark decontamination, applied to "
        "the split boundary itself). Deterministic portable-hash "
        "assignment, no RNG. Plan/scale: ONE shuffle on the text "
        "hash (exact-dup groups are bounded; the window computes a "
        "per-group min, i.e. a partial-aggregable shape), then a "
        "stateless hash projection — corpus-linear, no driver state. "
        "tests/test_curation_ops.py pins the no-straddle invariant "
        "and the ~80/20 group-level rate.",
    tags=("text", "pipeline"),
)
def lsplit1_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    grp = F.min("doc_id").over(Window.partitionBy(F.md5(F.col("text"))))
    return d.select(
        "doc_id", "lang", grp.alias("group_rep")
    ).withColumn(
        "split",
        F.when(md5i(F.col("group_rep")) % 10 < 8, F.lit("train")).otherwise(
            F.lit("val")
        ),
    )
