"""Semantics + plan shape for the round-2 curation operators:
cls1 (hashed linear classifier), mw3 (token-budget packing),
dd9 (incremental batch-vs-corpus dedup), chunk1, ngram1, prof1."""

from __future__ import annotations

from pyspark.sql import functions as F

from reduction_dask_spark.operators.dedup import dd9_incremental_dedup
from reduction_dask_spark.operators.pipeline import prof1_column_profile
from reduction_dask_spark.operators.text import (
    CHUNK_STRIDE,
    CHUNK_TOKENS,
    TOKEN_BUDGET,
    chunk1_token_chunks,
    cls1_quality_classifier,
    mw3_token_budget_pack,
    ngram1_top_bigrams,
)
from reduction_dask_spark.plans import simple_plan

from .conftest import SF_SMALL


def test_cls1_margin_bounds_and_keep_flag(spark):
    rows = cls1_quality_classifier(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        # weights lie on [-1, 1] => |lattice score| <= 1024 * n_tokens
        assert abs(r["score_x1024"]) <= 1024 * r["n_tokens"]
        assert r["keep"] == (1 if r["score_x1024"] >= 0 else 0)


def test_cls1_is_map_only(spark):
    """The classifier is a scan-speed expression: no shuffle at all."""
    plan = simple_plan(cls1_quality_classifier(spark, SF_SMALL))
    assert "Exchange" not in plan


def test_cls1_deterministic(spark):
    a = {r["doc_id"]: r["score_x1024"] for r in cls1_quality_classifier(spark, SF_SMALL).collect()}
    b = {r["doc_id"]: r["score_x1024"] for r in cls1_quality_classifier(spark, SF_SMALL).collect()}
    assert a == b


def test_mw3_budget_respected_per_source(spark):
    """Every admitted doc STARTS under the budget; cumulative overshoot
    is bounded by one document."""
    rows = mw3_token_budget_pack(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r["cum_tokens"] - r["n_tokens"] < TOKEN_BUDGET
    # at least one source hits (or approaches) its quota ⇒ op filters
    src_tot = {}
    for r in rows:
        src_tot[r["source"]] = max(src_tot.get(r["source"], 0), r["cum_tokens"])
    assert all(t - TOKEN_BUDGET < 200 for t in src_tot.values())


def test_mw3_no_global_window(spark):
    """The running sum must be keyed by source (never a global window)."""
    from reduction_dask_spark.plans import EMPTY_PARTITION_WINDOW, shape

    assert shape(mw3_token_budget_pack(spark, SF_SMALL))[EMPTY_PARTITION_WINDOW] == 0


def test_dd9_fresh_disjoint_from_corpus(spark):
    from reduction_dask_spark.operators.dedup import prefix_fingerprint
    from reduction_dask_spark.sources import load_table

    out = dd9_incremental_dedup(spark, SF_SMALL)
    got = out.collect()
    assert got
    # survivors come from the batch slice only
    assert all(r["keep_doc_id"] % 5 == 0 for r in got)
    # and never collide with a corpus fingerprint
    d = load_table(spark, SF_SMALL, "documents")
    corpus_fps = {
        r["fp"]
        for r in d.filter(F.col("doc_id") % 5 != 0)
        .select(prefix_fingerprint(F.col("text")).alias("fp"))
        .distinct()
        .collect()
    }
    assert all(r["fingerprint"] not in corpus_fps for r in got)


def test_chunk1_reconstructs_short_docs(spark):
    """A doc shorter than one chunk yields exactly one chunk == the doc."""
    from reduction_dask_spark.sources import load_table

    out = chunk1_token_chunks(spark, SF_SMALL)
    docs = load_table(spark, SF_SMALL, "documents")
    short = (
        docs.select("doc_id", "text", F.size(F.split("text", " ")).alias("n"))
        .filter(F.col("n") <= CHUNK_STRIDE)
    )
    joined = short.join(out, "doc_id").collect()
    assert joined
    for r in joined:
        assert r["chunk_id"] == 0
        assert r["chunk_text"] == r["text"]


def test_chunk1_stride_overlap(spark):
    """Consecutive chunks of a long doc overlap by CHUNK_TOKENS-CHUNK_STRIDE."""
    out = chunk1_token_chunks(spark, SF_SMALL)
    rows = sorted(
        (r for r in out.collect()),
        key=lambda r: (r["doc_id"], r["chunk_id"]),
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    multi = next(c for c in by_doc.values() if len(c) >= 2)
    a, b = multi[0], multi[1]
    a_toks, b_toks = a["chunk_text"].split(" "), b["chunk_text"].split(" ")
    overlap = CHUNK_TOKENS - CHUNK_STRIDE
    assert a_toks[CHUNK_STRIDE:] == b_toks[:overlap]


def test_ngram1_counts_match_manual(spark):
    from reduction_dask_spark.sources import load_table

    top = ngram1_top_bigrams(spark, SF_SMALL).collect()
    assert top and all(top[i]["n"] >= top[i + 1]["n"] for i in range(len(top) - 1))
    # manual recount of the #1 bigram
    docs = load_table(spark, SF_SMALL, "documents").select("text").collect()
    from collections import Counter

    c = Counter()
    for r in docs:
        t = r["text"].split(" ")
        c.update(" ".join(p) for p in zip(t, t[1:]))
    best = top[0]
    assert c[best["ngram"]] == best["n"]
    assert best["n"] == max(c.values())


def test_prof1_single_scan_agg(spark):
    """All per-column stats come from ONE aggregate over one scan."""
    plan = simple_plan(prof1_column_profile(spark, SF_SMALL))
    assert plan.count("Scan parquet") == 1
    rows = {r["col_name"]: r for r in prof1_column_profile(spark, SF_SMALL).collect()}
    q = rows["l_quantity"]
    assert q["min_val"] >= 1.0 and q["max_val"] <= 50.0
    assert q["n_distinct"] == 50


def containment_pairs_full(spark, sf_dir):
    """The UN-collapsed directed containment pair set — dd2b's original
    contract, kept as the small-scale agreement baseline only. Not
    registered: under a k-way duplicate load the answer itself is
    O(k²) per group (the ×10 probe measured 155 s / 28.5× — the r5
    registry's slowest), so the full form is a scale-killer BY
    CONTRACT, not by plan."""
    from reduction_dask_spark.caching import pin
    from reduction_dask_spark.operators.dedup import CONTAIN_TAU, shingle_table

    sh = pin(shingle_table(spark, sf_dir))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
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
    cont = F.col("ninter").cast("double") / F.col("na")
    return (
        inter.join(sa, "doc_a")
        .filter(cont >= CONTAIN_TAU)
        .select("doc_a", "doc_b", F.round(cont, 6).alias("containment"))
    )


def test_dd2b_weighted_quotient_expands_to_full_pairs(spark):
    """The weighted representative-pair contract (r6) carries full
    information of the uncollapsed directed containment pair set:
    expanding each rep pair by its duplicate groups — and each
    doc_a = doc_b row into the m*(m-1) within-group ordered pairs —
    reproduces containment_pairs_full exactly."""
    from collections import defaultdict

    from reduction_dask_spark.operators.dedup import dd2b_containment_pairs
    from reduction_dask_spark.sources import load_table

    weighted = dd2b_containment_pairs(spark, SF_SMALL).collect()
    full = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in containment_pairs_full(spark, SF_SMALL).collect()
    }
    groups = defaultdict(list)
    fp_rows = (
        load_table(spark, SF_SMALL, "documents")
        .select("doc_id", F.md5("text").alias("fp"))
        .collect()
    )
    rep_of = {}
    for r in fp_rows:
        groups[r["fp"]].append(r["doc_id"])
    members = {}
    for fp, ids in groups.items():
        members[min(ids)] = sorted(ids)

    expanded = {}
    n_claimed = 0
    for r in weighted:
        a, b, c, n = r["doc_a"], r["doc_b"], r["containment"], r["n_pairs"]
        n_claimed += n
        if a == b:
            ids = members[a]
            assert n == len(ids) * (len(ids) - 1)
            for x in ids:
                for y in ids:
                    if x != y:
                        expanded[(x, y)] = c
        else:
            assert n == len(members[a]) * len(members[b])
            for x in members[a]:
                for y in members[b]:
                    expanded[(x, y)] = c
    assert expanded == full
    assert n_claimed == len(full)


def test_deval1_quotient_equals_full_corpus_eval(spark):
    """The weighted-quotient P/R/F1 (r6 contract) must EQUAL the
    uncollapsed full-corpus evaluation — the quotient argument made
    executable: every count deval1 reports is re-derived here by
    materializing the full pair sets of truth and all three methods."""
    from reduction_dask_spark.operators.dedup import (
        JACCARD_TAU,
        dd3_minhash_lsh_dedup,
        dd4_simhash_dedup,
        dd10_prefix_filter_pairs,
        deval1_dedup_quality,
        jaccard_pairs,
        shingle_table,
    )

    got = {r["method"]: r for r in deval1_dedup_quality(spark, SF_SMALL).collect()}
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_pairs(
            shingle_table(spark, SF_SMALL).persist(), tau=JACCARD_TAU
        ).collect()
    }
    full = {
        "minhash_lsh": dd3_minhash_lsh_dedup(spark, SF_SMALL),
        "simhash": dd4_simhash_dedup(spark, SF_SMALL),
        "prefix_filter": dd10_prefix_filter_pairs(spark, SF_SMALL),
    }
    for name, df in full.items():
        pred = {(r["doc_a"], r["doc_b"]) for r in df.collect()}
        n_pred, n_true, tp = len(pred), len(truth), len(pred & truth)
        row = got[name]
        assert (row["n_pred"], row["n_true"], row["tp"]) == (n_pred, n_true, tp), name
        p = tp / n_pred if n_pred else 0.0
        rcl = tp / n_true if n_true else 0.0
        assert abs(row["precision"] - round(p, 6)) < 1e-9
        assert abs(row["recall"] - round(rcl, 6)) < 1e-9


def test_dc2_planted_contamination_detected(spark):
    """Non-vacuous dc2 evidence (r5 verdict item 4): plant a lightly
    edited benchmark document in the corpus split and assert the fuzzy
    decontamination pass reports exactly that pair, with the exact
    shingle-Jaccard, and nothing else."""
    from reduction_dask_spark.operators.dedup import (
        BENCH_MOD,
        DECON_FUZZY_TAU,
        K_SHINGLE,
        fuzzy_decontam_of,
    )

    bench_tokens = [f"tok{i}" for i in range(40)]
    # light edit: replace one interior token -> 3 of 38 shingles differ
    leaked_tokens = list(bench_tokens)
    leaked_tokens[20] = "EDITED"
    rows = [
        (BENCH_MOD, " ".join(bench_tokens)),          # benchmark item
        (2 * BENCH_MOD, "totally different benchmark text about nothing "
                        "in particular with many unrelated words here"),
        (5, " ".join(leaked_tokens)),                 # planted leak
        (6, "an unrelated corpus document discussing completely other "
            "topics with no overlap whatsoever to the benchmark set"),
        (7, "yet another clean corpus document full of its own words "
            "and phrases that share nothing with the held out items"),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = fuzzy_decontam_of(d).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["doc_id"], r["matched_bench_id"]) == (5, BENCH_MOD)

    # exact shingle-Jaccard of the planted pair, recomputed in python
    def shingles(toks):
        return {
            " ".join(toks[i : i + K_SHINGLE])
            for i in range(len(toks) - K_SHINGLE + 1)
        }

    sa, sb = shingles(leaked_tokens), shingles(bench_tokens)
    expected = len(sa & sb) / len(sa | sb)
    assert expected >= DECON_FUZZY_TAU  # the plant is above threshold
    assert abs(r["jaccard"] - round(expected, 6)) < 1e-9

    # and an edit heavy enough to fall below tau is NOT reported
    heavy = [t if i % 2 else "X%d" % i for i, t in enumerate(bench_tokens)]
    d2 = spark.createDataFrame(
        rows + [(9, " ".join(heavy))], "doc_id bigint, text string"
    )
    got2 = {(r["doc_id"], r["matched_bench_id"]) for r in fuzzy_decontam_of(d2).collect()}
    assert got2 == {(5, BENCH_MOD)}


def test_rep1_planted_repetition_flags(spark):
    """Gopher repetition rules on planted documents: a 2-gram loop, a
    3-gram loop, a duplicated-5-gram passage, and a clean document
    each trip exactly the expected flags."""
    from reduction_dask_spark.operators.dedup import K_SHINGLE  # noqa: F401
    from reduction_dask_spark.operators.text import (
        rep1_repetition_rules,
        repetition_flags_of,
    )

    clean = " ".join(f"w{i}" for i in range(40))
    # "ha ha ha ..." : top 2-gram ("ha ha") covers ~everything
    loop2 = " ".join(["ha"] * 30)
    # abc abc abc...: the top 3-gram repeats heavily
    loop3 = " ".join(["a", "b", "c"] * 10)
    # a 10-token passage repeated twice inside otherwise-unique text:
    # its 5-grams occur twice -> 20+ of 60 positions covered
    passage = " ".join(f"p{i}" for i in range(10))
    dup5 = " ".join(
        [passage] + [f"u{i}" for i in range(20)] + [passage] + [f"v{i}" for i in range(20)]
    )
    d = spark.createDataFrame(
        [(1, clean), (2, loop2), (3, loop3), (4, dup5)],
        "doc_id bigint, text string",
    )
    flags = {r["doc_id"]: r for r in repetition_flags_of(d).collect()}
    assert (flags[1]["f_top2"], flags[1]["f_top3"], flags[1]["f_dup5"]) == (0, 0, 0)
    assert flags[2]["f_top2"] == 1 and flags[2]["f_dup5"] == 1
    assert flags[3]["f_top3"] == 1
    assert flags[4]["f_dup5"] == 1
    # dup5's most frequent 2-gram appears twice in 60 tokens: passes
    assert flags[4]["f_top2"] == 0

    # registry query returns the 3-rule attribution shape
    rows = {r["rule"]: r for r in rep1_repetition_rules(spark, SF_SMALL).collect()}
    assert set(rows) == {"top_2gram", "top_3gram", "dup_5gram"}
    n_surv = next(iter(rows.values()))["n_survivors"]
    for r in rows.values():
        assert 0 <= r["n_sole_fail"] <= r["n_fail"]
        assert r["n_survivors"] == n_surv


def test_dd11_exact_substring_spans_brute_force_parity(spark):
    """Seed-and-extend must recover EXACTLY the maximal cross-doc
    token matches >= ES_MIN_LEN that a brute-force diagonal scan
    finds — including a passage planted at a deliberately misaligned
    offset (the case dd8's fixed-grid chunk hashing cannot see)."""
    from reduction_dask_spark.operators.dedup import (
        ES_MIN_LEN,
        exact_substring_spans_of,
    )

    passage = [f"p{i}" for i in range(12)]  # 12-token shared passage
    docs = {
        1: [f"a{i}" for i in range(7)] + passage + [f"a{i}" for i in range(7, 20)],
        # planted at offset 3 (not a multiple of the anchor stride 5)
        2: [f"b{i}" for i in range(3)] + passage + [f"b{i}" for i in range(3, 25)],
        3: [f"c{i}" for i in range(30)],                      # clean
        4: passage[:8] + [f"d{i}" for i in range(20)],        # 8 < 9: below threshold
        5: [f"e{i}" for i in range(5)] + passage + [f"e{i}" for i in range(5, 10)],
    }
    d = spark.createDataFrame(
        [(k, " ".join(v)) for k, v in docs.items()], "doc_id bigint, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"], r["start_a"], r["start_b"], r["match_len"])
        for r in exact_substring_spans_of(d).collect()
    }

    def brute(a, b):
        out = set()
        for diag in range(-len(b) + 1, len(a)):
            i = max(0, diag)
            j = i - diag
            run = 0
            while i <= len(a) and j <= len(b):
                if i < len(a) and j < len(b) and a[i] == b[j]:
                    run += 1
                else:
                    if run >= ES_MIN_LEN:
                        out.add((i - run, j - run, run))
                    run = 0
                i += 1
                j += 1
        return out

    want = set()
    ids = sorted(docs)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            for sa, sb, ln in brute(docs[ids[x]], docs[ids[y]]):
                want.add((ids[x], ids[y], sa, sb, ln))
    assert got == want
    # the misaligned plant was found with its exact extent
    assert (1, 2, 7, 3, 12) in got
    # and the sub-threshold 8-token overlap was not reported
    assert not any(a == 1 and b == 4 for a, b, *_ in got)


def test_dd11b_removal_matches_python_recompute(spark):
    """Span removal on the dd11 fixture: the cleaned-text fingerprint
    equals a python recompute that merges the brute-force spans and
    cuts them from the higher-id document."""
    import hashlib

    from reduction_dask_spark.operators.dedup import (
        ES_MIN_LEN,
        exact_substring_spans_of,
        substring_removal_of,
    )

    passage = [f"p{i}" for i in range(12)]
    docs = {
        1: [f"a{i}" for i in range(7)] + passage + [f"a{i}" for i in range(7, 20)],
        2: [f"b{i}" for i in range(3)] + passage + [f"b{i}" for i in range(3, 25)],
        # doc 3 repeats the passage twice -> two removal intervals
        3: passage + [f"c{i}" for i in range(5)] + passage,
        4: [f"d{i}" for i in range(30)],
    }
    d = spark.createDataFrame(
        [(k, " ".join(v)) for k, v in docs.items()], "doc_id bigint, text string"
    )
    spans = [
        (r["doc_a"], r["doc_b"], r["start_a"], r["start_b"], r["match_len"])
        for r in exact_substring_spans_of(d).collect()
    ]
    got = {r["doc_id"]: r for r in substring_removal_of(d).collect()}

    # python recompute: merge intervals on the doc_b side
    from collections import defaultdict

    iv = defaultdict(list)
    for _, b, _, sb, ln in spans:
        iv[b].append((sb, sb + ln))
    want = {}
    for doc, ints in iv.items():
        ints.sort()
        merged = []
        for s0, e0 in ints:
            if merged and s0 <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e0))
            else:
                merged.append((s0, e0))
        toks = docs[doc]
        keep = [
            t for i, t in enumerate(toks)
            if not any(s0 <= i < e0 for s0, e0 in merged)
        ]
        want[doc] = (
            len(toks),
            sum(e0 - s0 for s0, e0 in merged),
            hashlib.md5(" ".join(keep).encode()).hexdigest(),
        )
    assert set(got) == set(want)
    for doc, (n, rem, fp) in want.items():
        r = got[doc]
        assert (r["n_tokens"], r["n_removed"], r["clean_fp"]) == (n, rem, fp), doc
    # doc 1 (lowest id of every pair) is never edited; doc 4 untouched
    assert 1 not in got and 4 not in got
    # doc 3 lost both copies of the passage
    assert got[3]["n_removed"] >= 2 * len(passage)


def test_shuf1_partitioning_invariance_and_epoch_permutation(spark):
    """The shuffle order is a pure function of (epoch, doc_id) — the
    SAME sequence must come back under a different shuffle-partition
    count (global_rank's two-pass rank may not depend on where range
    boundaries land), and the two epochs must be different permutations
    of the same doc set."""
    from reduction_dask_spark.operators.pipeline import SHUF_EPOCHS, shuf1_epoch_shuffle

    base = sorted(
        (r["global_pos"], r["epoch"], r["doc_id"])
        for r in shuf1_epoch_shuffle(spark, SF_SMALL).collect()
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        alt = sorted(
            (r["global_pos"], r["epoch"], r["doc_id"])
            for r in shuf1_epoch_shuffle(spark, SF_SMALL).collect()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert base == alt

    n = len(base) // SHUF_EPOCHS
    assert [p for p, _, _ in base] == list(range(1, len(base) + 1))
    orders = {}
    for e in range(SHUF_EPOCHS):
        seg = [d for _, ep, d in base if ep == e]
        assert sorted(seg) == sorted({d for _, _, d in base})  # full corpus each epoch
        assert len(seg) == n
        orders[e] = seg
    assert orders[0] != orders[1]  # the seed actually re-permutes


def test_bkt1_waste_arithmetic_and_coverage(spark):
    from reduction_dask_spark.operators.pipeline import BKT_WIDTH, bkt1_length_buckets
    from reduction_dask_spark.sources import load_table

    rows = bkt1_length_buckets(spark, SF_SMALL).collect()
    assert rows
    total_docs = 0
    for r in rows:
        assert r["pad_to"] % BKT_WIDTH == 0 and r["pad_to"] >= BKT_WIDTH
        assert r["pad_waste"] == r["n_docs"] * r["pad_to"] - r["n_tokens"]
        # every doc in the bucket is within (pad_to - BKT_WIDTH, pad_to]
        assert 0 <= r["pad_waste"] < r["n_docs"] * BKT_WIDTH
        assert 0.0 <= r["waste_frac"] < 1.0
        total_docs += r["n_docs"]
    assert total_docs == load_table(spark, SF_SMALL, "documents").count()


def test_dc3_planted_span_contamination_detected(spark):
    """Non-vacuous dc3 evidence (r7 verdict item 2): quote a benchmark
    passage INSIDE a long corpus document at an unaligned offset —
    the case dc2's whole-document Jaccard dilutes below tau — and
    assert the span pass reports exactly that (doc, bench) span with
    the right coordinates; clean documents stay unreported; exact
    duplicates of the contaminated host are each reported."""
    from reduction_dask_spark.operators.dedup import (
        BENCH_MOD,
        DECON_FUZZY_TAU,
        ES_MIN_LEN,
        K_SHINGLE,
        fuzzy_decontam_of,
        span_decontam_of,
    )

    bench_tokens = [f"b{i}" for i in range(20)]          # the eval item
    host_pad_l = [f"l{i}" for i in range(80)]
    host_pad_r = [f"r{i}" for i in range(80)]
    # 80 IS a multiple of ES_ANCHOR (5) — truncating the pad to 77
    # puts the quote at an UNALIGNED offset, which a grid-on-both-
    # sides index would miss; the one-sided dense benchmark index
    # must not (do not delete the truncation: aligned offsets would
    # pass even with the buggy indexing)
    assert 80 % 5 == 0
    host_pad_l = host_pad_l[:77]                         # offset 77, unaligned
    host = host_pad_l + bench_tokens + host_pad_r
    rows = [
        (BENCH_MOD, " ".join(bench_tokens)),             # benchmark item
        (2 * BENCH_MOD, "wholly unrelated benchmark text with its own words"),
        (10, " ".join(host)),                            # contaminated host
        (11, " ".join(host)),                            # exact dup of host
        (12, " ".join(f"c{i}" for i in range(60))),      # clean corpus doc
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")

    got = span_decontam_of(d).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # both the host and its exact duplicate are reported, nothing else
    assert set(by_doc) == {10, 11}
    for doc_id in (10, 11):
        spans = by_doc[doc_id]
        assert len(spans) == 1
        s = spans[0]
        assert s["bench_id"] == BENCH_MOD
        assert s["start_doc"] == 77
        assert s["start_bench"] == 0
        assert s["match_len"] == len(bench_tokens)
        assert s["match_len"] >= ES_MIN_LEN

    # the dilution premise itself: dc2's whole-document Jaccard on the
    # same plant sits BELOW its tau (the long host swamps the quote),
    # so dc2 alone would pass this contamination through
    def shingles(toks):
        return {
            " ".join(toks[i : i + K_SHINGLE])
            for i in range(len(toks) - K_SHINGLE + 1)
        }

    sa, sb = shingles(host), shingles(bench_tokens)
    assert len(sa & sb) / len(sa | sb) < DECON_FUZZY_TAU
    assert {r["doc_id"] for r in fuzzy_decontam_of(d).collect()} == set()

    # negative control: with the quote excised the host is clean
    d2 = spark.createDataFrame(
        [rows[0], rows[1], (10, " ".join(host_pad_l + host_pad_r)), rows[4]],
        "doc_id bigint, text string",
    )
    assert span_decontam_of(d2).count() == 0


def test_lsplit1_no_straddle_and_rate(spark):
    """Leakage guard: every exact-duplicate group lands wholly in one
    split, and the group-level split rate is ~80/20."""
    from reduction_dask_spark.operators.text import lsplit1_leakage_safe_split

    pdf = lsplit1_leakage_safe_split(spark, SF_SMALL).toPandas()
    per_group = pdf.groupby("group_rep")["split"].nunique()
    assert (per_group == 1).all()
    rate = (
        pdf.drop_duplicates("group_rep")["split"].eq("train").mean()
    )
    assert 0.65 <= rate <= 0.92, rate


def test_dsir1_selects_toward_target(spark):
    """DSIR importance weights are fit for the lang='en' target: the
    selected set must be enriched in 'en' relative to the raw corpus,
    and the selection is deterministic."""
    from reduction_dask_spark.operators.text import (
        DSIR_K,
        dsir1_importance_resample,
    )

    a = dsir1_importance_resample(spark, SF_SMALL).toPandas()
    assert len(a) == DSIR_K
    import pandas as pd

    corpus = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    base_en = (corpus["lang"] == "en").mean()
    sel_en = (a["lang"] == "en").mean()
    assert sel_en > base_en, (sel_en, base_en)
    b = dsir1_importance_resample(spark, SF_SMALL).toPandas()
    assert a.equals(b)


def test_dsir1_pin_downgrade_is_value_identical(spark, monkeypatch):
    """r13 ADVICE pin: above DSIR_PIN_MAX_DOCS the per-occurrence
    feature pin downgrades to recompute (two scans, zero cache
    pressure) — the downgraded path must produce the exact same
    selection."""
    from reduction_dask_spark.operators import text as text_mod

    pinned = text_mod.dsir1_importance_resample(spark, SF_SMALL).toPandas()
    monkeypatch.setattr(text_mod, "DSIR_PIN_MAX_DOCS", 0)
    unpinned = text_mod.dsir1_importance_resample(spark, SF_SMALL).toPandas()
    assert pinned.equals(unpinned)
