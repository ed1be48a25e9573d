"""Distributed BPE tokenizer training — the iterative-algorithm
pattern (driver-coordinated rounds over a distributed relation, like
dd6's label propagation and km1's Lloyd iterations) applied to the
tokenizer-induction step of a training-data pipeline.

Algorithm (Sennrich et al. 2016, the GPT-2/BPE shape): start from each
word as a character sequence, repeatedly (a) count adjacent symbol
pairs corpus-wide, (b) merge the most frequent pair everywhere. The
classical implementation is a single-machine dict loop; the
distributed re-expression:

- The working relation is the WORD VOCABULARY (distinct word, count),
  not the corpus: |vocab| rows regardless of corpus size (the corpus
  is scanned exactly once, for word counts). At 100 TB the vocab
  relation is ~10⁸ rows — comfortably distributed, laughably small
  next to the corpus.
- Each round's pair count is one explode + partial-aggregated groupBy;
  the argmax pair is a 1-row TakeOrdered to the driver (the only
  driver state: the merge table, k rows).
- The merge is applied as a pure array-fold EXPRESSION (greedy
  left-to-right, standard BPE semantics) — no UDF, no shuffle: the
  vocab relation keeps its partitioning across rounds.

No oracle: k-round iterative training is not ANSI-SQL-expressible
(the driver records a rows-only check); correctness is pinned by a
pure-Python BPE parity test on the same corpus
(tests/test_round3_ops.py::TestBPE).

Driver-loop BUDGET (r11 verdict item 6). Total cost decomposes as

    T ≈ scan(corpus)                       # once: explode + groupBy
      + R × round(|vocab|)                 # R = BPE_MERGES rounds

where round(|vocab|) = one pair-count aggregation over the vocab
relation (explode of per-word symbol pairs, map-side combined to
≤ |pairs| rows) + a 1-row TakeOrdered + the merge-fold projection +
an eager localCheckpoint of the vocab. Nothing in the round term
scales with the corpus — only with the DISTINCT-WORD count, which
grows sublinearly (Heaps' law; and is CONSTANT under replica
corpora). Measured: ×10 replicas 0.91×, ×100 replicas 0.60×
(SCALING.md probe tables — the scan is a small fraction, rounds
dominate and are flat, so the ratio FALLS as the corpus grows).
R itself is the knob that does not scale: at a production merge
count (30-50k, vs BPE_MERGES=8 here) a per-merge driver round is
30k sequential jobs — the correct 100 TB path is (a) train on a
bounded word-count SAMPLE (tokenizer induction needs ~10⁷-10⁸
words, not the corpus: exactly the subsample-fit pattern of
reduction.fit_pca) and/or (b) batch B merges per round by applying
all pairwise-non-overlapping top-B merges at once — both preserve
this module's relations; neither is needed at the demo's R=8.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..registry import query
from ..session import local_frame
from ..sources import load_table

BPE_MERGES = 8


def doc_words(d: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, w) word stream — THE word definition for this module
    (split on single space, drop empties). bpe1/bpe2 train on its
    distinct counts and bpe_encode_vocab expands per-doc totals from
    it; a single definition is what makes the vocab-quotient coverage
    contract ('the trained vocab covers the corpus') hold by
    construction."""
    return d.select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).filter(F.length("w") > 0)


def word_counts(d: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, wc) distinct word counts over the corpus — bpe_train's
    working relation, derived from :func:`doc_words`."""
    return doc_words(d, text_col).groupBy("w").agg(F.count("*").alias("wc"))


def _apply_merge(s: Column, a: str, b: str) -> Column:
    """Greedy left-to-right merge of adjacent (a, b) → a+b in a symbol
    array, as one aggregate fold (matches classical BPE: after "aaa"
    merges (a,a) the result is [aa, a], not [aa, aa])."""
    return F.aggregate(
        s,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(words: DataFrame, n_merges: int = BPE_MERGES) -> list[tuple]:
    """Train ``n_merges`` BPE merges over a (w, wc) word-count relation.

    Returns the merge table [(rank, sym_a, sym_b, merged, pair_count)].
    Ties break by (count desc, sym_a, sym_b) so the table is unique."""
    merges, _ = bpe_train_full(words, n_merges)
    return merges


def bpe_train_full(
    words: DataFrame, n_merges: int = BPE_MERGES
) -> tuple[list[tuple], DataFrame]:
    """bpe_train, ALSO returning the final (wc, s) vocab relation —
    the word vocabulary with every merge applied, i.e. each distinct
    word's trained tokenization. ``size(s)`` is the word's token
    count and ``array_join(s, '')`` reconstructs the word, so the
    ENCODE step can ride this relation instead of re-merging every
    word occurrence (bpe2's vocab quotient)."""
    # localCheckpoint per round: truncates both the growing lineage and
    # the per-round merge-fold expression stack (without it, round k's
    # plan re-carries every earlier round's aggregate fold — see
    # graph.pagerank for the exponential-analysis failure mode)
    vocab = words.select(
        "wc", F.split(F.col("w"), "").alias("s")
    ).localCheckpoint(eager=True)
    merges: list[tuple] = []
    for rank in range(n_merges):
        pairs = (
            vocab.select(
                "wc",
                F.explode(
                    F.when(
                        F.size("s") < 2, F.array().cast("array<struct<a:string,b:string>>")
                    ).otherwise(
                        F.zip_with(
                            F.slice("s", 1, F.size("s") - 1),
                            F.slice("s", 2, F.size("s") - 1),
                            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                        )
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("wc").alias("n"))
        )
        best = pairs.orderBy(F.desc("n"), F.asc("a"), F.asc("b")).limit(1).collect()
        if not best:
            break
        a, b, n = best[0]["a"], best[0]["b"], int(best[0]["n"])
        merges.append((rank, a, b, a + b, n))
        vocab = vocab.select(
            "wc", _apply_merge(F.col("s"), a, b).alias("s")
        ).localCheckpoint(eager=True)
    return merges, vocab


@query(
    "bpe1_train_merges",
    oracle=None,  # iterative training — rows-only + python parity test
    doc=f"bpe1 distributed BPE tokenizer training ({BPE_MERGES} merge "
        "rounds, Sennrich-style): word-count relation → per-round "
        "corpus-wide adjacent-pair counts (explode + partial-agg "
        "groupBy) → 1-row argmax to the driver → merge applied as an "
        "array-fold expression. The working relation is the word "
        "VOCAB (corpus-size-independent after the single word-count "
        "scan); driver state is the k-row merge table. The iterative-"
        "rounds pattern shared with dd6/km1; rows-only check, pinned "
        "by a pure-Python BPE parity test.",
    tags=("text", "pipeline"),
)
def bpe1_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    merges = bpe_train(word_counts(d))
    return local_frame(
        spark,
        merges, "rank int, sym_a string, sym_b string, merged string, pair_count bigint"
    )

# ---------------------------------------------------------------- bpe2

def py_apply_merge(sym: list, a: str, b: str) -> list:
    """Greedy left-to-right merge of adjacent (a, b) → a+b — the pure-
    Python twin of _apply_merge (same semantics, used by the encoder
    and by the training parity tests)."""
    out: list = []
    for x in sym:
        if out and out[-1] == a and x == b:
            out[-1] = a + b
        else:
            out.append(x)
    return out


def bpe_encode(d: DataFrame, merges: list[tuple], text_col: str = "text") -> DataFrame:
    """Encode a document relation with a trained merge table: split to
    words → chars, apply the merges in rank order (Sennrich apply
    semantics, matching bpe_train's fold), emit per-doc token stats.

    Scale shape: the model is the k-row merge table — broadcast once —
    and encoding is embarrassingly parallel per document, one Arrow-
    batched mapInPandas pass over the corpus with zero shuffles. This
    is the tokenize step every training-data pipeline runs after
    induction; at 100 TB it is scan-bound, exactly as it should be."""
    import pandas as pd  # noqa: F401

    table = [(m[1], m[2]) for m in sorted(merges, key=lambda m: m[0])]
    sc = d.sparkSession.sparkContext
    bc = sc.broadcast(table)

    def encode(batches):
        import pandas as pd

        tbl = bc.value
        for pdf in batches:
            n_tokens, n_chars = [], []
            for text in pdf[text_col]:
                total = 0
                chars = 0
                for w in (text or "").split(" "):
                    if not w:
                        continue
                    s = list(w)
                    chars += len(s)
                    for a, b in tbl:
                        s = py_apply_merge(s, a, b)
                    total += len(s)
                n_tokens.append(total)
                n_chars.append(chars)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "n_tokens": n_tokens, "n_chars": n_chars}
            )

    return d.select("doc_id", text_col).mapInPandas(
        encode, schema="doc_id bigint, n_tokens bigint, n_chars bigint"
    )


def bpe_encode_vocab(
    d: DataFrame,
    final_vocab: DataFrame,
    text_col: str = "text",
    check_coverage: bool = False,
) -> DataFrame:
    """Encode via the VOCAB QUOTIENT: per-word token counts come from
    the trained vocab relation itself (``size(s)`` of the final
    symbol arrays — the merges were already applied there, once per
    DISTINCT word), and per-doc totals are arithmetic expansion:
    explode docs to words, equi-join the word→token-count table,
    sum per doc. Value-identical to :func:`bpe_encode` (pinned by
    tests/test_round3_ops.py::TestBPEEncode parity) because both
    paths apply identical merge semantics per word and a word's
    tokenization is position-independent.

    Scale shape: the Python/JVM merge work is |distinct words|
    (Heaps-sublinear in corpus size; CONSTANT under replica growth),
    while the corpus-side work is a JVM explode + broadcast join +
    map-side-combined sum — scan-bound, zero Python in the corpus
    pass. The r12 per-occurrence encoder re-merged every word
    OCCURRENCE (×10 sweep row 18.2 s, ~16 s of it Python re-merge);
    this is the dedup family's exact-collapse move applied to
    tokenization. At 100 TB a 10⁸-row vocab outgrows broadcast —
    flip the hint to a shuffle hash join on ``w``; everything else
    holds.

    Contract: ``final_vocab`` must COVER the corpus's words — true
    by construction when it was trained on the same corpus (bpe2's
    case). Words absent from the vocab drop out of the inner join
    (they would contribute nothing to n_tokens/n_chars); to encode a
    DIFFERENT corpus with a trained merge table, use
    :func:`bpe_encode`, which tokenizes any word. Pass
    ``check_coverage=True`` to enforce the contract (r13 ADVICE): a
    distinct-word anti-join count runs before the corpus pass and a
    non-zero miss raises instead of silently undercounting. The
    check costs one extra distinct-word-sized join, so it is off in
    the hot path and on in tests."""
    wtok = final_vocab.select(
        F.array_join("s", "").alias("w"), F.size("s").alias("n_tok")
    )
    if check_coverage:
        missed = (
            doc_words(d, text_col)
            .select("w")
            .distinct()
            .join(F.broadcast(wtok.select("w")), "w", "left_anti")
            .limit(5)
            .collect()
        )
        if missed:
            raise ValueError(
                "bpe_encode_vocab coverage contract violated: corpus words "
                f"absent from final_vocab, e.g. {[r['w'] for r in missed]}; "
                "train the vocab on this corpus or use bpe_encode()"
            )
    per_doc = (
        doc_words(d, text_col).join(F.broadcast(wtok), "w")
        .groupBy("doc_id")
        .agg(
            F.sum("n_tok").alias("n_tokens"),
            F.sum(F.length("w")).alias("n_chars"),
        )
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_chars", F.lit(0)).cast("long").alias("n_chars"),
        )
    )


@query(
    "bpe2_encode_corpus",
    oracle=None,  # encoder rides the trained (non-SQL) merge table; invariant tests
    doc="bpe2 BPE ENCODE (bpe1's apply step): train the merge table "
        "on the corpus word counts, then per-doc token/char counts "
        "via the VOCAB QUOTIENT (bpe_encode_vocab): the trained "
        "vocab's final symbol arrays already carry every distinct "
        "word's token count, so the corpus pass is a pure-JVM "
        "explode + broadcast join + sum — the per-occurrence Python "
        "re-merge the r12 encoder ran is gone (×10: 18.2 s → see "
        "SCALING.md). Value-parity with the direct per-occurrence "
        "encoder (bpe_encode) is pinned per doc_id by "
        "TestBPEEncode::test_vocab_quotient_matches_direct_encoder; "
        "the older cross-implementation invariant (Python encoder "
        "total == JVM fold vocab total) still runs against "
        "bpe_encode itself.",
    tags=("text", "pipeline", "udf"),
)
def bpe2_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    _merges, final_vocab = bpe_train_full(word_counts(d))
    return bpe_encode_vocab(d, final_vocab).orderBy("doc_id")
