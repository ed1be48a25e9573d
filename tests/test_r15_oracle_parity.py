"""Adversarial-corpus parity for the late-r15 oracle conversions.

tests/test_oracle.py already pins every oracle against DuckDB on the
shipped sf0.001 corpus; these tests drive the late-r15 conversions
(iso1, gr3, mm2, mm6 — plus mm3/mm4, added when their registered
outputs became hex witnesses) against synthetic corpora that hit
the branches the shipped testdata never reaches:

- gr3's recursive peel: a near-dup PATH whose final peel round kills
  every remaining node at once (the EXISTS nobody-died guard ends the
  recursion with a non-empty last layer that the final deg>=k sweep
  must empty), plus the clique/capped/short-doc shapes.
- iso1's minimax PAV: tied scores carrying MIXED labels (fractional
  tie-aggregated pool values — the weighted merge path), a constant
  label (one global pool -> exactly first+last emission), and a
  single distinct score (m=1 -> single-row model).
- mm2's hex-nibble histogram: empty payloads (np.histogram's
  unnormalized zeros), multi-byte UTF-8 (bytes > 0x7f), and texts
  spanning many nibble bins.
- mm6's fold-replication: end-to-end over synthetic float32
  embeddings (the array<float> -> double widening both engines share).
- mm3's frame slicing: empty/one-stride/stride+1/capped payloads and
  multibyte codepoints STRADDLING the 64-byte frame boundary.
- mm4's resize: both branches (<= / > THUMB_BYTES), empty and 1-byte
  payloads, and the np.linspace y[-1] = stop endpoint pin.
"""

from __future__ import annotations

import duckdb

from tests.parity_util import assert_oracle_parity


def _write(tmp_path, tables):
    """Write `tables` (name -> Spark DF) with plain parquet writes, so
    Spark reads several part files as several partitions and has to
    match DuckDB across partial aggregates and float-addition order."""
    for t, df in tables.items():
        df.write.mode("overwrite").parquet(str(tmp_path / f"{t}.parquet"))


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


# ---------------------------------------------------------------- gr3

# The gr3 oracle's materialization-hint choice (MATERIALIZED sh, plain
# e) is pinned to this DuckDB release: on 1.0.0, hinting BOTH makes the
# recursive peel silently return zero rows (graph.py:_gr3_oracle). The
# wholesale-death test below is the behavioral canary — it runs every
# pytest session, so a DuckDB upgrade that flips the quirk fails THERE
# (unpeeled-graph mismatch). This pin turns that failure into a
# diagnosis: if it trips first, re-adjudicate the hint choice before
# blaming the engine.
GATE_DUCKDB_VERSION = "1.0.0"


def test_duckdb_gate_version_pinned():
    assert duckdb.__version__ == GATE_DUCKDB_VERSION, (
        f"DuckDB {duckdb.__version__} != pinned {GATE_DUCKDB_VERSION}: the "
        "gr3 oracle's materialization hints are version-sensitive — re-run "
        "TestGr3OracleParity (esp. test_wholesale_death_path), re-verify "
        "the hint adjudication in operators/graph.py:_gr3_oracle, then "
        "bump this pin."
    )


class TestGr3OracleParity:
    def test_cliques_capped_and_dead_pair(self, spark, tmp_path):
        """Dup cliques (mult 3 and 5 survive at k=2; mult 2 is a bare
        edge that dies in round 0), a >DF_CAP hot group whose shingles
        are capped away (not graph nodes at all), and a <K_SHINGLE doc
        (no shingles)."""
        from reduction_dask_spark.operators.dedup import DF_CAP

        rows, doc_id = [], 0
        for text, mult in (
            ("alpha beta gamma delta epsilon zeta eta theta iota kappa", 3),
            ("one two three four five six seven eight nine ten", 5),
            ("lonely pair of duplicated documents that touch nothing else", 2),
            ("short doc", 4),
        ):
            for _ in range(mult):
                rows.append((doc_id, text, "en"))
                doc_id += 1
        hot = "hot boiler plate sentence repeated across the whole crawl forever"
        for _ in range(DF_CAP + 20):
            rows.append((doc_id, hot, "en"))
            doc_id += 1
        _write(tmp_path, {"documents": _docs(spark, rows)})
        sdf = assert_oracle_parity(spark, tmp_path, "gr3_kcore")
        # the mult-3 clique (deg 2) and mult-5 clique (deg 4) survive;
        # the pair, the short docs and the capped hot group do not
        assert len(sdf) == 8
        assert sorted(sdf.deg) == [2, 2, 2, 4, 4, 4, 4, 4]

    def test_wholesale_death_path(self, spark, tmp_path):
        """A jaccard path t-u-v: endpoints die in round 0, then u dies
        ALONE in round 1 — the recursion's last layer is {u}, and only
        the final deg>=k sweep turns that into the true empty core."""
        from reduction_dask_spark.operators.dedup import (
            JACCARD_TAU,
            K_SHINGLE,
            jaccard_pairs,
            shingle_table_of,
        )

        n = 20
        s = n - K_SHINGLE + 1
        j = next(
            jj
            for jj in range(1, s)
            if (s - jj) / (s + jj) >= JACCARD_TAU
            and (s - jj - 1) / (s + jj + 1) < JACCARD_TAU
        )
        base = [f"tok{i}" for i in range(n)]
        t = " ".join(base)
        u = " ".join(base[:-1] + ["endX"])
        v = " ".join([f"alt{i}" for i in range(j)] + base[j:-1] + ["endX"])
        rows = [(0, t, "en"), (1, u, "en"), (2, v, "en"),
                (3, "totally unrelated filler words nothing shared here at all", "en")]
        d = _docs(spark, rows)
        got_pairs = sorted(
            (r.doc_a, r.doc_b)
            for r in jaccard_pairs(shingle_table_of(d), JACCARD_TAU).collect()
        )
        assert got_pairs == [(0, 1), (1, 2)]  # a genuine path, no chord
        _write(tmp_path, {"documents": d})
        sdf = assert_oracle_parity(spark, tmp_path, "gr3_kcore")
        assert len(sdf) == 0


# ---------------------------------------------------------------- iso1

class TestIso1OracleParity:
    def test_mixed_labels_on_tied_scores(self, spark, tmp_path):
        """Identical texts (= identical scores) carrying DIFFERENT
        langs: MLlib tie-aggregates them to a fractional weighted
        label before PAV — the K/N-rational merge path."""
        texts = [
            "a the a the a the",                       # stopword-heavy
            "alpha beta gamma delta epsilon zeta",     # diverse
            "alpha alpha alpha alpha",                 # repetitive
            "one two three four five six seven eight nine ten eleven"
            " twelve thirteen fourteen",               # long
            "a b",                                     # short
        ]
        rows, doc_id = [], 0
        # per text: a mixed bag of en/xx so tie-aggregated labels are
        # fractions like 2/3, and pool merges are forced by making
        # higher scores carry LOWER label means
        langs = [
            ["en", "en", "xx"],
            ["en", "xx", "xx"],
            ["xx", "en"],
            ["xx", "xx", "xx"],
            ["en"],
        ]
        for text, ls in zip(texts, langs):
            for lang in ls:
                rows.append((doc_id, text, lang))
                doc_id += 1
        _write(tmp_path, {"documents": _docs(spark, rows)})
        sdf = assert_oracle_parity(spark, tmp_path, "iso1_isotonic_calibration")
        assert len(sdf) >= 2
        assert (sdf.calibrated.diff().dropna() >= 0).all()

    def test_constant_label_single_pool(self, spark, tmp_path):
        rows = [
            (i, t, "en")
            for i, t in enumerate(
                [
                    "alpha beta gamma delta",
                    "one two three four five six",
                    "a the a the",
                    "unique words everywhere around",
                ]
            )
        ]
        _write(tmp_path, {"documents": _docs(spark, rows)})
        sdf = assert_oracle_parity(spark, tmp_path, "iso1_isotonic_calibration")
        # one global pool at 1.0 -> exactly first+last boundary rows
        assert len(sdf) == 2
        assert set(sdf.calibrated) == {1.0}

    def test_dyadic_half_pool_mean_rounds_identically(self, spark, tmp_path):
        """Pool mean 1/128 = 0.0078125 ends on an EXACT decimal half at
        6 places: python round() (half-to-even) says 0.007812, DuckDB
        round() (half-away) says 0.007813. iso1 must round via F.round
        (HALF_UP, = DuckDB) — this corpus would catch a regression to
        python-side rounding."""
        rows = [(i, "alpha beta gamma delta", "en" if i == 0 else "xx")
                for i in range(128)]
        _write(tmp_path, {"documents": _docs(spark, rows)})
        sdf = assert_oracle_parity(spark, tmp_path, "iso1_isotonic_calibration")
        assert list(sdf.calibrated) == [0.007813]

    def test_single_distinct_score(self, spark, tmp_path):
        rows = [(0, "alpha beta gamma delta", "en"),
                (1, "alpha beta gamma delta", "xx")]
        _write(tmp_path, {"documents": _docs(spark, rows)})
        sdf = assert_oracle_parity(spark, tmp_path, "iso1_isotonic_calibration")
        assert len(sdf) == 1
        assert list(sdf.calibrated) == [0.5]


# ---------------------------------------------------------------- mm3

class TestMm3OracleParity:
    def test_frame_boundaries_and_multibyte(self, spark, tmp_path):
        """Byte-slice frames at every boundary class: empty payload
        (no frames at all — the doc vanishes from the output), shorter
        than one frame (one partial frame), exactly one/two frame
        strides (no empty trailing frame — i*64 < nb must be strict),
        a stride+1 payload (1-byte trailing frame), a long payload
        (N_FRAMES cap binds), and multibyte UTF-8 whose codepoints
        STRADDLE the 64-byte frame boundary (the hex slice is
        byte-exact even mid-codepoint). doc_id % 3 == 2 selects video."""
        rows = [
            (2, "", "en"),                       # nb=0: zero frames
            (5, "x" * 10, "en"),                 # partial first frame
            (8, "y" * 64, "en"),                 # exactly one stride
            (11, "z" * 128, "en"),               # exactly two strides
            (14, "w" * 129, "en"),               # 1-byte third frame
            (17, "v" * 500, "en"),               # N_FRAMES cap (4)
            (20, "é" * 63, "en"),                # 126 bytes, boundary mid-codepoint
            (23, "数据" * 40, "en"),              # 3-byte codepoints across frames
            (1, "not a video row " * 10, "en"),  # audio: excluded
        ]
        _write(tmp_path, {"documents": _docs(spark, rows)})
        sdf = assert_oracle_parity(spark, tmp_path, "mm3_frame_sample")
        got = {(r.doc_id, r.frame_idx): r.frame_hex for r in sdf.itertuples()}
        assert 2 not in {d for d, _ in got}          # empty payload: no rows
        assert 1 not in {d for d, _ in got}          # non-video excluded
        assert len([k for k in got if k[0] == 5]) == 1
        assert len([k for k in got if k[0] == 8]) == 1    # no empty 2nd frame
        assert len([k for k in got if k[0] == 11]) == 2
        assert len([k for k in got if k[0] == 14]) == 3
        assert got[(14, 2)] == "77"                  # the 1-byte tail frame
        assert len([k for k in got if k[0] == 17]) == 4   # cap binds
        # frames re-concatenate to the payload prefix, mid-codepoint cuts included
        payload = ("é" * 63).encode("utf-8").hex().upper()
        joined = "".join(got[(20, i)] for i in range(2))
        assert joined == payload[: len(joined)] and len(got[(20, 0)]) == 128


# ---------------------------------------------------------------- mm4

class TestMm4OracleParity:
    def test_resize_branches_and_endpoint(self, spark, tmp_path):
        """Both resize branches and the linspace endpoint pin: empty
        payload (small branch, empty thumb), 1 byte, exactly
        THUMB_BYTES (small branch keeps all bytes), THUMB_BYTES+1
        (first strided subsample — the k=31 endpoint CASE must pick
        byte nb-1 exactly), a long payload, and multibyte UTF-8.
        doc_id % 3 == 0 selects image."""
        rows = [
            (0, "", "en"),                       # nb=0: empty thumb
            (3, "a", "en"),                      # single byte
            (6, "b" * 32, "en"),                 # exactly THUMB_BYTES
            (9, "c" * 33, "en"),                 # first strided case
            (12, "d" * 200 + "Z", "en"),         # endpoint must be 'Z'
            (15, "é" * 100, "en"),               # 200 bytes multibyte
            (2, "not an image row " * 5, "en"),  # video: excluded
        ]
        _write(tmp_path, {"documents": _docs(spark, rows)})
        sdf = assert_oracle_parity(spark, tmp_path, "mm4_resize_thumbnail")
        got = {r.doc_id: r for r in sdf.itertuples()}
        assert set(got) == {0, 3, 6, 9, 12, 15}
        assert got[0].thumb_hex == "" and got[0].thumb_bytes == 0
        assert got[3].thumb_hex == "61" and got[3].thumb_bytes == 1
        assert got[6].thumb_hex == ("62" * 32) and got[6].thumb_bytes == 32
        assert got[9].thumb_bytes == 32 and got[9].orig_bytes == 33
        # linspace pins y[-1] = stop: the last sampled byte is the
        # payload's LAST byte, not the truncation of 31*(nb-1)/31
        assert got[12].thumb_hex[-2:] == "5A"    # 'Z'
        assert got[12].thumb_bytes == 32 and got[12].orig_bytes == 201


# ---------------------------------------------------------------- mm2

class TestMm2OracleParity:
    def test_batch_decoder_bit_parity(self):
        """The r16 vectorized whole-batch decoder must reproduce the
        scalar _fake_decode BIT-exactly: same integer counts (high
        nibble == np.histogram's 16-bin assignment for every byte
        value 0..255), same float64 division, same unnormalized zeros
        for empty payloads."""
        import numpy as np
        import pandas as pd

        from reduction_dask_spark.operators.multimodal import (
            _fake_decode,
            _fake_decode_batch,
        )

        payloads = [
            b"",                                # unnormalized zeros
            bytes(range(256)),                  # every bin boundary
            b"\x00", b"\x0f", b"\x10", b"\xff", # bin-edge singletons
            "é数据\U0001f600".encode(),          # multibyte UTF-8
            bytes((i * 37) % 256 for i in range(1000)),
        ]
        batch = _fake_decode_batch(pd.Series(payloads))
        for i, p in enumerate(payloads):
            assert np.array_equal(batch[i], _fake_decode(p)), i
        # all-empty batch: the concatenated-buffer branch is skipped
        assert np.array_equal(
            _fake_decode_batch(pd.Series([b"", b""])), np.zeros((2, 16))
        )

    def test_byte_classes(self, spark, tmp_path):
        rows = [
            (0, "", "en"),                      # empty payload: zeros
            (1, "hello world", "en"),           # plain ASCII
            (2, "héllo wörld ÿ", "en"),    # 2-byte UTF-8 (>0x7f)
            (3, "数据 管道 \U0001f600", "en"),    # 3- and 4-byte UTF-8
            (4, "\t\n !~", "en"),               # low-bin control bytes
        ]
        _write(tmp_path, {"documents": _docs(spark, rows)})
        sdf = assert_oracle_parity(spark, tmp_path, "mm2_feature_extract")
        assert len(sdf) == 5
        fcols = [f"f{i}" for i in range(16)]
        feats = {r.doc_id: [getattr(r, c) for c in fcols] for r in sdf.itertuples()}
        assert feats[0] == [0.0] * 16          # histogram of nothing
        assert all(abs(sum(v) - 1.0) < 1e-12 for k, v in feats.items() if k)


# ---------------------------------------------------------------- mm6

class TestMm6OracleParity:
    def test_end_to_end_alignment(self, spark, tmp_path):
        docs = _docs(
            spark,
            [
                (i, t, "en")
                for i, t in enumerate(
                    [
                        "alpha beta gamma delta epsilon",
                        "one two three four five six seven",
                        "hello world again and again",
                        "数据 管道 multibyte mix",
                        "a the a the a",
                        "totally different content here",
                        # empty payload (r15 ADVICE): all-zero mm2
                        # feature vector -> zero-norm cos. Without the
                        # NULL-guard Spark would NaN (0/0) and poison
                        # the corpus moments while DuckDB NULLed the
                        # division and SKIPPED the row in avg/stddev —
                        # this row pins the guarded parity.
                        "",
                    ]
                )
            ],
        )
        emb_rows = [
            (i, [((i * 31 + k * 7) % 13 - 6) / 5.0 for k in range(64)])
            for i in range(7)
        ]
        emb = spark.createDataFrame(
            emb_rows, "vec_id long, embedding array<float>"
        )
        _write(tmp_path, {"documents": docs, "embeddings": emb})
        sdf = assert_oracle_parity(spark, tmp_path, "mm6_crossmodal_alignment")
        assert len(sdf) == 7
        by_id = sdf.set_index("doc_id")
        # the empty-text doc surfaces with NULL align_z/keep (not NaN
        # moments corrupting every OTHER row) in both engines
        assert by_id.loc[6].isna().all()
        ok = sdf[sdf.doc_id != 6]
        assert ok.keep.isin([True, False]).all() and ok.align_z.notna().all()
