"""Scale-correctness evidence where the caps FIRE (r8/r9 verdict
carry-item): all regular oracle runs happen at sf0.01/sf0.001 where
DF_CAP (shingle document frequency), ES_ANCHOR_CAP (hot anchors) and
ES_EXEMPT_CAP (benchmark-exempt anchor fan-out) never bind, so their
deterministic-truncation semantics were wall-clocked but never
value-checked. These tests build corpora where each cap DEMONSTRABLY
binds (asserted, not assumed), then require exact Spark↔DuckDB value
equality through tools/compare's canonicalizer — the same comparator
as the sf0.01 gate, pointed at cap-firing inputs:

* a planted corpus with a >DF_CAP boilerplate shingle, a >ES_ANCHOR_CAP
  quoted benchmark passage, and >ES_EXEMPT_CAP exempt-anchor fan-out;
* a ×12-replica corpus (every sf0.001 document cloned 12× under
  key-shifted ids, as tools/replica_gate.py builds it) where
  df-multiplication pushes real shingles over DF_CAP — the replica
  sweep SCALING.md previously only wall-clocked.
"""

from __future__ import annotations

import pandas as pd
import pytest

from .conftest import SF_SMALL
from .parity_util import assert_oracle_parity, duck_views, run_query

# registered names compared on each corpus (the dedup/decontam family
# whose semantics the caps govern)
PLANTED_QUERIES = (
    "dd1_exact_dedup",
    "dd2_shingle_jaccard",
    "dd3_minhash_lsh_dedup",
    "dc1_benchmark_decontam",
    "dc3_span_decontam",
    "dd11_exact_substring_spans",
    "dd12_incremental_dedup",
    "dd13_two_tier_dedup",
)
REPLICA_QUERIES = (
    "dd1_exact_dedup",
    "dd3_minhash_lsh_dedup",
    "dd10_prefix_filter_pairs",
    "dc1_benchmark_decontam",
    "dd12_incremental_dedup",
    "dd13_two_tier_dedup",
)


def _write_documents(path: str, rows: list[tuple[int, str]]) -> None:
    pd.DataFrame(
        {
            "doc_id": pd.Series([r[0] for r in rows], dtype="int64"),
            "text": [r[1] for r in rows],
            "lang": "en",
            "source": "planted",
            "n_chars": pd.Series([len(r[1]) for r in rows], dtype="int64"),
        }
    ).to_parquet(f"{path}/documents.parquet", index=False)


@pytest.fixture(scope="module")
def planted_dir(tmp_path_factory):
    """Corpus where every cap binds:

    * 120 docs (> DF_CAP=100) share the boilerplate trigram
      'bp0 bp1 bp2' → its shingle df crosses the cap and is dropped
      from the inverted index;
    * one genuine near-dup pair (X, Y) that must SURVIVE the cap;
    * a 20-token benchmark passage (doc 97·12) quoted grid-aligned in
      1050 distinct hosts: each of its 4 aligned anchors sits in
      1050 > ES_ANCHOR_CAP=50 docs (hot, benchmark-exempt) and
      carries 1050 > ES_EXEMPT_CAP=1000 corpus (doc,pos) rows, so the
      exempt fan-out truncation fires — exactly 1000 hosts (the
      lowest doc_ids) stay detectable, identically in both engines.
    """
    from reduction_dask_spark.operators.dedup import BENCH_MOD

    rows: list[tuple[int, str]] = []
    used: set[int] = set()
    nid = 1

    def take(bench: bool = False) -> int:
        nonlocal nid
        while (nid % BENCH_MOD == 0) != bench or nid in used:
            nid += 1
        used.add(nid)
        v = nid
        nid += 1
        return v

    # boilerplate family: shared trigram + unique tails
    for i in range(120):
        rows.append((take(), f"bp0 bp1 bp2 u{i}a u{i}b u{i}c u{i}d u{i}e"))
    # the surviving near-dup pair: 20 shared tokens, one-token edit
    base = [f"nd{j}" for j in range(20)]
    rows.append((take(), " ".join(base)))
    rows.append((take(), " ".join(base[:-1] + ["ndX"])))
    # benchmark passage + 1050 hosts, quote grid-aligned (5-token pad)
    quote = [f"qq{j}" for j in range(20)]
    rows.append((12 * BENCH_MOD, " ".join(quote)))
    host_ids = []
    for i in range(1050):
        hid = take()
        host_ids.append(hid)
        rows.append(
            (hid, " ".join([f"h{i}p{k}" for k in range(5)] + quote
                           + [f"h{i}s{k}" for k in range(5)]))
        )
    path = tmp_path_factory.mktemp("capfire")
    _write_documents(str(path), rows)
    return str(path), sorted(host_ids)


def test_caps_actually_bind(planted_dir, spark):
    """The preconditions the equality runs rely on: non-empty hot
    lists at every cap. If the corpus stops binding a cap, this fails
    before the equality tests can silently pass vacuously."""
    from reduction_dask_spark.operators.dedup import (
        DF_CAP,
        ES_ANCHOR,
        ES_ANCHOR_CAP,
        ES_EXEMPT_CAP,
    )

    sf_dir, _ = planted_dir
    con = duck_views(sf_dir)
    n_hot_shingle = con.execute(f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        s AS (SELECT doc_id, unnest(list_distinct(
                  [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   for i in range(1, len(toks) - 1)])) AS g FROM t)
        SELECT count(*) FROM (SELECT g FROM s GROUP BY g HAVING count(*) > {DF_CAP})
    """).fetchone()[0]
    assert n_hot_shingle >= 1  # DF_CAP binds

    anchor_df = con.execute(f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
                   WHERE doc_id % 97 <> 0),
        a AS (SELECT doc_id,
                     array_to_string(toks[i * {ES_ANCHOR} + 1 : i * {ES_ANCHOR} + {ES_ANCHOR}], ' ') AS g
              FROM t, unnest(range(0, CAST(floor((len(toks) - {ES_ANCHOR}) / {ES_ANCHOR}) AS BIGINT) + 1)) AS u(i))
        SELECT max(df), max(nrows) FROM (
            SELECT g, count(DISTINCT doc_id) AS df, count(*) AS nrows
            FROM a GROUP BY g)
    """).fetchone()
    assert anchor_df[0] > ES_ANCHOR_CAP   # hot-anchor cap binds
    assert anchor_df[1] > ES_EXEMPT_CAP   # exempt fan-out cap binds


@pytest.mark.parametrize("name", PLANTED_QUERIES)
def test_planted_cap_corpus_value_equality(planted_dir, spark, name):
    sf_dir, _ = planted_dir
    assert_oracle_parity(spark, sf_dir, name)


def test_exempt_cap_truncation_is_deterministic(planted_dir, spark):
    """ES_EXEMPT_CAP keeps the first 1000 (doc_id, pos) rows per
    exempt anchor: with 1050 one-quote hosts, exactly the 1000
    lowest-id hosts are reported and the 50 highest are the
    documented residual blind spot — the truncation is a defined
    set, not an engine accident."""
    from reduction_dask_spark.operators.dedup import ES_EXEMPT_CAP

    sf_dir, host_ids = planted_dir
    got = run_query(spark, sf_dir, "dc3_span_decontam")
    detected = set(got.doc_id[got.match_len >= 20]) & set(host_ids)
    assert detected == set(host_ids[:ES_EXEMPT_CAP])


@pytest.fixture(scope="module")
def replica_dir(tmp_path_factory):
    """The sf0.001 documents ×12 under tools/replica_gate.py's
    key-shifted replicas (``scale_probe.replicate``) — the replica
    sweep SCALING.md wall-clocks, now value-checked. df-multiplication
    pushes real (non-planted) shingles over DF_CAP (max base df is 9,
    so ×12 → 108 > 100)."""
    from tools.scale_probe import replicate

    path = str(tmp_path_factory.mktemp("replica12") / "docs12")
    replicate(SF_SMALL, path, 12, ["documents"])
    return path


def test_replica_df_cap_binds(replica_dir):
    from reduction_dask_spark.operators.dedup import DF_CAP

    con = duck_views(replica_dir)
    n_hot = con.execute(f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        s AS (SELECT doc_id, unnest(list_distinct(
                  [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   for i in range(1, len(toks) - 1)])) AS g FROM t)
        SELECT count(*) FROM (SELECT g FROM s GROUP BY g HAVING count(*) > {DF_CAP})
    """).fetchone()[0]
    assert n_hot >= 1


@pytest.mark.parametrize("name", REPLICA_QUERIES)
def test_replica12_value_equality(replica_dir, spark, name):
    assert_oracle_parity(spark, replica_dir, name)
