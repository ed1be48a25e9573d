"""Ground truths for the round-9 additions — the r8 advisor fixes:
dc3 hot-anchor benchmark exemption, protoshim deletion-mutator
forwarding, cls2b degenerate-split AUC guard. (The pipe3/pipe4/dd13
compositions those fixes anticipated landed in round 10; their tests
live in test_round10_ops.py.)"""

from __future__ import annotations

import pytest


def test_dc3_widely_quoted_contamination_not_self_hiding(spark):
    """r8 advisor medium item: a benchmark passage quoted in MORE than
    ES_ANCHOR_CAP distinct (non-identical) corpus hosts previously had
    every grid anchor dropped by the boilerplate hot list — the most
    widely replicated contamination self-hid. With the benchmark
    exemption every host must be reported."""
    from reduction_dask_spark.operators.dedup import (
        BENCH_MOD,
        ES_ANCHOR_CAP,
        span_decontam_of,
    )

    quote = [f"q{i}" for i in range(20)]
    rows = [(BENCH_MOD, " ".join(quote))]
    aligned_hosts, unaligned_hosts = [], []
    hid = 1

    def next_id():
        nonlocal hid
        while hid % BENCH_MOD == 0:
            hid += 1
        v = hid
        hid += 1
        return v

    # ES_ANCHOR_CAP + 10 hosts, SAME pad length (20 — a multiple of
    # the anchor stride) so every host carries the identical four
    # grid-aligned quote anchors: their corpus df = 60 > cap = hot.
    # Pad tokens are host-unique so the hosts are non-identical (the
    # exact-duplicate collapse must NOT merge them — that mitigation
    # was explicitly insufficient per the advisory).
    for k in range(ES_ANCHOR_CAP + 10):
        pad_l = [f"h{k}l{i}" for i in range(20)]
        pad_r = [f"h{k}r{i}" for i in range(15)]
        i = next_id()
        rows.append((i, " ".join(pad_l + quote + pad_r)))
        aligned_hosts.append(i)
    # a few hosts at an UNALIGNED offset (pad 23): their aligned
    # anchors are rare (df = 3), never hot — these were detected even
    # before the fix and must stay detected
    for k in range(3):
        pad_l = [f"u{k}l{i}" for i in range(23)]
        pad_r = [f"u{k}r{i}" for i in range(10)]
        i = next_id()
        rows.append((i, " ".join(pad_l + quote + pad_r)))
        unaligned_hosts.append(i)
    clean = next_id()
    rows.append((clean, " ".join(f"c{i}" for i in range(40))))

    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = span_decontam_of(d).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)

    assert set(by_doc) == set(aligned_hosts) | set(unaligned_hosts)
    for i in aligned_hosts:
        (s,) = by_doc[i]
        assert (s["bench_id"], s["start_doc"], s["start_bench"], s["match_len"]) == (
            BENCH_MOD, 20, 0, 20,
        )
    for i in unaligned_hosts:
        (s,) = by_doc[i]
        assert (s["start_doc"], s["match_len"]) == (23, 20)


def test_protoshim_stale_handle_deletion_mutators():
    """r8 advisor item: pop/remove/clear/del/sort through a MERGED
    stale repeated-field handle must forward to the live container —
    deletions are part of the nothing-written-through-any-handle-is-
    dropped contract, not just appends."""
    import sys

    from reduction_dask_spark.streaming import _shim_root

    if _shim_root() not in sys.path:
        sys.path.insert(0, _shim_root())
    from google.protobuf._mini_runtime import (
        FieldDesc,
        MessageDesc,
        build_message_class,
    )

    reg: dict = {}
    child = MessageDesc()
    child.name = "C9"
    fx = FieldDesc(); fx.name = "xs"; fx.number = 1; fx.type = 3; fx.label = 3
    child.fields = [fx]
    C = build_message_class(child, reg, "pkg9")

    c = C()
    a = c.xs            # pre-materialization handle A
    c.xs.append(1)      # handle B goes live
    a.append(2)         # A merges into the live container
    a.extend([3, 4])
    assert sorted(c.xs) == [1, 2, 3, 4]

    # deletions through the stale handle reach the message
    a.remove(3)
    assert sorted(c.xs) == [1, 2, 4]
    popped = a.pop()
    assert popped == 4 and sorted(c.xs) == [1, 2]
    a.sort(reverse=True)
    assert list(c.xs) == [2, 1]
    del a[0]
    assert list(c.xs) == [1]
    a.reverse()
    a.clear()
    assert list(c.xs) == []
    rt = C()
    rt.ParseFromString(c.SerializeToString())
    assert list(rt.xs) == []

    # pre-materialization deletions behave like a plain empty list
    # and never create presence
    c2 = C()
    h = c2.xs
    with pytest.raises(IndexError):
        h.pop()
    h.clear()
    h.sort()
    assert "xs" not in c2._values


def test_cls2b_degenerate_single_class_split(spark):
    """r8 advisor item: a single-class held-out split has no defined
    rank-sum AUC — the readout must carry an explicit null with the
    class counts showing why, not a silent NaN."""
    from reduction_dask_spark.operators.text import classifier_readout_of

    scored = spark.createDataFrame(
        [(1, 0.9, 1), (2, 0.8, 1), (3, 0.2, 1)],
        "doc_id bigint, score double, label bigint",
    )
    rows = classifier_readout_of(scored).collect()
    assert rows
    for r in rows:
        assert r["auc"] is None
        assert r["npos"] == 3 and r["nneg"] == 0

    # sanity: a two-class split still yields the exact rank-sum AUC
    scored2 = spark.createDataFrame(
        [(1, 0.9, 1), (2, 0.8, 0), (3, 0.7, 1), (4, 0.1, 0)],
        "doc_id bigint, score double, label bigint",
    )
    rows2 = classifier_readout_of(scored2).collect()
    # pairs: (0.9,0.8)+, (0.9,0.1)+, (0.7,0.8)-, (0.7,0.1)+ => 3/4
    assert all(abs(r["auc"] - 0.75) < 1e-9 for r in rows2)
