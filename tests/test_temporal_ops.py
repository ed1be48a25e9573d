"""Invariants for scd2 (type-2 history), an3 (transition matrix) and
ts5 (CUSUM over daily means)."""

from __future__ import annotations

from collections import defaultdict

from reduction_dask_spark.operators.temporal import (
    an3_event_transitions,
    scd2_type2_history,
)

from .conftest import SF_SMALL
from .parity_util import assert_oracle_parity, duck_views


def test_scd2_intervals_contiguous_and_versioned(spark):
    rows = scd2_type2_history(spark, SF_SMALL).collect()
    assert rows
    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    for user, ivs in by_user.items():
        ivs.sort(key=lambda r: r["version"])
        # versions are 1..n dense
        assert [r["version"] for r in ivs] == list(range(1, len(ivs) + 1))
        # exactly one open (current) interval, and it is the last
        assert [r["is_current"] for r in ivs] == [0] * (len(ivs) - 1) + [1]
        # intervals chain: valid_to == next valid_from, no overlap/gap
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["valid_from"] < a["valid_to"]
        # consecutive statuses differ (no-op updates compressed)
        for a, b in zip(ivs, ivs[1:]):
            assert a["status"] != b["status"]


def test_an3_rows_are_probabilities(spark):
    rows = an3_event_transitions(spark, SF_SMALL).collect()
    assert rows
    by_from = defaultdict(float)
    for r in rows:
        assert r["n"] >= 1
        assert 0.0 < r["p"] <= 1.0
        by_from[r["from_type"]] += r["p"]
    for tot in by_from.values():
        assert abs(tot - 1.0) < 1e-4  # rounding to 6dp per row


def test_an6_markov_attribution_hand_solved(spark, tmp_path):
    """Hand-solvable absorbing chain: u1 view→click→purchase,
    u2 view→(no purchase), u3 click→purchase.
    P(conv)=2/3; removing view → 1/3 (RE 1/2); removing click → 0
    (RE 1); shares 1/3 and 2/3."""
    import datetime

    from reduction_dask_spark.operators.temporal import an6_markov_attribution

    t0 = datetime.datetime(2024, 1, 1)

    def ev(eid, uid, minute, etype):
        return (eid, t0 + datetime.timedelta(minutes=minute), uid, etype, 1.0)

    rows = [
        ev(1, 1, 0, "view"), ev(2, 1, 1, "click"), ev(3, 1, 2, "purchase"),
        ev(4, 2, 0, "view"),
        ev(5, 3, 0, "click"), ev(6, 3, 1, "purchase"),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {r["channel"]: r for r in an6_markov_attribution(spark, str(tmp_path)).collect()}
    assert set(got) == {"view", "click"}
    assert abs(got["view"]["p_conv_base"] - 2 / 3) < 1e-6
    assert abs(got["view"]["removal_effect"] - 0.5) < 1e-6
    assert abs(got["click"]["removal_effect"] - 1.0) < 1e-6
    assert abs(got["view"]["attribution_share"] - 1 / 3) < 1e-6
    assert abs(got["click"]["attribution_share"] - 2 / 3) < 1e-6


def test_an6_share_invariants(spark):
    from reduction_dask_spark.operators.temporal import an6_markov_attribution

    rows = an6_markov_attribution(spark, SF_SMALL).collect()
    assert rows
    s = sum(r["attribution_share"] for r in rows)
    assert abs(s - 1.0) < 1e-4
    for r in rows:
        assert 0.0 <= r["removal_effect"] <= 1.0
        assert 0.0 <= r["attribution_share"] <= 1.0


def test_ts5_daily_mean_independent_of_row_split(spark, tmp_path):
    """The events ×12 replica has a day whose exact mean is a tie at the
    6th decimal, in 12 row groups that DuckDB sums on several threads;
    the rounded daily mean must not depend on that split."""
    from reduction_dask_spark.registry import REGISTRY
    from tools.scale_probe import replicate

    sf_dir = str(tmp_path / "events12")
    replicate(SF_SMALL, sf_dir, 12, ["events"])
    assert_oracle_parity(spark, sf_dir, "ts5_cusum_changepoint")
    oracle = REGISTRY["ts5_cusum_changepoint"].oracle
    runs = []
    for threads in (1, 4):
        con = duck_views(sf_dir)
        con.execute(f"SET threads = {threads}")
        runs.append(sorted(con.execute(oracle).fetchall()))
    assert runs[0] == runs[1]
