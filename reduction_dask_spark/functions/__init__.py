"""Portable expression helpers: each helper has a Spark Column form and
an SQL-text form that evaluates *identically* in Spark SQL and DuckDB.

Why: the driver's correctness gate compares a Spark result against a
DuckDB oracle by value hash. Engine-native `rand()`, `hash()`,
`sample()` and approximate aggregates differ across engines (and, for
Spark's rand, across partitionings/retries — SURVEY.md §4 determinism
rule). All pseudo-randomness is therefore derived from:

- ``phash(key)``  — Knuth multiplicative hash on an integer key,
  pure int64 arithmetic. The key is reduced mod the target first
  (congruent, so values are identical), which keeps the product under
  2^63 for ANY int64 key — Spark 4's ANSI mode turns overflow into a
  runtime error, so this must hold at corpus-scale key ranges.
- ``md5i(expr)``  — first 8 hex chars of md5 of a string, as a bigint.
  Both engines implement RFC-1321 md5 → identical everywhere.

Float aggregates whose summation order is engine-dependent are rounded
(``round(x, n)``) in BOTH engines before comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F
from pyspark.sql.window import Window

KNUTH = 2654435761  # Knuth's multiplicative hash constant (2^32 * phi)


# ---------- portable integer hash (Spark Column / SQL text) ----------

def phash(col: Column | str, mod: int) -> Column:
    # (key % mod) * KNUTH % mod ≡ key * KNUTH % mod, but the product is
    # bounded by (mod-1)*KNUTH — overflow-free for mod < ~3.4e9 instead
    # of key < ~3.4e9 (ANSI mode makes int64 overflow a runtime error).
    assert mod < 3_400_000_000, "phash mod too large for overflow-free int64"
    c = F.col(col) if isinstance(col, str) else col
    return ((c % F.lit(mod)) * F.lit(KNUTH)) % F.lit(mod)


def phash_sql(expr: str, mod: int) -> str:
    return f"((({expr}) % {mod}) * {KNUTH}) % {mod}"


# ---------- portable string hash ----------

def md5i(col: Column | str) -> Column:
    """First 32 bits of md5(expr) as a non-negative bigint."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("bigint")


def md5i_sql(expr: str) -> str:
    return f"(('0x' || substring(md5(CAST(({expr}) AS VARCHAR)), 1, 8))::BIGINT)"


def md5h60(col: Column | str) -> Column:
    """First 60 bits of md5(expr) as a non-negative bigint — the
    portable content-key hash: wide enough that collisions are
    negligible at corpus scale, and identical in DuckDB (md5h60_sql),
    so even a collision would collide in BOTH engines."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("bigint")


def md5h60_sql(expr: str) -> str:
    return f"(('0x' || substring(md5(CAST(({expr}) AS VARCHAR)), 1, 15))::BIGINT)"


# ---------- era derivation (the reference's time bucket) ----------
# Reference: era is a static int time bucket ("eras represent a unit of
# time", /root/reference/utils.py:18). Driver data carries real
# timestamps; the canonical mapping (FIXTURES.md §3) is a calendar
# bucket. events span one month → day-of-month; orders span years →
# year*12+month.

def era_events(ts: Column | str = "ts") -> Column:
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.dayofmonth(c).cast("int")


ERA_EVENTS_SQL = "CAST(day(ts) AS INTEGER)"


def era_orders(ts: Column | str = "o_orderdate") -> Column:
    c = F.col(ts) if isinstance(ts, str) else ts
    return (F.year(c) * 12 + F.month(c)).cast("int")


ERA_ORDERS_SQL = "CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INTEGER)"


# ---------- synthetic prediction column ----------
# The reference scores (y_true, y_pred) pairs produced by a fitted
# model (metrics.py:34-42). For oracle-checked metric queries the
# "prediction" must be a deterministic portable expression: true value
# plus hash-noise (FIXTURES.md §3).

def pred_events(value: str = "value", key: str = "event_id") -> Column:
    return F.col(value) + phash(key, 1000) / F.lit(1000.0) - F.lit(0.5)


PRED_EVENTS_SQL = f"(value + {phash_sql('event_id', 1000)} / 1000.0 - 0.5)"


# ---------- misc ----------

def clip(col: Column, lo: float, hi: float) -> Column:
    """P10 / M4 clamp (utils.py:51-55)."""
    return F.least(F.lit(hi), F.greatest(F.lit(lo), col))


def corr_safe(x: Column | str, y: Column | str) -> Column:
    """Sample Pearson correlation that returns NULL on zero variance.

    Spark 4 runs ANSI mode by default and the built-in `corr` THROWS
    DIVIDE_BY_ZERO when either side is constant; covar/stddev with
    try_divide reproduces corr's value exactly and degrades to NULL
    (matching DuckDB's corr and the reference's np.corrcoef nan).
    """
    cx = F.col(x) if isinstance(x, str) else x
    cy = F.col(y) if isinstance(y, str) else y
    return F.try_divide(F.covar_samp(cx, cy), F.stddev_samp(cx) * F.stddev_samp(cy))


def pct_rank_first(partition: list[str], value: str, tiebreak: str) -> Column:
    """W1: pandas ``rank(pct=True, method="first")`` within each
    ``partition`` group — the one era-rank rule of every era-Spearman
    score (m1, m1b, w1 and the CV scores of ml.score_by_group).

    method="first" = ties broken by original position; Spark equivalent
    is row_number over (value, stable-key) divided by the group size
    (metrics.py:19 — SURVEY.md §4 "Anticipated custom pieces" #2).
    """
    w = Window.partitionBy(*partition).orderBy(F.asc(value), F.asc(tiebreak))
    cnt = Window.partitionBy(*partition)
    return F.row_number().over(w).cast("double") / F.count("*").over(cnt).cast("double")


# ---------- portable inverse normal CDF (probit) ----------
#
# Acklam's rational approximation (public; |relative error| < 1.15e-9)
# expressed as PURE ARITHMETIC over the same literal coefficients in
# both engines — log/sqrt aside, the op sequence is identical, so the
# rank-gauss transform (p14) stays exact under round(6).

_ACK_A = (-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
          1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00)
_ACK_B = (-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
          6.680131188771972e+01, -1.328068155288572e+01)
_ACK_C = (-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
          -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00)
_ACK_D = (7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
          3.754408661907416e+00)
ACK_P_LOW = 0.02425


def _lit17(x: float) -> str:
    # scientific notation parses as DOUBLE in DuckDB; a plain decimal
    # literal would parse as DECIMAL and overflow its scale in the
    # Horner chains
    return f"{x:.17e}"


def _horner(coefs, var_fmt, wrap):
    expr = _lit17(coefs[0])
    for c in coefs[1:]:
        expr = f"({expr} * {var_fmt} + {_lit17(c)})"
    return wrap(expr)


def probit_sql(p: str) -> str:
    """Acklam probit as a DuckDB SQL expression over probability `p`
    (0 < p < 1)."""
    qc = f"(({p}) - 5.0e-1)"
    rc = f"({qc} * {qc})"
    num_c = _horner(_ACK_A, rc, lambda e: e)
    den_c = _horner(_ACK_B, rc, lambda e: f"({e} * {rc} + 1.0e0)")
    central = f"(({num_c}) * {qc} / {den_c})"
    ql = f"sqrt(-2.0e0 * ln({p}))"
    num_l = _horner(_ACK_C, "__q__", lambda e: e)
    den_l = _horner(_ACK_D, "__q__", lambda e: f"({e} * __q__ + 1.0e0)")
    low = f"(({num_l}) / {den_l})".replace("__q__", ql)
    qh = f"sqrt(-2.0e0 * ln(1.0e0 - ({p})))"
    high = f"(-(({num_l}) / {den_l}))".replace("__q__", qh)
    return (f"CASE WHEN ({p}) < {_lit17(ACK_P_LOW)} THEN {low} "
            f"WHEN ({p}) > {_lit17(1.0 - ACK_P_LOW)} THEN {high} "
            f"ELSE {central} END")


def probit(p: Column) -> Column:
    """Acklam probit as a Spark Column — the same literal coefficients
    and op order as probit_sql."""
    q = p - F.lit(0.5)
    r = q * q

    def horner(coefs, v):
        e = F.lit(coefs[0])
        for c in coefs[1:]:
            e = e * v + F.lit(c)
        return e

    central = horner(_ACK_A, r) * q / (horner(_ACK_B, r) * r + F.lit(1.0))
    ql = F.sqrt(F.lit(-2.0) * F.log(p))
    low = horner(_ACK_C, ql) / (horner(_ACK_D, ql) * ql + F.lit(1.0))
    qh = F.sqrt(F.lit(-2.0) * F.log(F.lit(1.0) - p))
    high = -(horner(_ACK_C, qh) / (horner(_ACK_D, qh) * qh + F.lit(1.0)))
    return (
        F.when(p < ACK_P_LOW, low)
        .when(p > 1.0 - ACK_P_LOW, high)
        .otherwise(central)
    )
