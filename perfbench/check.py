"""Output checks, run once per query per run, outside the timed region.

Queries with a DuckDB oracle are compared with it on the same input
files after ``tools.compare.canon`` normalisation: same columns, row
count and dtypes, non-float values equal, float values equal within
``FLOAT_RTOL``.  Queries without one (rows-only) get a structural check
of their own and a digest in the run's info line; a query that has
neither counts as failed, so no output goes unchecked.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import numpy as np
import pandas as pd

# Both engines round float sums to cents, but the sum before rounding
# depends on each engine's summation order: on the ×10 replica a sum
# lying near a half cent rounds one cent apart (j4_star_broadcast, one
# value in 25 on some seeds).  A cent on a 1e9 sum is 1e-11 of it, so
# floats match within a relative 1e-9: above such rounding flips, far
# below what a lost row or a wrong join changes.
FLOAT_RTOL = 1e-9

# Rows-only results are summarised by a digest of their values rounded
# to this many decimals, so two runs on the same seed can be compared
# without tripping over the last bits of a float sum.
DIGEST_DECIMALS = 9


def oracle_connection(data_dir: Path, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = data_dir / f"{t}.parquet"
        src = f"{path}/*.parquet" if path.is_dir() else str(path)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def digest(pdf: pd.DataFrame) -> str:
    rounded = pdf[sorted(pdf.columns)].copy()
    for c in rounded.columns:
        if pd.api.types.is_float_dtype(rounded[c]):
            rounded[c] = rounded[c].round(DIGEST_DECIMALS)
    rows = sorted(map(repr, rounded.itertuples(index=False, name=None)))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def _cv(pdf: pd.DataFrame) -> list[str]:
    """t2 summarises k-fold CV of a ridge model as one row.  The target
    plants a linear signal on eight features (``ml.supervised_frame``),
    so the held-out era-wise Spearman correlation must be clearly
    positive and its quartiles ordered."""
    errs = []
    if len(pdf) != 1:
        return [f"rows: {len(pdf)} != 1"]
    row = pdf.iloc[0]
    if not np.isfinite(row.to_numpy(dtype=float)).all():
        errs.append(f"non-finite value in {row.to_dict()}")
    elif not row["spearman_q25"] <= row["spearman_q75"]:
        errs.append(f"quartiles out of order: {row.to_dict()}")
    elif not row["spearman_mean"] > 0.1:
        errs.append(f"no held-out signal: spearman_mean={row['spearman_mean']}")
    return errs


ROWS_ONLY = {"t2_kfold_cv_eval": _cv}


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    from tools.compare import canon

    if sorted(got.columns) != sorted(want.columns):
        return [f"columns: {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"row count: {len(got)} != {len(want)}"]
    g, w = canon(got), canon(want)
    errs = []
    for c in g.columns:
        if str(g[c].dtype) != str(w[c].dtype):
            errs.append(f"dtype[{c}]: {g[c].dtype} != {w[c].dtype}")
            continue
        a, b = g[c].to_numpy(), w[c].to_numpy()
        if pd.api.types.is_float_dtype(g[c]):
            bad = ~np.isclose(a, b, rtol=FLOAT_RTOL, atol=0.0, equal_nan=True)
        else:
            bad = ~(g[c].eq(w[c]) | (g[c].isna() & w[c].isna())).to_numpy()
        if bad.any():
            i = int(np.argmax(bad))
            errs.append(f"value[{c}] {int(bad.sum())} diffs, first at row {i}: {a[i]!r} != {b[i]!r}")
    return errs


def check(name: str, pdf: pd.DataFrame, oracles: dict[str, str], con) -> list[str]:
    """Errors found in query ``name``'s result ``pdf`` (empty if correct)."""
    if name in oracles:
        return compare(pdf, con.execute(oracles[name]).fetchdf())
    if name in ROWS_ONLY:
        return ROWS_ONLY[name](pdf)
    return [f"{name}: no oracle and no rows-only check"]
