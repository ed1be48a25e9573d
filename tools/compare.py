"""Local stand-in for the driver's t2 correctness gate.

Runs every registered query on Spark and its DuckDB oracle on the same
parquet tables, then compares row count, schema (names + dtype kinds)
and values (columns sorted by name, rows sorted by all columns,
requiring EXACT equality — stricter than any value-hash the driver
could use, so passing here implies passing there).

Usage: python tools/compare.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            dt = df[c]
            if getattr(dt.dtype, "tz", None) is not None:
                dt = dt.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = dt.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            # binary columns: Spark's toPandas yields bytearray (unhashable
            # — sort_values factorization crashes), DuckDB yields bytes;
            # normalize both to bytes so binary oracles compare (r15, mm3).
            # array columns: Spark yields ndarray/list, DuckDB ndarray —
            # normalize to tuples so array-valued oracles sort/compare
            # (r15, mm2); float elements become their repr strings so
            # identical NaNs compare equal (NaN != NaN would otherwise
            # fail every such row) and tuple sorting never sees NaN's
            # incoherent ordering. repr round-trips doubles exactly, so
            # this stays bit-strict.
            def _cell(v):
                if isinstance(v, (bytearray, memoryview)):
                    return bytes(v)
                if isinstance(v, (list, np.ndarray)):
                    return tuple(
                        repr(float(x))
                        if isinstance(x, (float, np.floating))
                        else x
                        for x in v
                    )
                return v

            df[c] = df[c].map(_cell)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def rows_digest(df: pd.DataFrame) -> str:
    """md5 of a result's canonical rows (:func:`canon`: columns and
    rows sorted, dtypes normalized): the pin of a rows-only query's
    output in ROWS_DIGEST.json."""
    return hashlib.md5(canon(df).to_csv(index=False).encode()).hexdigest()


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    errs: list[str] = []
    if len(spark_pdf) != len(duck_pdf):
        errs.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        errs.append(f"columns: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return errs
    s, d = canon(spark_pdf), canon(duck_pdf)
    for c in s.columns:
        if str(s[c].dtype) != str(d[c].dtype):
            errs.append(f"dtype[{c}]: spark={s[c].dtype} duck={d[c].dtype}")
    if errs:
        return errs
    if len(s) != len(d):
        return errs
    for c in s.columns:
        a, b = s[c].to_numpy(), d[c].to_numpy()
        if pd.api.types.is_float_dtype(s[c]):
            bad = ~((a == b) | (np.isnan(a) & np.isnan(b)))
        else:
            bad = ~(pd.Series(a).eq(pd.Series(b)) | (pd.Series(a).isna() & pd.Series(b).isna())).to_numpy()
        if bad.any():
            i = int(np.argmax(bad))
            errs.append(f"value[{c}] {int(bad.sum())} diffs, first at row {i}: spark={a[i]!r} duck={b[i]!r}")
    return errs


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--vanilla"]
    vanilla = "--vanilla" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import __spark_entry__ as e

    if vanilla:
        # driver-shaped session: bare local[N] builder, none of
        # get_spark's confs — proves each query passes in the session
        # the driver actually builds (ensure_engine_confs at the
        # source layer is the only thing allowed to touch confs)
        from pyspark.sql import SparkSession

        from reduction_dask_spark.session import default_cpus, driver_memory

        spark = (
            SparkSession.builder.master(f"local[{default_cpus()}]")
            .appName("compare-vanilla")
            .config("spark.driver.memory", driver_memory())
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("WARN")
    else:
        from reduction_dask_spark.session import get_spark

        spark = get_spark("compare")
    from reduction_dask_spark.sources import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    n_pass = n_fail = n_noracle = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            n_fail += 1
            continue
        finally:
            # queries persist() intermediates for intra-plan reuse;
            # drop them so caches don't accumulate across the whole registry
            from reduction_dask_spark.caching import release_pinned
            release_pinned()  # drop operator-pinned persists with the SQL caches

            spark.catalog.clearCache()
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only: {len(sdf)} rows, {time.time()-t0:.1f}s)")
            n_noracle += 1
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            n_fail += 1
            continue
        errs = compare(name, sdf, ddf)
        if errs:
            n_fail += 1
            print(f"FAIL {name} ({time.time()-t0:.1f}s)")
            for er in errs:
                print(f"     {er}")
        else:
            n_pass += 1
            print(f"PASS {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
